package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.{MediaDedup, MediaVectorSearch}

/** Semantic invariants of the media → vector-store → ANN composition
  * (q153) that the oracle replay cannot check: the oracle proves both
  * engines agree on the mount's candidate policy + rerank; this pins
  * that the retrieval MEANS "the altered duplicate is found" — the
  * product arc the composition exists for. */
class MediaVectorSearchSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na > 0 && nb > 0) dot / math.sqrt(na * nb) else 0.0
  }

  test("centered features discriminate: copy ≈ 0.5, unrelated ≈ 0") {
    val feats = (0L until 40L).map(id => id ->
      MediaVectorSearch.imageFeature(
        MediaDedup.encodeBmp(MediaDedup.pixelsFor(id)))).toMap
    val copyCos = cos(feats(8L), feats(9L))
    val unrelated = (0L until 40L)
      .filter(i => i != 8L && i != 9L).map(i => cos(feats(8L), feats(i)))
    assert(copyCos > 0.4, f"source-copy correlation too weak: $copyCos%.3f")
    assert(unrelated.max < copyCos - 0.1,
      f"an unrelated image (${unrelated.max}%.3f) crowds the copy ($copyCos%.3f)")
  }

  test("q153 retrieves the retouched copy at rank 2 through the PQ mount") {
    val rows = MediaVectorSearch.q153(spark, dir).collect()
    assert(rows.length == 10)
    assert(rows(0).getString(1) == "8" && rows(0).getDouble(2) == 1.0,
      "rank 1 must be the query image itself")
    assert(rows(1).getString(1) == "9",
      s"rank 2 must be the planted copy, got ${rows(1).getString(1)}")
    // the copy stands clear of the unrelated field (the measured 2× margin)
    assert(rows(1).getDouble(2) > rows(2).getDouble(2) + 0.1,
      "copy does not stand clear of the nearest unrelated image")
  }

  test("mount results match exact brute-force cosine top-k on the features") {
    // the ADC cut proposes CandN=50 of 120 — on this corpus the exact
    // top-10 must survive it (recall@10 = 1.0 for the graded entry)
    val feats = (0L until MediaDedup.NImages.toLong).map(id => id ->
      MediaVectorSearch.imageFeature(
        MediaDedup.encodeBmp(MediaDedup.pixelsFor(id)))).toMap
    val q = feats(8L)
    val exact = feats.toSeq
      .map { case (id, v) => (id.toString, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }
      .take(10).map(_._1)
    val mount = MediaVectorSearch.q153(spark, dir).collect()
      .sortBy(_.getInt(0)).map(_.getString(1)).toSeq
    assert(mount == exact,
      s"mount top-10 $mount diverged from exact top-10 $exact")
  }

  test("q165 retrieves the transient-overlaid audio copy at rank 2 through the PQ mount") {
    val rows = MediaVectorSearch.q165(spark, dir).collect()
    assert(rows.length == 10)
    assert(rows(0).getString(1) == "8" && rows(0).getDouble(2) == 1.0)
    assert(rows(1).getString(1) == "9",
      s"rank 2 must be the planted transient copy, got ${rows(1).getString(1)}")
    assert(rows(1).getDouble(2) > rows(2).getDouble(2) + 0.1,
      "copy does not stand clear of the nearest unrelated profile")
  }

  test("q166 retrieves the tail-trimmed video re-encode at rank 2 through the HNSW mount") {
    val rows = MediaVectorSearch.q166(spark, dir).collect()
    assert(rows.length == 10)
    assert(rows(0).getString(1) == "1" && rows(0).getDouble(2) == 1.0)
    assert(rows(1).getString(1) == "4",
      s"rank 2 must be the tail-trimmed re-encode, got ${rows(1).getString(1)}")
    // trimming leaves the sampled-window energies intact up to sparse
    // +1 nudges: the copy is NEAR-IDENTICAL, not merely correlated
    assert(rows(1).getDouble(2) > 0.99,
      f"trimmed copy should sit at cos ~ 1.0, got ${rows(1).getDouble(2)}%.4f")
  }

  test("q167 funnel: stages monotone, dedup removes every plant, curated retrieval drops the duplicate") {
    val rows = MediaVectorSearch.q167(spark, dir).collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    assert(rows("corpus") == 360)
    // the fixture plants 12 image + 12 audio + 24 video copies; the
    // keep-canonical rule drops exactly the copy side of each pair
    assert(rows("media_dedup") == 312,
      s"dedup survivors ${rows("media_dedup")} != 312 (48 planted copies)")
    // budgeted prune: exactly FunnelPrune per modality
    assert(rows("outlier_prune") == 312 - 15)
    // the store holds exactly the funnel's survivors
    assert(rows("store_load") == rows("outlier_prune"))
    // the query image's planted duplicate (9) was removed at stage 1,
    // so the curated index must NOT surface it — the funnel's point
    assert(rows("retrieval_top_hit") != 9L,
      "curated retrieval still surfaces the removed duplicate")
  }

  test("q167 prune count: a thin leg loses all its rows, an empty leg counts 0") {
    // budget 5: a 3-row leg is pruned away entirely, not to -2
    assert(MediaVectorSearch.prunedCount(
      Map("im" -> 100L, "au" -> 3L, "vi" -> 50L)) == 95L + 0L + 45L)
    // an empty leg has no row in the grouped count
    assert(MediaVectorSearch.prunedCount(Map("im" -> 100L, "vi" -> 5L)) == 95L)
    assert(MediaVectorSearch.prunedCount(Map.empty) == 0L)
  }
}
