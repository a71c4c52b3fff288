package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32") // brief: local[32]
    val spark = GraftSession.local(cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // Local-iteration subset (comma-separated name prefixes); unset for
    // the driver's full run. Mirrors Bench's SPARK_GRAFT_BENCH_ONLY.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    val selected =
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only.exists(n.startsWith) }
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape — a tab or CR in builder-authored SQL would
    // otherwise make the driver's json.load fail and silently zero the
    // round's correctness.
    def q(s: String): String = JsonText.str(s)
    // A subset run must be self-describing: a stale SPARK_GRAFT_VERIFY_ONLY
    // in a driver environment would silently shrink the verification
    // surface — the "__only" marker (and the stderr warning) make a
    // partial oracle_sql.json distinguishable from a full one.
    val marker =
      if (only.isEmpty) Seq.empty
      else {
        System.err.println(
          s"[verify] PARTIAL RUN: SPARK_GRAFT_VERIFY_ONLY=${only.mkString(",")} " +
            s"selected ${selected.size}/${SparkEntry.queries.size} queries")
        Seq(s"${q("__only")}: [${only.map(q).mkString(",")}]")
      }
    // likewise for SPARK_GRAFT_EXTRA_CONF: the conf overrides the session
    // ran under are recorded, so a contaminated dump reads as such
    val confMarker =
      if (GraftSession.extraConf.isEmpty) Seq.empty
      else Seq(s"${q("__extra_conf")}: " + GraftSession.extraConf
        .map { case (k, v) => s"${q(k)}:${q(v)}" }.mkString("{", ",", "}"))
    val json = (marker ++ confMarker ++ SparkEntry.oracleSql
      .filter { case (k, _) => selected.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }).mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
