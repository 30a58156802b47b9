package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Failure is loud (VERDICT r1 item 2): any query that throws or writes no
  * output is reported and the process exits nonzero — a broken query can
  * no longer produce a plausible-looking CORRECTNESS artifact. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Seq(sfDir, outDir, argOnly @ _*) = args.toSeq
    // extra args name queries for dev iteration and take precedence
    // over SPARK_GRAFT_ONLY; the correctness gate passes exactly
    // (sfDir, outDir) and gets the full sweep
    val only =
      if (argOnly.nonEmpty) Some(argOnly) else SparkEntry.only()
    val spark = Sessions.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    var failed = List.empty[String]
    val registry = SparkEntry.queries
    only.getOrElse(registry.keys.toSeq).foreach { name =>
      try {
        val fn = registry.getOrElse(name,
          throw new NoSuchElementException("not a registered query"))
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        if (!Files.exists(Paths.get(s"$outDir/$name/_SUCCESS")))
          throw new IllegalStateException("no _SUCCESS marker written")
      } catch { case e: Throwable =>
        failed ::= name
        System.err.println(s"[verify] FAIL $name: ${e.getMessage}")
      }
    }
    val json = SparkEntry.jsonObj(SparkEntry.oracleSql.toSeq
      .map { case (k, v) => k -> SparkEntry.jsonStr(v) })
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries FAILED: ${failed.sorted.mkString(", ")}")
      sys.exit(1)
    }
  }
}
