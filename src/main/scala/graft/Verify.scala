package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: restrict the dump (and oracle_sql.json) to
    // the named queries — a selective re-verify while iterating
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the canonical engine config (GraftSession) + the gate's partition
    // count override
    val spark = GraftSession.builder(s"local[$cpus]", "graft-verify")
      .config("spark.sql.shuffle.partitions", cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // (the benign unpersist "lineage truncated" WARNs are suppressed
    // ONLY around the registry's own release calls — Graft.quietRddLogs
    // — so real org.apache.spark.rdd warnings stay visible here)
    new java.io.File(outDir).mkdirs()
    var prevFamily: String = null
    SparkEntry.queries.toSeq.sortBy(p => Graft.benchSortKey(p._1))
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      System.err.println(s"[verify] running $name")
      // storage isolation between cache FAMILIES (SCALE.md §6, and the
      // Graft.cacheFamilies scaladoc): one 202-query pass would
      // otherwise accumulate every session-scoped helper cache in a
      // single storage pool, while clearing per query would rebuild
      // each family's shared artifact once per member
      val fam = Graft.family(name)
      if (fam != prevFamily) Graft.clearCaches(spark)
      prevFamily = fam
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // a query's staged per-execution checkpoints are dead once its
      // parquet is written — free them deterministically instead of
      // letting 240+ queries' debris pile into one storage pool
      Graft.releaseStagedCheckpoints(spark)
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only(k) }
      .map { case (k, v) => s"${Bench.jstr(k)}: ${Bench.jstr(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // registry git SHA beside the dump (VERDICT r14 #7): meta.json is a
    // SEPARATE file — a key inside oracle_sql.json would read as a query
    // name to the driver's iteration
    val head = Bench.gitHead()
    Files.writeString(Paths.get(s"$outDir/meta.json"),
      s"""{"head":${Bench.jstr(head)},"sf":${Bench.jstr(sfDir)}}""")
    System.err.println(s"[verify] head $head")
    spark.stop()
  }
}
