package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, max}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicInteger
import scala.util.Try

/** Jobs-per-query probe (VERDICT r13 "Next round" #2): at sf0.1 the
  * median declared query is ~0.3 s and 8-core ≈ 32-core — the bench is
  * dominated by fixed per-job scheduling cost, so the lever on the total
  * is the NUMBER of Spark jobs a query spawns (eager localCheckpoints,
  * `head()` threshold resolution, per-round loop actions), not per-task
  * compute. This probe counts SparkListenerJobStart events per declared
  * query, split into the jobs that building the DataFrame runs and the
  * jobs that executing it runs, so a jobs-per-query drop is measurable,
  * not asserted. Execution is the full declared plan written to the
  * `noop` sink: `count()` lets Catalyst prune columns and the final sort.
  *
  * Mirrors Bench's warmup discipline (JVM warmup, full-width table touch,
  * shared stages built first) so per-query counts cover each query's OWN
  * jobs. Runs each query twice and reports the SECOND run: the first run
  * pays one-time memo/broadcast warmup whose jobs are not plan-intrinsic.
  *
  * Usage: runMain graft.JobCountProbe <sfDir> <query> [query ...]
  * Prints one `JOBS <name> <construct_jobs> <exec_jobs> <seconds>` line
  * per query; seconds cover construction plus execution and are negative
  * when the query failed.
  */
object JobCountProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobCountProbe <sfDir> <query> [query ...]")
    val sfDir = args(0)
    val names = args.drop(1).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    def drained(): Int = { Bridge.drainListenerBus(spark.sparkContext); jobs.get() }
    spark.range(1000).selectExpr("sum(id)").collect()
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")) {
      val df = Tables.table(spark, sfDir, t)
      df.select(df.columns.map(c => max(col(c).cast("string"))): _*).collect()
    }
    operators.TextOps.prepareSharedStages(spark, sfDir)
    operators.VectorOps.prepareSharedStages(spark, sfDir)
    operators.Flagships.prepareSharedStages(spark, sfDir)
    operators.Windows.prepareSharedStages(spark, sfDir)
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[jobs] $name warm run failed: ${e.getMessage}") }
      val j0 = drained()
      val q0 = System.nanoTime()
      val built = Try(fn(spark, sfDir))
      val j1 = drained()
      val run = built.map(_.write.format("noop").mode("overwrite").save())
      val s = (System.nanoTime() - q0) / 1e9
      run.failed.foreach(e => System.err.println(s"[jobs] $name failed: ${e.getMessage}"))
      println(f"JOBS $name ${j1 - j0} ${drained() - j1} ${if (run.isSuccess) s else -s}%.3f")
    }
    spark.stop()
  }
}
