package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{QueryModule, SparkEntry, Tables}
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One benchmark run in a fresh JVM: set up, verify once, then time passes
  * over the workload's declared queries, each fully materialized into the
  * workload's sink. Writes every raw measurement to `<run-dir>/result.json`;
  * `run.py` turns them into metrics and checks outputs against DuckDB.
  *
  * Usage: Main --run-dir D --data D --workload W --seed N --seconds S
  *             --trace 0|1 --cores N
  */
object Main {

  /** A workload: a fixed sample of declared queries, the shared stages its
    * set-up builds (`tracedShared` only in traced runs), and its sink. The
    * sink is part of the definition: "noop" materializes every row and
    * column of a result without writing it; "parquet" writes each result to
    * a fresh directory.
    */
  final case class Workload(
      queries: Seq[String],
      shared: Seq[(String, (SparkSession, String) => Double)],
      sink: String,
      tracedShared: Seq[(String, (SparkSession, String) => Double)] = Nil)

  /** Every declared query belongs to exactly one of these modules. */
  val modules: Seq[QueryModule] = Seq(Aggregations, EtlOps, Filters, Flagships, Joins,
    Multimodal, ScalarFns, SetOps, Sources, Streaming, TextOps, TypedOps, VectorOps, Windows)

  // A pass over all the declared queries of the star, corpus or ETL modules
  // takes 70-85 s even at the smallest scale, and a run has well under a
  // minute, so each workload runs a fixed sample: a query or more from every
  // module it holds, the consumers of the shared stages its set-up builds,
  // and queries whose cost a count() would hide. Queries whose DuckDB oracle
  // alone takes minutes (graph_pagerank_trade) are left out, since every
  // run checks its outputs.
  val workloads: Map[String, Workload] = Map(
    "star_analytics" -> Workload(
      Seq("agg_markov_stationary", "agg_cube", "graph_label_propagation",
        "join_dpp_partition_pruned", "win_rsi_momentum", "filter_predicates"),
      Seq("graph" -> Flagships.prepareSharedStages, "win" -> Windows.prepareSharedStages),
      "noop"),
    // the corpus operators ride with the ETL ones: a curated corpus is
    // written out like any other batch result. The set-up builds the text
    // shared stages on the run's fresh warehouse, so the cold cost of the
    // persisted shingle registry is in setup_s. The vector shared stages
    // (17 persisted IVF/PQ builds, 40-60 s even on 500 vectors) do not fit
    // every run's time; traced runs build them, as shared.vec_s.
    "etl_write" -> Workload(
      Seq("fn_safe_arithmetic", "scan_parquet_pushdown", "stream_foreachbatch_sink",
        "etl_scd2_intervals", "reshape_unpivot", "typed_topn_per_user",
        "text_pmi_cooccurrence", "vec_ann_ivf", "multimodal_aspect_bucket_stats"),
      Seq("text" -> TextOps.prepareSharedStages),
      "parquet",
      tracedShared = Seq("vec" -> VectorOps.prepareSharedStages)))

  val tableNames: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def moduleName(m: QueryModule): String = m.getClass.getSimpleName.stripSuffix("$")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val runDir = new File(opt("run-dir")).getAbsoluteFile
    val data = new File(opt("data")).getAbsolutePath
    val wl = workloads(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt

    val spans = new Spans
    val processStartNs =
      System.nanoTime() - ManagementFactory.getRuntimeMXBean.getUptime * 1000000L
    val root = Span(-1, -2, "run", processStartNs)
    spans.all += Span(0, -1, "jvm_start", processStartNs, System.nanoTime())

    // set-up, from cold state: a fresh JVM, a new warehouse directory (so
    // no persisted index or registry from an earlier run is found), no memo
    val spark = spans("setup") {
      val s = spans("session") {
        val s = SparkSession.builder()
          .master(s"local[$cores]")
          .config("spark.sql.shuffle.partitions", cores.toString)
          .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
          .config("spark.sql.session.timeZone", "UTC")
          .config("spark.ui.enabled", "false")
          .config("spark.sql.warehouse.dir", new File(runDir, "warehouse").toURI.toString)
          .config("spark.local.dir", new File(runDir, "local").getPath)
          .getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        s.range(1000).selectExpr("sum(id)").collect()
        s
      }
      spans("tables.warm") {
        // every row and column read, nothing kept
        for (t <- tableNames) Tables.table(s, data, t).write.format("noop").mode("overwrite").save()
      }
      (wl.shared ++ (if (traced) wl.tracedShared else Nil)).foreach { case (n, prepare) =>
        spans(s"shared.$n")(prepare(s, data))
      }
      s
    }
    val setupS = (System.nanoTime() - processStartNs) / 1e9
    System.err.println(f"[perfbench] setup $setupS%.3f s")
    val sc = spark.sparkContext
    val cachedB = sc.getRDDStorageInfo.map(_.memSize).sum

    val queries = SparkEntry.queries
    val moduleOf = modules.flatMap(m => m.qs.map(_.name -> moduleName(m))).toMap
    val unknown = wl.queries.filterNot(moduleOf.contains)
    require(unknown.isEmpty, s"not declared: ${unknown.mkString(", ")}")
    val module = wl.queries.map(n => n -> moduleOf(n)).toMap
    val names = wl.queries.sorted
    def order(pass: Int): Seq[String] = new scala.util.Random(seed * 7919L + pass).shuffle(names)

    def write(df: DataFrame, sink: String, path: String): Unit = sink match {
      case "noop"    => df.write.format("noop").mode("overwrite").save()
      case "parquet" => df.write.mode("overwrite").parquet(path)
    }

    /** Build and materialize one query; never throws. */
    def runQuery(pass: Int, name: String, sink: String, outDir: File): mutable.Map[String, Any] = {
      val rec = mutable.Map[String, Any]("pass" -> pass, "query" -> name,
        "module" -> module(name), "ok" -> true)
      sc.setLocalProperty(Trace.QueryKey, s"$pass/$name")
      spans("query") {
        var t = System.nanoTime()
        try {
          sc.setLocalProperty(Trace.PhaseKey, "construct")
          val df = spans("construct")(queries(name)(spark, data))
          rec("construct_s") = (System.nanoTime() - t) / 1e9
          t = System.nanoTime()
          sc.setLocalProperty(Trace.PhaseKey, "exec")
          spans("exec")(write(df, sink, new File(outDir, name).getPath))
          rec("exec_s") = (System.nanoTime() - t) / 1e9
        } catch {
          case e: Throwable =>
            rec("ok") = false
            rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
            val spent = (System.nanoTime() - t) / 1e9
            if (rec.contains("construct_s")) rec("exec_s") = spent
            else { rec("construct_s") = spent; rec("exec_s") = 0.0 }
        }
      }
      sc.setLocalProperty(Trace.QueryKey, null)
      sc.setLocalProperty(Trace.PhaseKey, null)
      rec
    }

    def dirStats(d: File): (Long, Long) = {
      val files = Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) Option(f.listFiles()).toSeq.flatten else Seq(f)
      }.filter(f => f.isFile && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      (files.size.toLong, files.map(_.length).sum)
    }

    def deleteTree(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(deleteTree))
      f.delete()
    }

    // verification pass, untimed: every result to parquet for the oracle
    // compare (it also starts warming the JIT and fills the codegen cache)
    val verifyDir = new File(runDir, "verify")
    val verifyT0 = System.nanoTime()
    val verifyRecs = spans("verify_pass")(order(0).map(n => runQuery(0, n, "parquet", verifyDir)))
    val verifyS = (System.nanoTime() - verifyT0) / 1e9

    // one more untimed pass, into the workload's own sink: after the
    // verification pass alone the next pass still runs a fifth slower than
    // the ones after it while the JIT warms
    val warmupDir = new File(runDir, "sink/warmup")
    val warmupRecs = spans("warmup_pass")(order(-1).map(n => runQuery(-1, n, wl.sink, warmupDir)))
    deleteTree(warmupDir)

    // timed passes until `seconds` have elapsed; a traced run alternates
    // untraced and traced passes so the tracing overhead is measured in
    // the same JVM
    val exec = new ExecListener
    val stream = new StreamListener
    val passes = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val recs = mutable.ArrayBuffer.empty[mutable.Map[String, Any]]
    val loopT0 = System.nanoTime()
    var pass = 0
    // at least four passes: a query's median over four settles where two
    // do not
    while (pass < 4 || (System.nanoTime() - loopT0) / 1e9 < seconds) {
      pass += 1
      val tracedPass = traced && pass % 2 == 0
      if (tracedPass) { sc.addSparkListener(exec); spark.streams.addListener(stream) }
      val outDir = new File(runDir, s"sink/$pass")
      val spanId = spans.all.size
      val t0 = System.nanoTime()
      val rs = spans("pass")(order(pass).map(n => runQuery(pass, n, wl.sink, outDir)))
      val wall = (System.nanoTime() - t0) / 1e9
      if (tracedPass) {
        // drain the listener bus before detaching so late task-end events count
        org.apache.spark.ListenerBusDrain(sc)
        sc.removeSparkListener(exec); spark.streams.removeListener(stream)
      }
      val (files, bytes) = dirStats(outDir)
      deleteTree(outDir)
      rs.foreach(_("traced") = tracedPass)
      recs ++= rs
      passes += mutable.Map("pass" -> pass, "span" -> spanId, "wall_s" -> wall, "traced" -> tracedPass,
        "out_files" -> files, "out_bytes" -> bytes)
    }
    root.endNs = System.nanoTime()

    val status = scala.io.Source.fromFile("/proc/self/status")
    val vmHwmKb = try status.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L) finally status.close()

    val result = Map(
      "workload" -> opt("workload"), "seed" -> seed, "cores" -> cores, "sink" -> wl.sink,
      "setup_s" -> setupS, "cached_b" -> cachedB, "verify_s" -> verifyS,
      "vm_hwm_kb" -> vmHwmKb, "passes" -> passes, "queries" -> recs,
      "verify_queries" -> verifyRecs, "warmup_queries" -> warmupRecs,
      "oracle_sql" -> SparkEntry.oracleSql.filter { case (n, _) => module.contains(n) },
      "counters" -> exec.byQuery.map { case (k, c) => k -> c.toMap },
      "stream" -> Map("batches" -> stream.batches, "batch_ms" -> stream.batchMs),
      "spans" -> (root +: spans.all).map(s =>
        Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_s" -> (s.startNs - processStartNs) / 1e9,
          "end_s" -> (s.endNs - processStartNs) / 1e9)))
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.writeString(Paths.get(runDir.getPath, "result.json"), json)
    spark.stop()
    sys.exit(0)
  }
}
