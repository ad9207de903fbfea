package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.{Caches, GraftSession, SparkEntry}
import graft.operators.{BulkSink, GraphMetrics}
import graft.pipelines.Collections
import graft.sources.Tables
import graft.streaming.Incremental

/** The benchmark's JVM half: one Spark session, one client thread, one
  * workload. Inputs are generated beforehand (perfbench/gen.py); this
  * program runs the workload for the requested seconds, checks the
  * outputs, and writes raw measurements (op walls, checks, spans, jobs) as
  * JSON for perfbench/run.py to reduce into metrics.
  *
  * Usage: BenchMain <workload> <seed> <seconds> <trace 0|1> <cores>
  *          <dataDir> <workDir> <outJson> [key=value ...]
  */
object BenchMain {

  final case class Op(name: String, wallS: Double, traced: Boolean, span: Int,
                      var ok: Boolean, error: String = "")

  final class Run(val spark: SparkSession, val trace: Trace, seconds: Double,
                  val heap: HeapPeak) {
    val ops = ArrayBuffer.empty[Op]
    val checks = ArrayBuffer.empty[(String, Boolean, String)]
    val setup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val facts = scala.collection.mutable.LinkedHashMap.empty[String, Any]
    /** A traced run traces rounds 0 and 3 of every four and leaves 1 and 2
      * untraced (ABBA, so a steady warming trend does not bias the
      * difference), and runs at least four rounds.
      */
    var traced = false
    var rounds = 0
    var firstOpAt = 0L
    private var measureStart = 0L

    def startMeasuring(): Unit = {
      measureStart = System.nanoTime()
      firstOpAt = System.currentTimeMillis()
    }
    /** Start another round (an epoch, a pass over the queries)? Whole
      * rounds run until the seconds are spent and at least two ops ran.
      */
    def another(): Boolean =
      ops.size < 2 || (traced && rounds < 4) ||
        (System.nanoTime() - measureStart) / 1e9 < seconds

    /** One timed operation. */
    def op(name: String)(body: => Unit): Op = {
      trace.on = traced && rounds % 4 % 3 == 0
      val spanId = trace.spans.size
      val t0 = System.nanoTime()
      val err =
        try { trace.span("op", name)(body); "" }
        catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
      val o = Op(name, (System.nanoTime() - t0) / 1e9, trace.on,
        if (trace.on) spanId else -1, err.isEmpty, err)
      trace.on = false
      ops += o
      o
    }

    /** Untimed, after every round: drop the cached frames, then sample the
      * heap. The listener bus is drained first: events still queued on a
      * lagging bus are live heap.
      */
    def endRound(): Unit = {
      rounds += 1
      Caches.clearAll(spark)
      org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)
      heap.sample()
    }

    def check(name: String)(body: => (Boolean, String)): Boolean = {
      val (ok, detail) =
        try body catch { case e: Throwable => (false, s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      checks += ((name, ok, detail))
      ok
    }
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, seedS, secondsS, traceS, cores, dataDir, workDir, outJson) = args.take(8)
    val opts = args.drop(8).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val spark = GraftSession.configure(SparkSession.builder().master(s"local[$cores]"), cores)
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val jobLog = new JobLog
    if (traceS == "1") spark.sparkContext.addSparkListener(jobLog)
    val run = new Run(spark, new Trace(spark.sparkContext), secondsS.toDouble, new HeapPeak)
    run.traced = traceS == "1"
    run.setup("session.start_s") = (sessionReadyMs - jvmStartMs) / 1e3

    val seed = seedS.toLong
    workload match {
      case "follower" =>
        new Follower(run, dataDir, workDir, opts).run()
      case "query_mix" =>
        new QueryMix(run, dataDir, workDir, seed, opts("queries").split(",").toSeq).run()
      case w => sys.error(s"unknown workload $w")
    }
    run.setup("setup_s") = (run.firstOpAt - jvmStartMs) / 1e3
    org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

    val out = Map(
      "workload" -> workload,
      "setup" -> run.setup,
      "ops" -> run.ops.map(o => Map("name" -> o.name, "wall_s" -> o.wallS,
        "traced" -> o.traced, "span" -> o.span, "ok" -> o.ok, "error" -> o.error)),
      "checks" -> run.checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "heap_live_peak_mb" -> run.heap.peakBytes / 1048576.0,
      "facts" -> run.facts,
      "spans" -> run.trace.spans.map(s => Map("id" -> s.id, "layer" -> s.layer,
        "name" -> s.name, "parent" -> s.parent, "start_ns" -> s.start, "end_ns" -> s.end,
        "counts" -> s.counts)),
      "jobs" -> jobLog.jobs.values.asScala.toSeq.sortBy(_.id).map(j => Map(
        "id" -> j.id, "span" -> j.span, "call_site" -> j.callSite, "execution" -> j.execution,
        "start_ms" -> j.start, "end_ms" -> j.end, "tasks" -> j.tasks,
        "failed_tasks" -> j.failedTasks, "run_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
        "max_task_ms" -> j.maxTaskMs, "shuffle_read" -> j.shuffleRead,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill,
        "records_read" -> j.recordsRead, "bytes_read" -> j.bytesRead,
        "records_written" -> j.recordsWritten, "bytes_written" -> j.bytesWritten,
        "files_written" -> j.filesWritten)),
      "execution_sites" -> jobLog.executionSites.asScala,
      // span clocks are System.nanoTime; job clocks are epoch ms. One
      // paired reading lets the reducer put both on one axis.
      "clock" -> Map("nano" -> System.nanoTime(), "epoch_ms" -> System.currentTimeMillis()))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), Json.render(out))
    spark.stop()
  }

  /** In a traced op, persist and count: runs `df`'s plan in its own job,
    * inside the caller's span, so the layer that built the frame owns its
    * work. Untraced, `df` is returned as is and the program's own plan runs;
    * the difference shows in `trace.overhead_s`.
    */
  def materialize(trace: Trace, df: DataFrame, what: String): DataFrame =
    if (!trace.on) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      trace.count(what, p.count())
      p
    }

  /** Rows of `a` and `b` are equal as multisets (columns matched by name).
    * Compared on the driver as sorted JSON renderings: the outputs checked
    * here are tens of thousands of rows at most.
    */
  def sameRows(a: DataFrame, b: DataFrame): (Boolean, String) = {
    val cols = a.columns.sorted.toSeq
    if (cols != b.columns.sorted.toSeq)
      return (false, s"columns ${cols.mkString(",")} vs ${b.columns.sorted.mkString(",")}")
    def rows(df: DataFrame) =
      df.select(to_json(struct(cols.map(col): _*))).collect().map(_.getString(0)).sorted
    val (x, y) = (rows(a), rows(b))
    val differing = x.diff(y).length + y.diff(x).length
    (differing == 0, s"rows ${x.length} vs ${y.length}, differing $differing")
  }
}

/** A [[BulkSink.BulkWriter]] that counts the bulk batches it is handed. */
final class CountingWriter(inner: BulkSink.BulkWriter,
                           batches: org.apache.spark.util.LongAccumulator)
    extends BulkSink.BulkWriter {
  def open(partitionId: Int): Unit = inner.open(partitionId)
  def writeBatch(rows: Seq[Row]): Long = { batches.add(1); inner.writeBatch(rows) }
  def close(): Unit = inner.close()
}

/** The follower-daemon workload over a generated chain: bootstrap to 80%,
  * then fixed-size epochs.
  */
final class Follower(run: BenchMain.Run, chainDir: String, workDir: String,
                     opts: Map[String, String]) {
  import BenchMain.materialize
  private val spark = run.spark
  private val trace = run.trace
  private val blocks = opts("blocks").toLong
  private val genesis = opts("genesis").toLong
  private val blockSeconds = opts("block_seconds").toLong
  private val windowS = opts("window_days").toLong * 86400L
  private val chunk = math.max(1L, blocks / 26) // the reference's 5k of 130k blocks
  private val epochBlocks = math.max(1L, blocks / 200) // 0.5% of the chain
  private val bulkBatch = 500

  /** Chain height revealed to the program (exclusive). */
  private var cap = 0L
  private def tipCutoff: Long = genesis + (cap - 1) * blockSeconds - windowS

  private def source(name: String): DataFrame =
    trace.span("sources", s"Tables.$name")(Tables(spark, chainDir, name))
  /** The transactions table, opened once per op (a source re-read per
    * chunk would add a schema job per chunk).
    */
  private var transactions: DataFrame = _
  private def revealed(): DataFrame = transactions.filter(col("block") < cap)

  private def hotspotsFromSources(): DataFrame = Collections.hotspots(
    source("gateway_inventory"), source("gateway_status"), source("locations"))

  private def driver(root: String, chunkSize: Long = chunk) = {
    val payments = Incremental.DynamicCollection("payments",
      chunk => trace.span("pipelines", "Collections.payments") {
        materialize(trace, Collections.payments(chunk, Long.MinValue, Long.MaxValue), "docs")
      }, key = "_key", tiebreak = "time")
    def snapshot(name: String, tiebreak: String)(build: => DataFrame) =
      Incremental.SnapshotCollection(name,
        _ => trace.span("pipelines", s"Collections.$name")(materialize(trace, build, "docs")),
        key = "_key", tiebreak = tiebreak)
    new Incremental.Driver(spark, () => revealed(), "block", s"$root/state", s"$root/sink",
      chunkSize = chunkSize, minDiff = 1L, dynamics = Seq(payments),
      snapshots = Seq(
        snapshot("hotspots", "address")(hotspotsFromSources()),
        snapshot("accounts", "address")(Collections.accounts(source("account_inventory"))),
        snapshot("witnesses", "time")(Collections.witnesses(revealed(), tipCutoff, Long.MaxValue))))
  }

  /** Hotspot documents with per-city metrics: own-city PageRank,
    * betweenness and HITS merged onto the hotspots, one JSON string per doc.
    */
  private def metricDocs(hotspots: DataFrame, witnesses: DataFrame): DataFrame = {
    def mat(df: DataFrame, what: String) = materialize(trace, df, what)
    val edges = trace.span("pipelines", "Collections.cityGraphEdges") {
      mat(Collections.cityGraphEdges(hotspots, witnesses)
        // same-cell endpoints share a center: keep every weight >= 1
        .withColumn("w", col("w") + 1), "edges")
    }
    // a node pulled into a neighbour city's subgraph keeps its own city's score
    val own = hotspots.select(col("address").as("node"),
      col("location_details.city_key").as("city"))
    def restrict(m: DataFrame) = m.join(own, Seq("city", "node"))
    val pr = trace.span("graph", "GraphMetrics.perCityPagerank") {
      mat(restrict(GraphMetrics.perCityPagerank(edges, minEdges = 2))
        .select(col("node"), col("pr_pm").as("value_pm"), col("pr_norm_pm").as("norm_pm")), "scores")
    }
    val bc = trace.span("graph", "GraphMetrics.perCityBetweenness") {
      mat(restrict(GraphMetrics.perCityBetweenness(edges, minEdges = 2))
        .select(col("node"), col("bc_pm").as("value_pm"), col("bc_norm_pm").as("norm_pm")), "scores")
    }
    val ha = trace.span("graph", "GraphMetrics.perCityHits") {
      mat(restrict(GraphMetrics.perCityHits(edges, minEdges = 2))
        .select(col("node"), col("hub_pm"), col("auth_pm")), "scores")
    }
    trace.span("pipelines", "Collections.mergeMetrics") {
      val d = Collections.mergeMetrics(hotspots, pr, bc, Some(ha))
      mat(d.select(to_json(struct(d.columns.sorted.toIndexedSeq.map(col): _*)).as("value")), "docs")
    }
  }

  /** One follower step after the sync: metrics from the sinks, then the
    * bulk write of the hotspot documents.
    */
  private def metricsPass(d: Incremental.Driver, bulkDir: String): Unit = {
    val hotspots = spark.read.parquet(d.sinkPath("hotspots"))
    val witnesses = spark.read.parquet(d.sinkPath("witnesses")).filter(col("time") > tipCutoff)
    val docs = metricDocs(hotspots, witnesses)
    trace.span("bulk", "BulkSink.write") {
      val batches = spark.sparkContext.longAccumulator("bulkBatches")
      val n = BulkSink.write(docs,
        new CountingWriter(new BulkSink.JsonLinesWriter(bulkDir), batches), bulkBatch)
      trace.count("docs", n)
      trace.count("batches", batches.value)
    }
  }

  private def epoch(d: Incremental.Driver, bulkDir: String): Unit = {
    transactions = source("transactions")
    val r = trace.span("incremental", "Driver.runEpoch")(d.runEpoch())
    require(r.ran, s"epoch did not run: $r")
    metricsPass(d, bulkDir)
  }

  /** The end state equals a from-scratch computation over the revealed chain. */
  private def checkState(d: Incremental.Driver, bulkDir: String): Boolean = {
    transactions = source("transactions")
    val okPayments = run.check(s"payments sink = Collections.payments over [0, $cap)") {
      BenchMain.sameRows(spark.read.parquet(d.sinkPath("payments")),
        Collections.payments(revealed(), Long.MinValue, Long.MaxValue))
    }
    val okDocs = run.check(s"hotspot metric docs = one-shot metrics pass") {
      val expected = metricDocs(hotspotsFromSources(),
        Collections.witnesses(revealed(), tipCutoff, Long.MaxValue))
      BenchMain.sameRows(spark.read.text(bulkDir), expected)
    }
    okPayments && okDocs
  }

  def run(): Unit = {
    val tx = Tables(spark, chainDir, "transactions")
    val d = bootstrap()
    val firstCap = cap
    run.startMeasuring()
    var bulkDir = ""
    var epochs = 0
    while (run.another() && cap + epochBlocks <= blocks) {
      cap += epochBlocks
      bulkDir = s"$workDir/follow/bulk-$epochs"
      run.op("epoch")(epoch(d, bulkDir))
      run.endRound()
      epochs += 1
    }
    val rows = tx.filter(col("block") >= firstCap && col("block") < cap).count()
    run.facts("source_rows") = rows
    run.facts("epoch_blocks") = epochBlocks
    // a wrong end state cannot be pinned on one epoch: all count as failed
    if (!checkState(d, bulkDir)) run.ops.foreach(_.ok = false)
    if (run.traced) layerFacts(d)
  }

  /** The follower's warm-up at its own scale: sync 80% of the chain in one
    * chunk (same sinks and mark as the epochs) and run one metrics pass,
    * then one untimed epoch, which pays for the epoch-sized plans (the
    * first epoch after the bootstrap runs 10–30% slower than the next).
    * Returns the epochs' driver.
    */
  private def bootstrap(): Incremental.Driver = {
    val w0 = System.nanoTime()
    cap = blocks * 8 / 10
    transactions = source("transactions")
    driver(s"$workDir/follow", chunkSize = cap).runEpoch()
    val d = driver(s"$workDir/follow")
    metricsPass(d, s"$workDir/follow/bulk-boot")
    cap += epochBlocks
    epoch(d, s"$workDir/follow/bulk-warm")
    Caches.clearAll(spark)
    run.setup("session.warmup_s") = (System.nanoTime() - w0) / 1e9
    d
  }

  /** Sink size and scored cities, for the per-layer metrics. */
  private def layerFacts(d: Incremental.Driver): Unit = {
    val names = Seq("payments", "hotspots", "accounts", "witnesses")
    run.facts("sink_bytes") = names.map { n =>
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(d.sinkPath(n)))
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(p => java.nio.file.Files.size(p)).sum
      finally s.close()
    }.sum
    run.facts("sink_rows") = names.map(n => spark.read.parquet(d.sinkPath(n)).count()).sum
    val hotspots = spark.read.parquet(d.sinkPath("hotspots"))
    run.facts("cities_scored") = GraphMetrics.perCityPagerank(
      Collections.cityGraphEdges(hotspots,
        spark.read.parquet(d.sinkPath("witnesses")).filter(col("time") > tipCutoff))
        .withColumn("w", col("w") + 1), minEdges = 2)
      .select("city").distinct().count()
  }
}

/** A single client in a closed loop over registered queries: one untimed
  * warm pass in list order, then whole passes in a seeded shuffled order.
  * Every execution's result is fingerprinted and compared with the warm
  * pass; the warm pass's rows are written out for the DuckDB oracle check.
  */
final class QueryMix(run: BenchMain.Run, dataDir: String, workDir: String, seed: Long,
                     names: Seq[String]) {
  private val spark = run.spark

  private def fingerprint(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The untimed pass in list order: each query's reference result. A
    * query that fails here leaves no reference, so all its executions fail.
    */
  private def warmPass(): Map[String, Option[(StructType, Array[Row], String)]] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val w0 = System.nanoTime()
    val first = names.map { n =>
      val ref =
        try {
          val df = SparkEntry.queries(n)(spark, dataDir)
          val rows = df.collect()
          Some((df.schema, rows, fingerprint(rows)))
        } catch { case e: Exception =>
          run.check(s"$n warm execution")((false, s"${e.getClass.getSimpleName}: ${e.getMessage}"))
          None
        }
      Caches.clearAll(spark)
      n -> ref
    }.toMap
    run.setup("session.warmup_s") = (System.nanoTime() - w0) / 1e9
    first
  }

  def run(): Unit = {
    val first = warmPass()
    run.startMeasuring()
    val rng = new scala.util.Random(seed)
    while (run.another()) {
      rng.shuffle(names).foreach { n =>
        var rows: Array[Row] = null
        val o = run.op(n) {
          rows = run.trace.span("queries", n)(SparkEntry.queries(n)(spark, dataDir).collect())
        }
        if (o.ok && !first(n).exists(_._3 == fingerprint(rows))) o.ok = false
        Caches.clearAll(spark)
      }
      run.endRound()
    }
    first.foreach { case (n, ref) => ref.foreach { case (schema, rows, _) =>
      spark.createDataFrame(rows.toList.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$workDir/results/$n")
    } }
    run.facts("oracle_sql") = names.map(n => n -> SparkEntry.oracleSql.getOrElse(n, "")).toMap
    run.facts("results_dir") = s"$workDir/results"
  }
}
