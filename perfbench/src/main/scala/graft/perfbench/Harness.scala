package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.SparkEntry
import graft.mart.Extracts
import graft.ods.OdsBuild
import graft.sources.Tables
import graft.stg.{Normalizer, Staging}

/** One benchmark run in one JVM: set-up, a cold first pass over the op
  * set, then warm passes until the time budget is spent. A closed loop
  * with one client: the next op starts when the previous one returns.
  *
  * The harness only calls the engine's public functions. It times them
  * from outside (spans), counts Spark work through its own listeners,
  * and checks every op's output. Results go to `<work>/result.json`;
  * with tracing on, spans go to `<work>/spans.jsonl`.
  *
  * Usage: Harness <workload> <dataDir> <workDir> <seconds> <trace 0|1>
  *          <orderFile> <cpus> [plant]
  * The order file lists one op per line as `<pass>\t<op>`; pass 0 is the
  * cold first pass. `plant` (self-test only) is `wrong_row` or
  * `dup_key`: it corrupts one op's output so the gates must catch it.
  */
object Harness {

  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)

  final class Tracer(val on: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack: List[Int] = Nil
    var op = -1
    def apply[T](name: String)(body: => T): T =
      if (!on) body
      else {
        val id = spans.size
        val parent = stack.headOption.getOrElse(-1)
        spans += Span(id, parent, op, name, System.nanoTime(), 0L)
        stack = id :: stack
        try body
        finally {
          stack = stack.tail
          spans(id) = spans(id).copy(endNs = System.nanoTime())
        }
      }
    def total(name: String): Double =
      spans.iterator.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).sum
  }

  /** Counts Spark work per run. Jobs and stages of an op carry its id
    * as a local property, so work attributes to ops, and the untimed
    * correctness checks (no op id) are not counted. */
  final class Recorder(stageRoot: String) extends SparkListener {
    val c = mutable.LinkedHashMap.empty[String, AtomicLong]
    def add(k: String, v: Long): Unit = c.getOrElseUpdate(k, new AtomicLong).addAndGet(v)
    def get(k: String): Long = c.get(k).map(_.get).getOrElse(0L)
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, String)]()
    val execOp = new java.util.concurrent.ConcurrentHashMap[Long, String]()
    val execStageReads = new java.util.concurrent.ConcurrentHashMap[Long, Set[String]]()
    val builtByOp = new java.util.concurrent.ConcurrentHashMap[String, Set[String]]()
    private val blocks = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    private val blockNow = new AtomicLong
    val blockPeak = new AtomicLong
    private val StageRead = ("""\Q""" + stageRoot + """\E/[^/\]\s,]+/[^/\]\s,]+/([A-Za-z0-9_.]+)-[0-9a-f]+""").r

    private val opStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    private def opOf(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty("perfbench.op")))

    override def onJobStart(e: SparkListenerJobStart): Unit = opOf(e.properties).foreach { op =>
      add("jobs", 1)
      val p = Option(e.properties)
      val desc = p.flatMap(x => Option(x.getProperty("spark.job.description"))).getOrElse("")
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .foreach(id => execOp.put(id.toLong, op))
      jobStart.put(e.jobId, (e.time, desc, op))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobStart.remove(e.jobId)).foreach {
      case (t0, desc, op) if desc.startsWith("stage build: ") =>
        add("stage_build_ms", e.time - t0)
        val name = desc.stripPrefix("stage build: ")
        builtByOp.merge(op, Set(name), (a, b) => a ++ b)
      case _ =>
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (opOf(e.properties).isDefined) { opStages.add(e.stageInfo.stageId); add("stages", 1) }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (opStages.contains(e.stageId)) {
      add("tasks", 1)
      if (!e.taskInfo.successful) add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_cpu_ns", m.executorCpuTime)
        add("task_run_ms", m.executorRunTime)
        val sched = e.taskInfo.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - e.taskInfo.gettingResultTime
        add("sched_delay_ms", math.max(0L, sched))
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
        add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add("input_rows", m.inputMetrics.recordsRead)
        add("input_bytes", m.inputMetrics.bytesRead)
        if (m.inputMetrics.bytesRead > 0) add("scan_task_ms", m.executorRunTime)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
        val size = info.memSize + info.diskSize
        val prev = if (size > 0) blocks.put(key, size) else blocks.remove(key)
        val now = blockNow.addAndGet(size - Option(prev).map(_.longValue).getOrElse(0L))
        blockPeak.accumulateAndGet(now, math.max)
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val reads = StageRead.findAllMatchIn(s.physicalPlanDescription).map(_.group(1)).toSet
        if (reads.nonEmpty) execStageReads.put(s.executionId, reads)
      // streams run in their own sessions; their progress reaches the
      // shared listener bus
      case e: StreamingQueryListener.QueryProgressEvent =>
        val p = e.progress
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        add("stream_batches", 1)
        add("stream_drain_ms", d.getOrElse("triggerExecution", 0L))
        add("stream_add_batch_ms", d.getOrElse("addBatch", 0L))
        add("stream_wal_ms", d.getOrElse("walCommit", 0L) + d.getOrElse("commitOffsets", 0L))
        stateRows.merge(p.runId.toString, p.stateOperators.map(_.numRowsTotal).sum, (a, b) => math.max(a, b))
      case _ =>
    }
    private val stateRows = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    def totalStateRows: Long = stateRows.values.asScala.map(_.longValue).sum

    /** (builds, hits): a stage an op built counts once as a build; a
      * stage an op read without building it counts once as a hit. */
    def stagedCounts(finalPlanReads: collection.Map[String, Set[String]]): (Long, Long) = {
      val readsByOp = mutable.Map.empty[String, Set[String]] ++ finalPlanReads
      execStageReads.asScala.foreach { case (id, names) =>
        Option(execOp.get(id)).foreach(op =>
          readsByOp(op) = readsByOp.getOrElse(op, Set.empty) ++ names)
      }
      val built = builtByOp.asScala
      val builds = built.values.map(_.size.toLong).sum
      val hits = readsByOp.map { case (op, names) =>
        (names -- built.getOrElse(op, Set.empty)).size.toLong
      }.sum
      (builds, hits)
    }
  }

  object PlanShape extends AdaptiveSparkPlanHelper {
    def counts(p: SparkPlan): (Int, Int) = (
      collectWithSubqueries(p) { case e: ShuffleExchangeLike => e; case e: BroadcastExchangeLike => e }.size,
      collectWithSubqueries(p) { case j: SortMergeJoinExec => j }.size)

    /** Stage names a plan scans, looking through cached relations. */
    def stageReads(p: SparkPlan, stageRoot: String): Set[String] =
      collectWithSubqueries(p) {
        case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toUri.getPath).toSet
        case m: InMemoryTableScanExec => m.relation.cachedPlan.collect {
          case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toUri.getPath)
        }.flatten.toSet
      }.flatten.filter(_.startsWith(stageRoot))
        .map(path => path.split("/").last.replaceAll("-[0-9a-f]+$", "")).toSet
  }

  // ------------------------------------------------------------------

  /** The module whose builder makes each benchmarked query (short ids;
    * the engine names them `q<n>_<what>`). */
  val module: Map[String, String] = Map(
    "q24" -> "text", "q48" -> "vector", "q156" -> "event", "q148" -> "mart",
    "q187" -> "stream").withDefaultValue("relational")

  val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def fullName(short: String): String =
    SparkEntry.queries.keys.find(_.split("_")(0) == short)
      .getOrElse(sys.error(s"no engine query $short"))

  /** Order-independent checksum of a result: the sum of per-row hashes
    * over a normalized rendering (doubles to 9 significant digits, so
    * summation-order noise in the last bits does not count as wrong). */
  def checksum(rows: Array[Row]): Long = {
    def norm(v: Any): String = v match {
      case null => "∅"
      case d: Double => if (d.isNaN) "NaN" else f"$d%.9g"
      case f: Float => f"${f.toDouble}%.6g"
      case s: scala.collection.Seq[_] => s.map(norm).mkString("[", ",", "]")
      case r: Row => r.toSeq.map(norm).mkString("(", ",", ")")
      case a: Array[_] => a.map(norm).mkString("[", ",", "]")
      case o => o.toString
    }
    rows.iterator.map(r => scala.util.hashing.MurmurHash3.stringHash(norm(r)).toLong).sum
  }

  def dirBytes(p: String): Long = {
    val f = new File(p)
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(x => dirBytes(x.getPath)).sum).getOrElse(0L)
  }

  def vmHwmMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""

  // ------------------------------------------------------------------

  def main(args: Array[String]): Unit =
    // exit explicitly on failure: Spark's non-daemon threads would keep
    // the JVM alive after main throws
    try run(args, System.nanoTime())
    catch { case t: Throwable => t.printStackTrace(); sys.exit(1) }

  def run(args: Array[String], mainNs: Long): Unit = {
    val Array(workload, data, work, secondsS, traceS, orderFile, cpus) = args.take(7)
    val plant = args.lift(7).getOrElse("")
    val seconds = secondsS.toDouble
    val tr = new Tracer(traceS == "1")
    val stageRoot = s"$work/stage"
    sys.props("graft.stage.dir") = stageRoot
    val order = scala.io.Source.fromFile(orderFile).getLines().map { l =>
      val Array(p, op) = l.split("\t"); (p.toInt, op)
    }.toVector
    val etl = workload == "etl_nightly"

    def buildSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        // plan strings only: keep stage-store paths whole, so the
        // listener can see which stages a query reads
        .config("spark.sql.maxMetadataStringLength", "4096")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    def touchInputs(s: SparkSession): Unit =
      if (etl) Seq("ohlcv_history.csv", "barchart_history.csv", "cot.csv", "usda.csv")
        .foreach(f => s.read.option("header", "true").csv(s"$data/etl/$f").count())
      else tables.foreach(t => s.read.parquet(s"$data/$t.parquet").count())

    // set-up three times; the first includes JVM start-up work
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 = if (i == 0) mainNs else System.nanoTime()
      spark = buildSession()
      touchInputs(spark)
      setups += (System.nanoTime() - t0) / 1e9
      if (i < 2) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }
    val sc = spark.sparkContext
    val rec = new Recorder(stageRoot)
    sc.addSparkListener(rec)

    final case class OpResult(pass: Int, op: String, latency: Double, rows: Long,
        sum: Long, error: String)
    val results = mutable.ArrayBuffer.empty[OpResult]
    var leaked = 0L
    val exch = mutable.ArrayBuffer.empty[(Int, Int)]

    // ---------------- query workloads ----------------
    val planted = mutable.Set.empty[Int]
    val finalReads = mutable.Map.empty[String, Set[String]]
    def runQuery(pass: Int, short: String, idx: Int): OpResult = {
      val name = fullName(short)
      val builder = SparkEntry.queries(name)
      val rdds0 = sc.getPersistentRDDs.size
      sc.setLocalProperty("perfbench.op", idx.toString)
      val t0 = System.nanoTime()
      val attempt = scala.util.Try {
        tr("op") {
          val df = tr("operators.call")(builder(spark, data))
          tr("plans.plan")(df.queryExecution.executedPlan)
          val rows = tr("exec.action")(df.collect())
          (df, rows)
        }
      }
      val latency = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty("perfbench.op", null)
      leaked += math.max(0, sc.getPersistentRDDs.size - rdds0)
      attempt match {
        case scala.util.Success((df, rows0)) =>
          // self-test: the first non-empty result of the cold pass and
          // of the first warm pass each carry one extra, repeated row
          val rows = if (plant == "wrong_row" && rows0.nonEmpty && !planted(pass)) {
            planted += pass
            rows0 :+ rows0.head
          } else rows0
          if (tr.on) {
            exch += PlanShape.counts(df.queryExecution.executedPlan)
            finalReads(idx.toString) = PlanShape.stageReads(df.queryExecution.executedPlan, stageRoot)
          }
          if (pass == 0)
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .write.mode(SaveMode.Overwrite).parquet(s"$work/dumps/$short")
          OpResult(pass, short, latency, rows.length.toLong, checksum(rows), "")
        case scala.util.Failure(e) =>
          OpResult(pass, short, latency, -1, 0, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
      }
    }

    // ---------------- etl_nightly ----------------
    val etlDir = s"$work/etl"
    val storeVersion = mutable.Map.empty[String, Int]
    def storePath(name: String): String = s"$etlDir/$name-v${storeVersion.getOrElse(name, 0)}"
    val hadoop = org.apache.hadoop.fs.FileSystem.get(sc.hadoopConfiguration)
    def upsert(name: String, staged: DataFrame, keys: Seq[String]): DataFrame = {
      val cur = storePath(name)
      val target = if (new File(cur).exists) spark.read.parquet(cur)
        else spark.createDataFrame(sc.emptyRDD[Row], staged.schema)
      val next = storeVersion.getOrElse(name, 0) + 1
      val nextPath = s"$etlDir/$name-v$next"
      tr("stg.upsert") {
        val out = Staging.upsertByNaturalKey(target, staged, keys)
        tr("exec.action")(out.write.mode(SaveMode.Overwrite).parquet(nextPath))
      }
      storeVersion(name) = next
      hadoop.delete(new org.apache.hadoop.fs.Path(cur), true)
      spark.read.parquet(nextPath)
    }
    // the last full year of the generated history (2000 → mid-2023)
    val martYear = 2022
    def writeExtract(name: String, df: DataFrame, dateCols: Seq[String]): Unit =
      tr("mart.extract") {
        tr("plans.plan")(df.queryExecution.executedPlan)
        tr("exec.action")(Extracts.writeGoldenCsv(df, s"$etlDir/mart/$name", dateCols))
      }
    def cycle(night: String): Unit = {
      val t0 = System.currentTimeMillis()
      val (ohlcvCsv, barCsv) =
        if (night == "history") (s"$data/etl/ohlcv_history.csv", s"$data/etl/barchart_history.csv")
        else (s"$data/etl/nightly/ohlcv_$night.csv", s"$data/etl/nightly/barchart_$night.csv")
      val ohlcv = tr("sources.read")(Tables.readOhlcvCsv(spark, ohlcvCsv).filter(col("Close").isNotNull))
      val bar = tr("sources.read")(spark.read.option("header", "true").option("nullValue", "null")
        .schema(Tables.stgBarchartSchema).csv(barCsv))
      val stgOhlcv = upsert("stg_ohlcv", ohlcv, Seq("Date"))
      val stgBar0 = upsert("stg_barchart", bar, Seq("contract", "snapshot_date"))
      val stgBar = if (plant == "dup_key" && night != "history") {
        // self-test: re-append one staged row, so the store holds a
        // duplicate natural key
        val p = storePath("stg_barchart")
        stgBar0.limit(1).write.mode(SaveMode.Append).parquet(p)
        spark.read.parquet(p)
      } else stgBar0
      tr("stg.audit") {
        Staging.reconcileAndLog(spark, s"$etlDir/audit", "perfbench", ohlcvCsv, "stg_ohlcv",
          ohlcv, stgOhlcv, t0)
        Staging.reconcileAndLog(spark, s"$etlDir/audit", "perfbench", barCsv, "stg_barchart",
          bar, stgBar, t0)
      }
      tr("stg.normalize") {
        val usda = tr("sources.read")(spark.read.option("header", "true").csv(s"$data/etl/usda.csv"))
        val norm = Normalizer.normalizeUsdaExtract(usda)
        tr("exec.action")(norm.write.mode(SaveMode.Overwrite).parquet(s"$etlDir/stg_usda"))
      }
      tr("ods.dims") {
        val dd = OdsBuild.buildDateDim(stgBar, "snapshot_date")
        val dc = OdsBuild.buildContractDim(stgBar, "contract")
        tr("exec.action") {
          dd.write.mode(SaveMode.Overwrite).parquet(s"$etlDir/dim_date")
          dc.write.mode(SaveMode.Overwrite).parquet(s"$etlDir/dim_contract")
        }
      }
      tr("ods.fact") {
        val dd = spark.read.parquet(s"$etlDir/dim_date")
        val dc = spark.read.parquet(s"$etlDir/dim_contract")
        val fact = OdsBuild.buildFact(stgBar, dd, dc).join(broadcast(dd), Seq("date_id"))
        tr("plans.plan")(fact.queryExecution.executedPlan)
        tr("exec.action")(fact.write.mode(SaveMode.Overwrite).parquet(s"$etlDir/ods_fact"))
        if (tr.on) exch += PlanShape.counts(fact.queryExecution.executedPlan)
      }
      val factR = spark.read.parquet(s"$etlDir/ods_fact")
      val ny = Extracts.nyPrices(factR, martYear, Seq(2, 3))
      writeExtract("ny_prices", ny, Seq("date_actual"))
      writeExtract("spread", Extracts.spread(ny), Seq("date_actual"))
      writeExtract("ma", Extracts.maExtract(factR, martYear), Seq("date_actual"))
      val cot = tr("sources.read")(spark.read.option("header", "true")
        .schema(Tables.cotReportSchema).csv(s"$data/etl/cot.csv"))
      val cotLong = Extracts.cotLong(cot)
      writeExtract("cot_long", cotLong, Seq("date_actual"))
      writeExtract("cot_totals", Extracts.cotDateTotals(cotLong), Seq("date_actual"))
    }
    /** Per-cycle invariants; returns the failure, or "" when all hold. */
    def cycleInvariants(): (String, Long) = {
      val o = spark.read.parquet(storePath("stg_ohlcv"))
      val b = spark.read.parquet(storePath("stg_barchart"))
      val oN = o.count()
      val bN = b.count()
      val factN = spark.read.parquet(s"$etlDir/ods_fact").count()
      val badNet = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(s"$etlDir/mart/cot_long")
        .filter(col("CIT_Net") =!= col("CIT_Long") + col("CIT_Short")).count()
      val err =
        if (o.select("Date").distinct().count() != oN) "stg_ohlcv: duplicate natural key"
        else if (b.select("contract", "snapshot_date").distinct().count() != bN)
          "stg_barchart: duplicate natural key"
        else if (factN != bN) s"fact rows $factN != staging rows $bN"
        else if (badNet != 0) s"cot_long: $badNet rows with net != long + short"
        else ""
      (err, bN)
    }
    var upsertRows = 0L
    def runCycle(pass: Int, night: String, idx: Int): OpResult = {
      sc.setLocalProperty("perfbench.op", idx.toString)
      val t0 = System.nanoTime()
      val attempt = scala.util.Try(tr("op")(cycle(night)))
      val latency = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty("perfbench.op", null)
      val (err, rows) = attempt match {
        case scala.util.Success(_) =>
          scala.util.Try(cycleInvariants()).fold(e => (s"invariant check failed: $e", -1L), identity)
        case scala.util.Failure(e) => (s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300), -1L)
      }
      if (rows > 0) upsertRows = rows
      OpResult(pass, night, latency, rows, 0L, err)
    }

    // ---------------- the closed loop ----------------
    val gc0 = gcMs
    val runStart = System.nanoTime()
    var idx = 0
    def runOp(pass: Int, op: String): Unit = {
      tr.op = idx
      results += (if (etl) runCycle(pass, op, idx) else runQuery(pass, op, idx))
      idx += 1
    }
    order.filter(_._1 == 0).foreach { case (p, op) => runOp(p, op) }
    val firstPass = (System.nanoTime() - runStart) / 1e9
    // warm passes run whole, until the time budget is spent: a partial
    // pass would measure a different subset of ops for every seed
    val warmStart = System.nanoTime()
    val deadline = warmStart + (seconds * 1e9).toLong
    val passes = order.filter(_._1 > 0).groupBy(_._1).toSeq.sortBy(_._1).map(_._2)
    val warm = passes.iterator
    while (System.nanoTime() < deadline && warm.hasNext)
      warm.next().foreach { case (p, op) => runOp(p, op) }
    val warmWall = (System.nanoTime() - warmStart) / 1e9
    val runWall = (System.nanoTime() - runStart) / 1e9
    val gcS = (gcMs - gc0) / 1e3

    // ---------------- per-layer counts ----------------
    // the listener bus is asynchronous; give it a moment to drain
    Thread.sleep(500)
    val (builds, hits) = rec.stagedCounts(finalReads)
    val layer = mutable.LinkedHashMap.empty[String, Double]
    if (tr.on) {
      val opCount = math.max(1, results.size).toDouble
      layer("sources.read_s") = rec.get("scan_task_ms") / 1e3
      layer("sources.input_rows") = rec.get("input_rows").toDouble
      layer("sources.input_bytes") = rec.get("input_bytes").toDouble
      layer("stg.upsert_s") = tr.total("stg.upsert")
      layer("stg.upsert_rows") = upsertRows.toDouble
      layer("stg.normalize_s") = tr.total("stg.normalize")
      layer("stg.audit_s") = tr.total("stg.audit")
      layer("stg.store_bytes") = (dirBytes(storePath("stg_ohlcv")) + dirBytes(storePath("stg_barchart")) +
        dirBytes(s"$etlDir/stg_usda") + dirBytes(s"$etlDir/audit")).toDouble
      layer("ods.dims_s") = tr.total("ods.dims")
      layer("ods.fact_s") = tr.total("ods.fact")
      layer("ods.fact_rows") = (if (etl) spark.read.parquet(s"$etlDir/ods_fact").count() else 0L).toDouble
      layer("ods.exchanges") = if (etl) exch.map(_._1).sum / math.max(1, exch.size).toDouble else 0.0
      layer("mart.extracts_s") = tr.total("mart.extract")
      layer("mart.out_bytes") = dirBytes(s"$etlDir/mart").toDouble
      layer("plans.plan_s") = tr.total("plans.plan")
      layer("plans.exchanges") = exch.map(_._1).sum / opCount
      layer("plans.smj") = exch.map(_._2).sum / opCount
      layer("operators.call_s") = tr.total("operators.call")
      def moduleCall(m: String): Double = tr.spans.iterator
        .filter(s => s.name == "operators.call" && module(results(s.op).op) == m)
        .map(s => (s.endNs - s.startNs) / 1e9).sum
      layer("operators.relational_s") = moduleCall("relational")
      layer("operators.event_s") = moduleCall("event")
      layer("operators.text_s") = moduleCall("text")
      layer("operators.vector_s") = moduleCall("vector")
      layer("staged.builds") = builds.toDouble
      layer("staged.hits") = hits.toDouble
      layer("staged.hit_ratio") = if (builds + hits == 0) 0.0 else hits.toDouble / (builds + hits)
      layer("staged.build_s") = rec.get("stage_build_ms") / 1e3
      layer("staged.store_bytes") = dirBytes(stageRoot).toDouble
      layer("lifecycle.leaked_rdds") = leaked.toDouble
      layer("lifecycle.block_peak_mb") = rec.blockPeak.get / 1048576.0
      layer("streaming.drain_s") = rec.get("stream_drain_ms") / 1e3
      layer("streaming.batches") = rec.get("stream_batches").toDouble
      layer("streaming.add_batch_s") = rec.get("stream_add_batch_ms") / 1e3
      layer("streaming.wal_commit_s") = rec.get("stream_wal_ms") / 1e3
      layer("streaming.state_rows") = rec.totalStateRows.toDouble
      layer("exec.action_s") = tr.total("exec.action")
      layer("exec.jobs") = rec.get("jobs").toDouble
      layer("exec.stages") = rec.get("stages").toDouble
      layer("exec.tasks") = rec.get("tasks").toDouble
      layer("exec.task_cpu_s") = rec.get("task_cpu_ns") / 1e9
      layer("exec.cpu_util") = rec.get("task_cpu_ns") / 1e9 / (runWall * cpus.toDouble)
      layer("exec.sched_delay_s") = rec.get("sched_delay_ms") / 1e3
      layer("exec.shuffle_write_bytes") = rec.get("shuffle_write_bytes").toDouble
      layer("exec.shuffle_read_bytes") = rec.get("shuffle_read_bytes").toDouble
      layer("exec.fetch_wait_s") = rec.get("fetch_wait_ms") / 1e3
      layer("exec.spill_bytes") = rec.get("spill_bytes").toDouble
      layer("exec.failed_tasks") = rec.get("failed_tasks").toDouble
      layer("jvm.gc_s") = gcS
    }
    val storedBytes =
      if (etl) dirBytes(storePath("stg_ohlcv")) + dirBytes(storePath("stg_barchart")) +
        dirBytes(s"$etlDir/stg_usda") + dirBytes(s"$etlDir/audit") +
        dirBytes(s"$etlDir/ods_fact") + dirBytes(s"$etlDir/mart")
      else 0L
    val oracle = if (etl) Map.empty[String, String] else
      order.map(_._2).distinct.map(s => s -> SparkEntry.oracleSql(fullName(s))).toMap

    val w = new PrintWriter(s"$work/result.json")
    def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
    w.print("{")
    w.print(s""""setup_s":[${setups.map(num).mkString(",")}],""")
    w.print(s""""first_pass_s":${num(firstPass)},"warm_wall_s":${num(warmWall)},""")
    w.print(s""""run_wall_s":${num(runWall)},"peak_rss_mb":${num(vmHwmMb)},""")
    w.print(s""""stored_bytes":$storedBytes,"nights_applied":${results.count(_.op != "history")},""")
    w.print(s""""mart_year":$martYear,""")
    w.print(""""oracle":{""" + oracle.map { case (k, v) => jsonStr(k) + ":" + jsonStr(v) }.mkString(",") + "},")
    w.print(""""layer":{""" + layer.map { case (k, v) => jsonStr(k) + ":" + num(v) }.mkString(",") + "},")
    w.print(""""ops":[""" + results.map { r =>
      s"""{"pass":${r.pass},"op":${jsonStr(r.op)},"latency_s":${num(r.latency)},"rows":${r.rows},""" +
        s""""sum":"${r.sum}","error":${jsonStr(r.error)}}"""
    }.mkString(",") + "]}")
    w.close()
    if (tr.on) {
      val sw = new PrintWriter(s"$work/spans.jsonl")
      tr.spans.foreach { s =>
        sw.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${jsonStr(s.name)},""" +
          s""""start_ns":${s.startNs - runStart},"end_ns":${s.endNs - runStart}}""")
      }
      sw.close()
    }
    spark.stop()
  }
}
