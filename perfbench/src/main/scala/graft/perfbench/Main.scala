package graft.perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.{Fixtures, Registry, Tables}

/** Full-plan workload benchmark. One run:
  *
  *  1. set-up: the Spark session, then three times the table footers and
  *     every write-once layout built from an empty fixture root;
  *  2. one untimed warm pass;
  *  3. `--passes` timed passes, each in a fresh `spark.newSession()`.
  *
  * Every key runs its whole plan into [[Sink]], whose digest is checked
  * against `--expected`. The last stdout line is the result JSON.
  *
  * Usage: Main --workload W --seed N --data DIR --expected FILE
  *             [--trace 0|1] [--trace-out FILE] [--record FILE] [--passes K]
  */
object Main {
  final case class Op(pass: Int, name: String, module: String, build: Double,
                      plan: Double, exec: Double, wall: Double, ok: Boolean)

  /** One pass: its operations, final plans, the listener targets its jobs
    * ran under, stream statistics, the Memo stages it built, and the
    * output digest of every key. */
  final case class Pass(index: Int, wall: Double, ops: Seq[Op],
                        plans: Seq[SparkPlan], targets: String => Boolean,
                        stream: Map[String, Double], stages: Set[String],
                        digests: Seq[(String, Digest)]) {
    def merge(o: Pass): Pass = Pass(index, wall + o.wall, ops ++ o.ops, plans ++ o.plans,
      t => targets(t) || o.targets(t), stream ++ o.stream, stages ++ o.stages,
      digests ++ o.digests)
  }

  private def now(): Long = System.nanoTime()

  /** A progress line on stderr, stamped with seconds since JVM start. */
  private def say(msg: String): Unit = System.err.println(f"[perfbench ${
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%6.1f] $msg")
  private def secs(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Each operation's median latency over the timed passes (an operation
    * is one key run to its sink, or one micro-batch). */
  def perOp(ops: Seq[Op]): Map[String, Double] =
    ops.groupBy(_.name).map { case (k, os) => k -> median(os.map(_.wall)) }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val traced = opt.getOrElse("trace", "0") == "1"
    val dir = new java.io.File(opt("data")).getAbsolutePath
    val setups = 3
    val warm = 1
    val passes = opt.getOrElse("passes", "3").toInt
    val record = opt.get("record")
    val expected = if (record.isDefined) Map.empty[String, Digest]
                   else Expected.read(opt("expected"))
    val cores = 4
    val keys = Workloads.keys(workload, seed)
    require(keys.nonEmpty || Workloads.streams(workload), s"$workload has no operations")
    val fns = keys.map(k => k -> Registry.byName(k).fn).toMap

    // ---- set-up ---------------------------------------------------------
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${Fixtures.dir}/warehouse")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    spark.range(1).collect()
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    say("session ready")

    val tracer = new Tracer(traced)
    val probe = new Probe
    if (traced) sc.addSparkListener(probe)

    val tables = Workloads.tables(workload)
    val fixtures = new java.io.File(Fixtures.dir)
    val setupRuns = (0 until setups).map { i =>
      if (i > 0) wipe(fixtures)
      val s = Tables.configure(spark.newSession())
      def timed(body: => Any): Double = { val t0 = now(); body; secs(t0, now()) }
      val footers = timed(tables.foreach(t => s.read.parquet(s"$dir/$t.parquet").schema))
      val layouts = Workloads.layouts(workload).map { l =>
        s"layout.$l" -> timed(l match {
          case "ingest_feat" => graft.llm.Dedup.ingestFeatPath(s, dir)
        })
      }
      (Seq("footers" -> footers) ++ layouts :+
        ("total" -> (footers + layouts.map(_._2).sum))).toMap
    }
    setupRuns.foreach(r => say(s"setup ${r.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")}"))
    def setupMedian(k: String) = median(setupRuns.map(_.getOrElse(k, 0.0)))
    val setupS = sessionS + setupMedian("total")

    val inDir = s"${Fixtures.dir}/perfbench_stream_in"
    if (Workloads.streams(workload)) writeStreamInput(spark, dir, inDir)
    // Every pass starts from the fixture root as set-up left it: files a
    // pass writes (scan fixtures, sinks, catalogs, layouts built on first
    // use) are removed after it, so no pass reads what an earlier one wrote.
    val kept = Option(fixtures.list()).toSet.flatten

    // ---- passes ---------------------------------------------------------
    val memo = new MemoView
    val heap = new HeapPeak(sc)
    def runPass(p: Int, timedPass: Boolean): Pass = {
      val s = Tables.configure(spark.newSession())
      graft.functions.Custom.register(s)
      val passSpan = tracer.open(s"pass $p", 1, 0L)
      // the session's lazy state (catalog, analyzer, planner) is built here,
      // not inside whichever key the seed puts first
      val t0 = now()
      s.sql("SELECT 1").collect()
      val sessionInit = secs(t0, now())
      tracer.close(tracer.open("session", 2, passSpan.id, t0))
      val batch = keysPass(s, p, keys, fns, dir, expected, record, tracer, passSpan.id)
      if (timedPass) {
        val h = tracer.open("heap", 2, passSpan.id)
        h.attrs("untimed") = true
        heap.mark()
        tracer.close(h)
      }
      val result = if (!Workloads.streams(workload)) batch
        else batch.merge(streamPass(s, p, dir, inDir, expected, record, tracer, passSpan.id,
          Some(heap).filter(_ => timedPass)))
      val wall = sessionInit + result.wall
      tracer.close(passSpan)
      val heapMb = if (timedPass) f" heap=${heap.endPass()}%.1f MB" else ""
      say(f"pass $p ${if (timedPass) "timed" else "warm"} $wall%.3f s$heapMb " +
        result.ops.map(o => f"${o.name.replace(' ', '_')}=${o.wall}%.3f").mkString(" "))
      val token = graft.llm.Memo.sessionToken(s)
      val stages = memo.stagesOf(token)
      memo.drop(token)
      release(spark)
      Option(fixtures.listFiles()).toSeq.flatten.filterNot(f => kept(f.getName))
        .foreach { f => wipe(f); f.delete() }
      result.copy(index = p, wall = wall, stages = stages)
    }

    (0 until warm).foreach { p => runPass(p, timedPass = false) }
    if (traced) { BusShim.drain(sc); probe.reset(); tracer.reset() }
    val timed = (warm until warm + passes).map(runPass(_, timedPass = true))

    val ops = timed.flatMap(_.ops)
    val failed = ops.count(!_.ok)
    val e2e = {
      val wall = median(timed.map(_.wall))
      val nominal = Workloads.nominalRows(workload).toDouble
      val lat = perOp(ops)
      val (tailOp, tailV) = lat.maxBy(_._2)
      say(f"$workload seed=$seed passes=${timed.size} ops=${ops.size} " +
        f"slowest=$tailOp fail_ratio=${failed.toDouble / ops.size}%.4f " +
        f"nominal_rows=${nominal.toLong}")
      Seq("setup_s" -> (setupS, "s"), "wall_s" -> (wall, "s"),
        "rows_per_s" -> (nominal / wall, "rows/s"),
        "op_p50_s" -> (median(lat.values.toSeq), "s"), "op_tail_s" -> (tailV, "s"),
        "heap_peak_mb" -> (median(heap.passPeaks.toSeq), "MB"))
    }

    val metrics = if (!traced) e2e else {
      BusShim.drain(sc)
      val stageS = if (timed.exists(_.stages.nonEmpty)) {
        sc.setJobGroup(Tracer.stageProbe, "stage builds", interruptOnCancel = false)
        val built = graft.llm.BenchStages.time(Tables.configure(spark.newSession()), dir).toMap
        sc.clearJobGroup()
        release(spark)
        built
      } else Map.empty[String, Double]
      val layers = Layers.of(timed, probe, cores, stageS,
        Map("session" -> sessionS, "footers" -> setupMedian("footers"),
          "layout.ingest_feat" -> setupMedian("layout.ingest_feat")))
      opt.get("trace-out").foreach { f =>
        tracer.write(f, workload, seed, probe, timed.map(_.targets))
      }
      layers
    }
    record.foreach { f =>
      // the streamed verdicts are recorded as, and must equal, the batch
      // llm_ingest_e2e rows
      val batchFunnel = if (!Workloads.streams(workload)) Nil else {
        val s = Tables.configure(spark.newSession())
        Seq("llm_ingest_e2e" -> Sink.run(Sink.classic(
          Registry.byName("llm_ingest_e2e").fn(s, dir)).queryExecution, "llm_ingest_e2e"))
      }
      Expected.write(f, timed.flatMap(_.digests).map {
        case ("stream_ingest", d) => "llm_ingest_e2e" -> d
        case other => other
      } ++ batchFunnel)
    }
    spark.stop()
    say("done")
    println(Json.result(failed == 0, ops.size, failed, metrics))
  }

  /** Live heap after a full GC, read at fixed points of each timed pass;
    * a pass's peak is its largest reading. A reading drains the listener
    * bus first, so releases a listener triggers have either happened or
    * not started. The reported figure is the median of the pass peaks: the
    * first timed pass sometimes still holds blocks of the warm pass that
    * the context cleaner has not yet removed (+20 MB on curation_pipeline). */
  final class HeapPeak(sc: org.apache.spark.SparkContext) {
    val passPeaks = mutable.ArrayBuffer.empty[Double]
    private var passMax = 0.0
    /** Takes one reading; returns the seconds it took. */
    def mark(): Double = {
      val t0 = now()
      BusShim.drain(sc)
      System.gc()
      passMax = math.max(passMax, java.lang.management.ManagementFactory
        .getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
      secs(t0, now())
    }
    /** Closes the pass: records and returns its peak. */
    def endPass(): Double = {
      passPeaks += passMax
      passMax = 0.0
      passPeaks.last
    }
  }

  /** Release everything a pass left pinned: persisted RDDs (checkpointed
    * stages, indexes) and the session-level cache. */
  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  private def wipe(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach { c =>
      if (c.isDirectory) wipe(c)
      c.delete()
    }
  }

  /** The incoming split (odd doc_ids) as one parquet file, replayed as
    * one micro-batch. */
  private def writeStreamInput(spark: SparkSession, dir: String, inDir: String): Unit =
    Tables.documents(spark, dir).filter(col("doc_id") % 2 =!= 0).coalesce(1)
      .write.parquet(inDir)

  private def keysPass(s: SparkSession, p: Int, keys: Seq[String],
                       fns: Map[String, (SparkSession, String) => DataFrame],
                       dir: String, expected: Map[String, Digest],
                       record: Option[String], tracer: Tracer, parent: Long): Pass = {
    val sc = s.sparkContext
    val start = now()
    val plans = mutable.ArrayBuffer.empty[SparkPlan]
    val digests = mutable.ArrayBuffer.empty[(String, Digest)]
    val ops = keys.map { k =>
      val module = Workloads.moduleOf.getOrElse(k, "other")
      val keySpan = tracer.open(k, 2, parent)
      keySpan.attrs("module") = module
      keySpan.attrs("job_group") = s"p$p|$k"
      sc.setJobGroup(s"p$p|$k", k, interruptOnCancel = false)
      val t0 = now(); var t1 = t0; var t2 = t0
      var plan = Option.empty[SparkPlan]
      val ok = try {
        val df = fns(k)(s, dir)
        t1 = now()
        val qe = Sink.classic(df).queryExecution
        qe.executedPlan
        t2 = now()
        val d = Sink.run(qe, k)
        plan = Some(qe.executedPlan)
        digests += k -> d
        keySpan.attrs("rows") = d.rows
        val matches = record.isDefined || expected.get(k).contains(d)
        if (!matches) System.err.println(s"[perfbench] $k: output does not match the expected digest")
        matches
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $k FAILED: ${e.getClass.getName}: ${e.getMessage}")
        false
      } finally sc.clearJobGroup()
      val t3 = now()
      if (t1 == t0) t1 = t3
      if (t2 == t0) t2 = t3
      tracer.child(keySpan, "build", t0, t1)
      tracer.child(keySpan, "plan", t1, t2)
      tracer.child(keySpan, "exec", t2, t3)
      tracer.close(keySpan, t3)
      if (tracer.on) plan.foreach { pl =>
        plans += pl
        keySpan.attrs("tables") = Sink.tables(pl, dir).mkString(" ")
        keySpan.attrs ++= Sink.shape(pl)
      }
      Op(p, k, module, secs(t0, t1), secs(t1, t2), secs(t2, t3), secs(t0, t3), ok)
    }
    Pass(p, secs(start, now()), ops, plans.toSeq, _.startsWith(s"p$p|"), Map.empty, Set.empty,
      digests.toSeq)
  }

  /** One replay of the incoming split through the stream funnel. Each
    * micro-batch is one operation; the union of the batch outputs must
    * equal the batch `llm_ingest_e2e` rows. */
  private def streamPass(s: SparkSession, p: Int, dir: String, inDir: String,
                         expected: Map[String, Digest], record: Option[String],
                         tracer: Tracer, parent: Long, heap: Option[HeapPeak]): Pass = {
    val work = s"${Fixtures.dir}/perfbench_stream_p$p"
    val outDir = s"$work/out"; val ckpt = s"$work/ckpt"
    val docs = Tables.documents(s, dir)
    val sc = s.sparkContext
    sc.setJobGroup(s"p$p|stream", "stream_ingest", interruptOnCancel = false)
    val t0 = now()
    val standFeat = s.read.parquet(graft.llm.Dedup.ingestFeatPath(s, dir))
      .filter(col("doc_id") % 2 === 0)
    val q = graft.streaming.Streams.ingestFunnel(s, inDir, docs.schema, standFeat,
      outDir, ckpt, maxFilesPerTrigger = 1)
    val t1 = now()
    // the heap is read while the index and the state store are still held;
    // the reading is not part of the pass
    var heapS = 0.0
    var heapAt = 0L
    try {
      q.processAllAvailable()
      heapAt = now()
      heapS = heap.map(_.mark()).getOrElse(0.0)
    } finally q.stop()
    val t2 = now()
    sc.clearJobGroup()
    val runId = q.runId.toString
    val progress = q.recentProgress.filter(_.numInputRows > 0).toSeq
    val startSpan = tracer.open("funnel_start", 2, parent, t0)
    startSpan.attrs("job_group") = s"p$p|stream"
    tracer.close(startSpan, t1)
    val batchOps = progress.map { pr =>
      val dur = pr.durationMs
      def ms(k: String): Double = Option(dur.get(k)).map(_.doubleValue).getOrElse(0.0)
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
      val span = tracer.openAt(s"batch ${pr.batchId}", 2, parent, start,
        start + ms("triggerExecution"))
      span.attrs("module") = "streaming"
      span.attrs("job_group") = s"$runId#${pr.batchId}"
      span.attrs("rows") = pr.numInputRows
      var at = start
      Seq("latestOffset" -> "offsets", "walCommit" -> "wal", "getBatch" -> "plan",
          "queryPlanning" -> "plan", "addBatch" -> "exec", "commitOffsets" -> "wal")
        .foreach { case (k, n) =>
          if (ms(k) > 0) { tracer.childAt(span, n, at, at + ms(k)); at += ms(k) } }
      Op(p, s"batch ${pr.batchId}", "streaming", 0.0, ms("queryPlanning") / 1e3,
        ms("addBatch") / 1e3, ms("triggerExecution") / 1e3, ok = true)
    }
    val lastBatchEnd = (tracer.ms(t1) +: progress.map(pr =>
      java.time.Instant.parse(pr.timestamp).toEpochMilli +
        pr.durationMs.get("triggerExecution").doubleValue)).max
    if (heap.isEmpty) tracer.openAt("stop", 2, parent, lastBatchEnd, tracer.ms(t2))
    else {
      val heapEnd = heapAt + (heapS * 1e9).toLong
      tracer.openAt("await", 2, parent, lastBatchEnd, tracer.ms(heapAt))
      tracer.openAt("heap", 2, parent, tracer.ms(heapAt), tracer.ms(heapEnd))
        .attrs("untimed") = true
      tracer.openAt("stop", 2, parent, tracer.ms(heapEnd), tracer.ms(t2))
    }
    // the check reads the batch outputs back; it is not part of the pass
    val verifySpan = tracer.open("verify", 2, parent)
    verifySpan.attrs("untimed") = true
    sc.setJobGroup(Tracer.verify, "stream output check", interruptOnCancel = false)
    val batchDirs = Option(new java.io.File(outDir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("batch_")).map(_.toString).sorted
    val d = Sink.run(Sink.classic(s.read.parquet(batchDirs: _*)).queryExecution, "stream verify")
    sc.clearJobGroup()
    tracer.close(verifySpan)
    val ok = record.isDefined || expected.get("llm_ingest_e2e").contains(d)
    if (!ok) System.err.println(s"[perfbench] stream pass $p: verdicts differ from llm_ingest_e2e")
    def sum(k: String) = progress.map(pr =>
      Option(pr.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / 1e3
    val stats = Map(
      "batches" -> progress.size.toDouble,
      "index_build_s" -> secs(t0, t1),
      "add_batch_s" -> sum("addBatch"),
      "query_planning_s" -> sum("queryPlanning"),
      "wal_commit_s" -> (sum("walCommit") + sum("commitOffsets")),
      "state_commit_s" -> progress.flatMap(_.stateOperators.map(_.commitTimeMs)).sum / 1e3,
      "state_rows_max" -> progress.flatMap(_.stateOperators.map(_.numRowsTotal.toDouble))
        .maxOption.getOrElse(0.0))
    wipe(new java.io.File(work))
    Pass(p, secs(t0, t2) - heapS, batchOps.map(_.copy(ok = ok)), Nil,
      t => t.startsWith(s"p$p|stream") || t.startsWith(runId), stats, Set.empty,
      Seq("stream_ingest" -> d))
  }
}
