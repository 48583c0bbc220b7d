package graft.perfbench

import scala.collection.mutable

/** In-memory span recorder; spans are written out once, when the run ends.
  * With tracing off it still hands out spans (so callers need no branches)
  * but keeps none. */
final class Tracer(val on: Boolean) {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]
  val runId: String = java.util.UUID.randomUUID().toString

  def ms(nano: Long): Double = epochMs + (nano - nanoBase) / 1e6

  def reset(): Unit = spans.clear()

  def openAt(name: String, level: Int, parent: Long, start: Double, end: Double): Span = {
    val s = Span(nextId, parent, name, level, start, end)
    nextId += 1
    if (on) spans += s
    s
  }

  def open(name: String, level: Int, parent: Long, t0: Long = System.nanoTime()): Span =
    openAt(name, level, parent, ms(t0), ms(t0))

  def close(s: Span, t1: Long = System.nanoTime()): Span = {
    val closed = s.copy(end = ms(t1))
    if (on) spans(spans.lastIndexWhere(_.id == s.id)) = closed
    closed
  }

  def child(parent: Span, name: String, t0: Long, t1: Long): Span =
    openAt(name, parent.level + 1, parent.id, ms(t0), ms(t1))

  def childAt(parent: Span, name: String, start: Double, end: Double): Span =
    openAt(name, parent.level + 1, parent.id, start, end)

  /** Adds the listener's jobs (level 4) and stages (level 5) under the span
    * whose job group they ran in, and writes every span with its self time
    * (duration minus its children's). */
  def write(file: String, workload: String, seed: Long, probe: Probe,
            passTargets: Seq[String => Boolean]): Unit = {
    val byGroup = spans.filter(_.attrs.contains("job_group"))
      .map(s => s.attrs("job_group").toString -> s).toMap
    val jobSpan = mutable.HashMap.empty[Int, Span]
    probe.jobs.values.foreach { j =>
      byGroup.get(j.target).foreach { parent =>
        val s = openAt(s"job ${j.id}", 4, parent.id, j.start.toDouble, j.end.toDouble)
        jobSpan(j.id) = s
      }
    }
    probe.stages.foreach { st =>
      jobSpan.get(st.job).foreach { parent =>
        val s = openAt(s"stage ${st.id}", 5, parent.id, st.start.toDouble, st.end.toDouble)
        s.attrs ++= Seq("stage_name" -> st.name, "tasks" -> st.totals.tasks, "input_bytes" -> st.totals.inBytes,
          "shuffle_write_bytes" -> st.totals.shWriteBytes,
          "shuffle_read_bytes" -> st.totals.shReadBytes,
          "spill_disk_bytes" -> st.totals.spillDisk, "output_bytes" -> st.totals.outBytes)
      }
    }
    spans.foreach { s =>
      s.attrs.get("job_group").flatMap(g => probe.byTarget.get(g.toString)).foreach { t =>
        s.attrs ++= Seq("jobs" -> t.jobs, "tasks" -> t.tasks, "task_ms" -> t.taskMs,
          "scan_bytes" -> t.inBytes, "shuffle_write_bytes" -> t.shWriteBytes,
          "shuffle_read_bytes" -> t.shReadBytes, "spill_disk_bytes" -> t.spillDisk,
          "sink_bytes" -> t.outBytes)
      }
    }
    val childSum = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.end - c.start).sum }
    val rows = spans.map { s =>
      val dur = s.end - s.start
      Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "run_id" -> runId,
        "name" -> s.name, "level" -> s.level, "start_ms" -> s.start, "end_ms" -> s.end,
        "self_ms" -> (dur - childSum.getOrElse(s.id, 0.0)), "attrs" -> Json.obj(s.attrs.toSeq))).text
    }
    val unattributed = probe.jobs.values.count(j =>
      !Tracer.checks(j.target) && !passTargets.exists(_(j.target)))
    val out = Json.obj(Seq("run_id" -> runId, "workload" -> workload, "seed" -> seed,
      "unattributed_jobs" -> unattributed, "spans" -> Json.Raw(rows.mkString("[\n", ",\n", "\n]"))))
    val f = new java.io.File(file)
    Option(f.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(f.toPath, out.text + "\n")
  }
}

object Tracer {
  /** Job groups of the benchmark's own work outside the passes: the stage
    * builds timed after them and the stream output check. */
  val stageProbe = "stage-probe"
  val verify = "verify"
  val checks = Set(stageProbe, verify)
}

/** Minimal JSON writer: numbers, strings, booleans, nested objects. */
object Json {
  final case class Raw(text: String)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"non-finite metric $d")
    d.toString
  }

  def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))

  /** The result line: the four contract keys, metrics as value + unit. */
  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, (Double, String))]): String =
    obj(Seq("correct" -> correct, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> obj(metrics.map { case (k, (v, u)) =>
        k -> obj(Seq("value" -> v, "unit" -> u)) }))).text
}

/** The recorded output digest of every key (`expected.json`). */
object Expected {
  def read(file: String): Map[String, Digest] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(file))
    val it = root.get("keys").properties().iterator()
    val b = Map.newBuilder[String, Digest]
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> Digest(e.getValue.get("rows").asLong(),
        java.lang.Long.parseUnsignedLong(e.getValue.get("checksum").asText(), 16))
    }
    b.result()
  }

  /** Adds one entry per key to `file` (replacing older entries of the same
    * keys); refuses a key whose digest differs between passes (its output
    * would not be checkable). */
  def write(file: String, digests: Seq[(String, Digest)]): Unit = {
    val byKey = digests.groupBy(_._1).map { case (k, ds) => k -> ds.map(_._2).distinct }
    val unstable = byKey.filter(_._2.size > 1).keys.toSeq.sorted
    require(unstable.isEmpty, s"output differs between passes: ${unstable.mkString(", ")}")
    val prior = if (new java.io.File(file).isFile) read(file) else Map.empty[String, Digest]
    val merged = prior ++ byKey.map { case (k, ds) => k -> ds.head }
    val keys = merged.toSeq.sortBy(_._1).map { case (k, d) =>
      k -> Json.obj(Seq("rows" -> d.rows, "checksum" -> d.hex)) }
    java.nio.file.Files.writeString(new java.io.File(file).toPath,
      Json.obj(Seq("keys" -> Json.obj(keys))).text + "\n")
  }
}

/** Read-only view of `graft.llm.Memo`'s stage cache: which stages a
  * session built, and dropping a finished session's entries so one pass
  * never serves the next. */
final class MemoView {
  private val cache: java.util.concurrent.ConcurrentHashMap[String, _] = {
    val m = graft.llm.Memo
    val f = m.getClass.getDeclaredFields
      .find(f => classOf[java.util.concurrent.ConcurrentHashMap[_, _]].isAssignableFrom(f.getType))
      .getOrElse(sys.error("Memo has no stage cache field"))
    f.setAccessible(true)
    f.get(m).asInstanceOf[java.util.concurrent.ConcurrentHashMap[String, _]]
  }

  /** Entry keys are `<session token>:<dataset dir>:<stage>:<version>`. */
  def stagesOf(token: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    cache.keySet.asScala.filter(_.startsWith(token + ":"))
      .map(k => k.split(":").reverse(1)).toSet
  }

  def drop(token: String): Unit = cache.keySet.removeIf(_.startsWith(token + ":"))
}

/** Per-layer metrics of a traced run: per timed pass, then the median
  * over passes. */
object Layers {
  /** The Memo stages timed by [[graft.llm.BenchStages]]. */
  val stageNames = Seq("shingles3", "near_pairs", "cluster_labels")

  /** Every per-layer metric name with its unit, in output order. */
  val catalog: Seq[(String, String)] =
    Workloads.modules.flatMap(m => Seq(s"$m.build_s" -> "s", s"$m.plan_s" -> "s",
      s"$m.exec_s" -> "s", s"$m.jobs" -> "count")) ++
    stageNames.map(n => s"llm.stage.${n}_s" -> "s") ++
    Seq("setup.session_s" -> "s", "setup.footers_s" -> "s",
      "setup.layout.ingest_feat_s" -> "s",
      "exec.tasks" -> "count", "exec.task_s" -> "s", "exec.cpu_s" -> "s",
      "exec.gc_s" -> "s", "exec.peak_task_mem_mb" -> "MB", "exec.slot_idle_frac" -> "1",
      "scan.bytes" -> "bytes", "scan.rows" -> "rows", "scan.time_s" -> "s",
      "shuffle.write_bytes" -> "bytes", "shuffle.read_bytes" -> "bytes",
      "shuffle.write_s" -> "s", "shuffle.fetch_wait_s" -> "s",
      "shuffle.bytes_per_scan_byte" -> "1",
      "spill.mem_bytes" -> "bytes", "spill.disk_bytes" -> "bytes",
      "sink.bytes" -> "bytes", "sink.files" -> "count", "sink.bytes_per_scan_byte" -> "1",
      "plan.exchanges" -> "count", "plan.sort_merge_joins" -> "count",
      "plan.broadcast_joins" -> "count", "plan.non_codegen_nodes" -> "count",
      "plan.scala_udfs" -> "count",
      "streaming.batches" -> "count", "streaming.index_build_s" -> "s",
      "streaming.add_batch_s" -> "s", "streaming.query_planning_s" -> "s",
      "streaming.wal_commit_s" -> "s", "streaming.state_commit_s" -> "s",
      "streaming.state_rows_max" -> "rows")

  private def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0

  def of(passes: Seq[Main.Pass], probe: Probe, cores: Int,
         stageS: Map[String, Double], setup: Map[String, Double]): Seq[(String, (Double, String))] = {
    val perPass = passes.map { p =>
      val m = mutable.HashMap.empty[String, Double].withDefaultValue(0.0)
      p.ops.foreach { o =>
        m(s"${o.module}.build_s") += o.build; m(s"${o.module}.plan_s") += o.plan
        m(s"${o.module}.exec_s") += o.exec
        m(s"${o.module}.jobs") += probe.byTarget.get(s"p${p.index}|${o.name}").map(_.jobs).getOrElse(0L)
      }
      val t = probe.sum(p.targets)
      val jobWall = probe.jobWall(p.targets)
      m("exec.tasks") = t.tasks; m("exec.task_s") = t.taskMs / 1e3
      m("exec.cpu_s") = t.cpuNs / 1e9; m("exec.gc_s") = t.gcMs / 1e3
      m("exec.peak_task_mem_mb") = t.peakMem / (1024.0 * 1024.0)
      m("exec.slot_idle_frac") = if (jobWall > 0) 1 - t.taskMs / 1e3 / (jobWall * cores) else 0.0
      m("scan.bytes") = t.inBytes; m("scan.rows") = t.inRecords
      m("shuffle.write_bytes") = t.shWriteBytes; m("shuffle.read_bytes") = t.shReadBytes
      m("shuffle.write_s") = t.shWriteNs / 1e9; m("shuffle.fetch_wait_s") = t.fetchWaitMs / 1e3
      m("shuffle.bytes_per_scan_byte") = ratio(t.shWriteBytes, t.inBytes)
      m("spill.mem_bytes") = t.spillMem; m("spill.disk_bytes") = t.spillDisk
      m("sink.bytes") = t.outBytes; m("sink.files") = t.outTasks
      m("sink.bytes_per_scan_byte") = ratio(t.outBytes, t.inBytes)
      p.plans.map(Sink.shape).foreach(_.foreach { case (k, v) =>
        if (k == "scan_time_s") m("scan.time_s") += v else m(s"plan.$k") += v })
      p.stream.foreach { case (k, v) => m(s"streaming.$k") = v }
      m
    }
    val used = passes.flatMap(_.stages).toSet
    catalog.map { case (name, unit) =>
      val v = name match {
        case n if n.startsWith("llm.stage.") =>
          val st = n.stripPrefix("llm.stage.").stripSuffix("_s")
          if (used(st)) stageS.getOrElse(st, 0.0) else 0.0
        case n if n.startsWith("setup.") =>
          setup(n.stripPrefix("setup.").stripSuffix("_s"))
        case n => Main.median(perPass.map(_(n)))
      }
      name -> (v, unit)
    }
  }
}
