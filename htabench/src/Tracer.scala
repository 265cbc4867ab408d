package htabench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.collection.mutable

/** Spark-side tracing from outside the engine: a `SparkListener` that keeps
  * every job, stage and task in memory. Jobs are attributed to the op whose
  * job group they carry, or, for jobs started on streaming threads (which
  * carry the stream's own group), to the op whose window contains their
  * start. Ops run one at a time from one client thread, so the window rule
  * is exact. Layers come from the call site: the innermost `graft.` frame
  * names the engine file that triggered the job. Jobs that adaptive query
  * execution submits from its own threads carry no engine frame; they take
  * the call site of their SQL execution, recorded on the client thread. */
final class Tracer extends SparkListener {
  final case class JobRec(id: Int, start: Long, var end: Long, group: String,
                          short: String, long: String, stages: Seq[Int], exec: Long)
  final case class ExecRec(id: Long, start: Long, var end: Long, short: String, long: String)
  final case class TaskRec(stage: Int, launch: Long, finish: Long,
                           inputRecords: Long, shuffleWrite: Long, spill: Long)
  final case class StageRec(id: Int, submit: Long, var complete: Long)

  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stages = mutable.HashMap[Int, StageRec]()
  private val tasks = mutable.ArrayBuffer[TaskRec]()
  private val execs = mutable.LinkedHashMap[Long, ExecRec]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        execs(s.executionId) = ExecRec(s.executionId, s.time, -1L, s.description, s.details)
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val last = e.stageInfos.maxBy(_.stageId)
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, e.time, -1L, prop("spark.jobGroup.id").getOrElse(""),
      last.name, last.details, e.stageInfos.map(_.stageId),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages(i.stageId) = StageRec(i.stageId,
      i.submissionTime.getOrElse(System.currentTimeMillis()), -1L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get(i.stageId).foreach { s =>
      s.complete = i.completionTime.getOrElse(System.currentTimeMillis())
    }
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    if (m != null)
      tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
        m.inputMetrics.recordsRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    else
      tasks += TaskRec(e.stageId, info.launchTime, info.finishTime, 0, 0, 0)
  }

  /** Engine layer of a call site, from its innermost `graft.` frame; call
    * sites in the benchmark's own files are `bench`. */
  private def layerOf(long: String): Option[String] =
    long.split("\n").map(_.trim).find(_.startsWith("graft.")) match {
      case Some(f) => Some(Layers.ofFile(f.substring(f.lastIndexOf('(') + 1).takeWhile(_ != ':')))
      case None if long.contains("htabench.") => Some("bench")
      case None => None
    }

  private def jobLayer(j: JobRec): String =
    layerOf(j.long).orElse(execs.get(j.exec).flatMap(x => layerOf(x.long))).getOrElse("spark")

  /** Per-op summary plus the spans of every op. */
  def summarize(ops: Seq[OpRecord]): (Map[Long, Map[String, Any]], Seq[Map[String, Any]]) = synchronized {
    val spans = mutable.ArrayBuffer[Map[String, Any]]()
    val groupOf = ops.map(o => o.group -> o).toMap
    def owner(j: JobRec): Option[OpRecord] =
      groupOf.get(j.group).orElse(
        ops.find(o => j.start >= o.startMs && j.start <= o.endMs))
    val byOp = jobs.values.toSeq.groupBy(owner).collect { case (Some(o), js) => o.id -> js }
    val tasksByStage = tasks.groupBy(_.stage)
    var spanId = 0L
    def span(parent: Long, name: String, op: Long, start: Long, end: Long,
             self: Double, extra: Map[String, Any] = Map.empty): Long = {
      spanId += 1
      spans += (Map[String, Any]("id" -> spanId, "parent" -> parent, "name" -> name,
        "op" -> op, "start_ms" -> start, "end_ms" -> end, "self_ms" -> self) ++ extra)
      spanId
    }
    def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
      val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = -1L; var curB = -1L
      for ((a, b) <- c) {
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total
    }
    val out = ops.map { o =>
      val js = byOp.getOrElse(o.id, Nil).sortBy(_.start)
      val stageIds = js.flatMap(_.stages).distinct.filter(stages.contains)
      val ts = stageIds.flatMap(s => tasksByStage.get(s).map(_.toSeq).getOrElse(Nil))
      val taskIv = ts.map(t => (t.launch, t.finish))
      val busyMs = unionMs(taskIv, o.startMs, o.endMs)
      val wallMs = math.max(1L, o.endMs - o.startMs)
      val layerMs = mutable.LinkedHashMap[String, Long]()
      // spans: op -> construct/execute -> job -> stage
      val root = span(0, o.cls, o.id, o.startMs, o.endMs,
        0.0, Map("ok" -> o.ok))
      val phases = Seq(("construct", o.startMs, o.constructEndMs),
        ("execute", o.constructEndMs, o.endMs))
      val phaseIds = phases.map { case (n, a, b) =>
        val inPhase = js.filter(j => j.start >= a && j.start <= b)
        val cover = unionMs(inPhase.map(j => (j.start, math.max(j.end, j.start))), a, b)
        (n, a, b, span(root, n, o.id, a, b, (b - a - cover).toDouble))
      }
      for (j <- js) {
        val end = math.max(j.end, j.start)
        val layer = jobLayer(j)
        layerMs(layer) = layerMs.getOrElse(layer, 0L) + (end - j.start)
        val parent = phaseIds.find { case (_, a, b, _) => j.start >= a && j.start <= b }
          .map(_._4).getOrElse(root)
        val jst = j.stages.filter(stages.contains).map(stages)
        val cover = unionMs(jst.map(s => (s.submit, math.max(s.complete, s.submit))), j.start, end)
        val jid = span(parent, s"job ${j.id}", o.id, j.start, end,
          (end - j.start - cover).toDouble, Map("layer" -> layer, "call_site" -> j.short))
        for (s <- jst) {
          val st = tasksByStage.get(s.id).map(_.toSeq).getOrElse(Nil)
          val sEnd = math.max(s.complete, s.submit)
          span(jid, s"stage ${s.id}", o.id, s.submit, sEnd,
            (sEnd - s.submit - unionMs(st.map(t => (t.launch, t.finish)), s.submit, sEnd)).toDouble,
            Map("tasks" -> st.size))
        }
      }
      val constructJobs = js.count(_.start <= o.constructEndMs)
      o.id -> Map[String, Any](
        "jobs" -> js.size,
        "construct_jobs" -> constructJobs,
        "stages" -> stageIds.size,
        "tasks" -> ts.size,
        "task_ms" -> ts.map(t => t.finish - t.launch).sum,
        "input_records" -> ts.map(_.inputRecords).sum,
        "shuffle_bytes" -> ts.map(t => t.shuffleWrite).sum,
        "spill_bytes" -> ts.map(_.spill).sum,
        "sched_wait_ms" -> (wallMs - busyMs),
        "layer_ms" -> layerMs.toMap,
        // SQL executions started inside the op, in order: the ingest phases
        // are read off their call sites
        "executions" -> execs.values.filter(x => x.start >= o.startMs && x.start <= o.endMs)
          .toSeq.sortBy(_.start).map(x => Map("call_site" -> x.short,
            "ms" -> (math.max(x.end, x.start) - x.start))))
    }.toMap
    (out, spans.toSeq)
  }
}

/** Engine files to the layer names the benchmark reports. */
object Layers {
  val pipelineFiles: Map[String, String] = Map(
    "Dedup.scala" -> "pipeline.Dedup", "Ann.scala" -> "pipeline.Ann",
    "TextOps.scala" -> "pipeline.TextOps", "Graph.scala" -> "pipeline.Graph",
    "Joins.scala" -> "pipeline.Relational", "Sessionize.scala" -> "pipeline.Relational",
    "Cdc.scala" -> "pipeline.Relational", "Profile.scala" -> "pipeline.Relational",
    "Sketches.scala" -> "pipeline.Relational", "TopK.scala" -> "pipeline.Relational",
    "Sampling.scala" -> "pipeline.Relational", "Curate.scala" -> "pipeline.TextOps",
    "Packing.scala" -> "pipeline.TextOps", "Eval.scala" -> "pipeline.Relational",
    "Series.scala" -> "pipeline.Series", "Multimodal.scala" -> "pipeline.Multimodal",
    "Flac.scala" -> "pipeline.Multimodal", "H264.scala" -> "pipeline.Multimodal",
    "Qoi.scala" -> "pipeline.Multimodal")

  def ofFile(file: String): String = file match {
    case "Warehouse.scala" | "MultiWarehouse.scala" | "Catalog.scala" => "store"
    case "BandIndex.scala" | "IvfStore.scala" | "TextIndex.scala" | "Bucketed.scala" |
         "Lease.scala" => "store.index"
    case "AggOps.scala" => "hta.AggOps"
    case "RetrieveFlex.scala" => "hta.RetrieveFlex"
    case "Telescope.scala" => "hta.Telescope"
    case "Queries.scala" | "Scoped.scala" => "hta.Queries"
    case "RollupRouting.scala" => "plans.RollupRouting"
    case f if f.startsWith("Stream") => "streaming.StreamIngest"
    case f if f.endsWith("Entries.scala") || f == "Shared.scala" || f == "Tables.scala" ||
              f == "Registry.scala" => "registry"
    case f => pipelineFiles.getOrElse(f, "other")
  }
}
