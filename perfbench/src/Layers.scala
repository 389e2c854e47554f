package perfbench

import graft.table.{LakeTable, Snapshot}

import scala.collection.mutable

/** One unit of timed work: a trigger with input (tails) or one replay job.
  * `apply` and `compact` are the metrics of the snapshots it committed.
  */
final case class Work(start: Double, end: Double, batchId: Long,
    apply: Map[String, Long], compact: Option[Map[String, Long]],
    progress: Option[TriggerProgress])

/** What a traced run observed, from which [[Layers]] derives the per-layer
  * metrics. Everything here was read from outside the engine: spans around
  * its public calls, listener events, and the snapshots' lineage metrics.
  */
final case class Observed(
    tracer: Tracer,
    sparkLog: SparkLog,
    parentSpan: String,
    work: Seq[Work],
    timedVersions: Seq[Snapshot],
    table: LakeTable,
    readSnapshot: Snapshot,
    lookupKeys: Seq[(String, Int)],
    gcDelta: (Long, Long))

object Layers {
  private val Phases = Seq(
    "latestOffset" -> "streaming.latest_offset", "walCommit" -> "streaming.wal_commit",
    "getBatch" -> "streaming.get_batch", "queryPlanning" -> "streaming.query_planning")

  /** Places trigger phases, apply, commit, compaction and Spark jobs/stages
    * as spans, then derives the per-layer metrics. Returns (metrics, extras
    * for the run record).
    */
  def compute(ob: Observed): (Seq[(String, (Double, String))], Map[String, Any]) = {
    val tr = ob.tracer
    val parent = tr.named(ob.parentSpan).lastOption.map(_.id).getOrElse(0)

    // 1. units of work and what happened inside them
    val unitIds = ob.work.map { w =>
      val name = if (w.progress.isDefined) "streaming.trigger" else "operators.replay_job"
      val id = tr.add(parent, name, w.start, w.end)
      var t = w.start
      w.progress.foreach { p =>
        Phases.foreach { case (k, span) =>
          val d = p.phases.getOrElse(k, 0L).toDouble
          if (d > 0) tr.add(id, span, t, t + d)
          t += d
        }
      }
      val dur = w.apply.getOrElse("durationMs", 0L).toDouble
      val meta = w.apply.getOrElse("metaMs", 0L).toDouble
      tr.add(id, "operators.apply", t, t + dur - meta)
      tr.add(id, "table.commit", t + dur - meta, t + dur)
      val addBatch = w.progress.flatMap(_.phases.get("addBatch")).map(_.toDouble).getOrElse(dur)
      if (w.compact.isDefined) tr.add(id, "operators.compact", t + dur, t + addBatch)
      w.progress.foreach { p =>
        val d = p.phases.getOrElse("commitOffsets", 0L).toDouble
        if (d > 0) tr.add(id, "streaming.commit_offsets", t + addBatch, t + addBatch + d)
      }
      id
    }

    // 2. Spark jobs and stages, under whichever span was open at job start
    val benchSpans = tr.spans.map(_.name).toSet
    val stagesByJob = ob.sparkLog.allStages.groupBy(_.jobId)
    val jobSpan = mutable.Map.empty[Int, Int]
    ob.sparkLog.allJobs.foreach { j =>
      val at = tr.innermostAt(j.submit, benchSpans).map(_.id).getOrElse(0)
      val end = if (j.end.isNaN) j.submit else j.end
      val id = tr.add(at, "spark.job", j.submit, end, Map("job_id" -> j.jobId.toDouble))
      jobSpan(j.jobId) = at
      stagesByJob.getOrElse(j.jobId, Seq.empty).foreach { s =>
        tr.add(id, "spark.stage", s.submit, s.complete,
          Map("stage_id" -> s.stageId.toDouble, "tasks" -> s.taskRunMs.size.toDouble))
      }
    }
    val byId = tr.spans.map(s => s.id -> s).toMap
    def ancestors(id: Int): List[Span] = byId.get(id) match {
      case Some(s) => s :: ancestors(s.parent)
      case None => Nil
    }
    def unitOf(spanId: Int): Option[Int] = {
      val chain = ancestors(spanId).map(_.id).toSet
      Some(unitIds.indexWhere(chain)).filter(_ >= 0)
    }
    def inside(spanId: Int, name: String): Boolean = ancestors(spanId).exists(_.name == name)

    final case class StageIn(unit: Int, compact: Boolean, s: StageRec)
    val stagesIn = ob.sparkLog.allJobs.flatMap { j =>
      val at = jobSpan.getOrElse(j.jobId, 0)
      unitOf(at).toSeq.flatMap { u =>
        stagesByJob.getOrElse(j.jobId, Seq.empty).map(s => StageIn(u, inside(at, "operators.compact"), s))
      }
    }
    val units = math.max(1, ob.work.size).toDouble
    val out = mutable.ArrayBuffer.empty[(String, (Double, String))]
    def put(k: String, v: Double, unit: String): Unit = out += k -> (v, unit)

    // streaming: per-trigger means over triggers with input
    val prog = ob.work.flatMap(_.progress)
    def phaseMean(k: String) =
      if (prog.isEmpty) 0.0 else prog.map(_.phases.getOrElse(k, 0L).toDouble).sum / prog.size
    val trig = phaseMean("triggerExecution")
    val add = phaseMean("addBatch")
    put("streaming.batches", prog.size, "count")
    put("streaming.trigger_ms", trig, "ms")
    put("streaming.add_batch_ms", add, "ms")
    put("streaming.overhead_ms", trig - add, "ms")
    put("streaming.latest_offset_ms", phaseMean("latestOffset"), "ms")
    put("streaming.query_planning_ms", phaseMean("queryPlanning"), "ms")
    put("streaming.wal_commit_ms", phaseMean("walCommit"), "ms")
    put("streaming.commit_offsets_ms", phaseMean("commitOffsets"), "ms")
    // self-check: trigger time no phase and no commit lineage accounts for
    val remainder = ob.work.flatMap { w =>
      w.progress.map { p =>
        val phases = p.phases.filter { case (k, _) => k != "triggerExecution" && k != "addBatch" }.values.sum
        val compact = if (w.compact.isDefined)
          p.phases.getOrElse("addBatch", 0L) - w.apply.getOrElse("durationMs", 0L) else 0L
        (p.phases.getOrElse("triggerExecution", 0L) - phases - w.apply.getOrElse("durationMs", 0L) - compact).toDouble
      }
    }
    put("streaming.unattributed_ms", if (remainder.isEmpty) 0.0 else remainder.sum / remainder.size, "ms")

    // table: commits of the timed phase
    val applies = ob.work.map(_.apply)
    put("table.commit_ms", applies.map(_.getOrElse("metaMs", 0L)).sum / units, "ms")
    put("table.commit_retries", ob.timedVersions.map { s =>
      (if (s.metrics.contains("rebasedFrom")) 1L else 0L) + math.max(0L, s.metrics.getOrElse("rerunAttempt", 1L) - 1)
    }.sum.toDouble, "count")
    put("table.versions", ob.timedVersions.size, "count")
    val snap = ob.readSnapshot
    put("table.manifests", snap.manifests.size, "count")

    // operators
    val jobsPerUnit = ob.sparkLog.allJobs.count(j => unitOf(jobSpan.getOrElse(j.jobId, 0)).isDefined)
    put("operators.jobs", jobsPerUnit / units, "count")
    put("operators.stages", stagesIn.size / units, "count")
    put("operators.tasks", stagesIn.map(_.s.taskRunMs.size).sum / units, "count")
    put("operators.apply_ms", applies.map(_.getOrElse("durationMs", 0L)).sum / units, "ms")
    val writeSide = stagesIn.filterNot(_.compact).map(_.s)
    val exchange = writeSide.filter(_.shuffleWriteRecords > 0)
    val foldWrite = writeSide.filter(s => s.shuffleWriteRecords == 0 && s.outputBytes > 0)
    def sumU(xs: Seq[StageRec])(f: StageRec => Double) = xs.map(f).sum / units
    put("operators.exchange.stage_ms", sumU(exchange)(_.wallMs), "ms")
    put("operators.exchange.cpu_ms", sumU(exchange)(_.cpuMs), "ms")
    put("operators.exchange.input_bytes", sumU(exchange)(_.inputBytes.toDouble), "bytes")
    put("operators.exchange.shuffle_write_bytes", sumU(exchange)(_.shuffleWriteBytes.toDouble), "bytes")
    put("operators.exchange.shuffle_write_records", sumU(exchange)(_.shuffleWriteRecords.toDouble), "count")
    put("operators.exchange.spill_bytes", sumU(exchange)(_.spillBytes.toDouble), "bytes")
    put("operators.fold_write.stage_ms", sumU(foldWrite)(_.wallMs), "ms")
    put("operators.fold_write.cpu_ms", sumU(foldWrite)(_.cpuMs), "ms")
    put("operators.fold_write.fetch_wait_ms", sumU(foldWrite)(_.fetchWaitMs), "ms")
    // the bucket-aligned target scan reports no input metrics, so the bytes
    // it had to read come from the manifests: the parent snapshot's files of
    // the buckets each copy-on-write commit rewrote
    put("operators.fold_write.target_read_bytes", ob.timedVersions.filter(_.metrics.contains("batchRows"))
      .flatMap { s =>
        val ref = s.manifests.last
        if (ref.delta) None
        else ob.table.snapshotAt(s.parentVersion).map(p =>
          ob.table.resolveFiles(p, Some(ref.buckets)).values.flatten.map(_.bytes).sum)
      }.sum / units, "bytes")
    put("operators.fold_write.output_bytes", sumU(foldWrite)(_.outputBytes.toDouble), "bytes")
    put("operators.fold_write.output_rows", sumU(foldWrite)(_.outputRows.toDouble), "count")
    put("operators.fold_write.task_skew",
      if (foldWrite.isEmpty) 0.0 else foldWrite.map(_.taskSkew).sum / foldWrite.size, "ratio")
    put("operators.fold_write.spill_bytes", sumU(foldWrite)(_.spillBytes.toDouble), "bytes")
    val batchRows = applies.map(_.getOrElse("batchRows", 0L)).sum.toDouble
    put("operators.rewrite_ratio",
      if (batchRows == 0) 0.0 else foldWrite.map(_.outputRows).sum / batchRows, "ratio")
    put("operators.touched_bucket_share",
      applies.map(_.getOrElse("touchedBuckets", 0L)).sum / (units * ob.table.numBuckets), "ratio")
    val compacting = ob.work.filter(_.compact.isDefined)
    put("operators.compact_ms", compacting.map { w =>
      w.progress.flatMap(_.phases.get("addBatch")).getOrElse(0L) - w.apply.getOrElse("durationMs", 0L)
    }.sum / units, "ms")
    put("operators.compact_rows", compacting.map(_.compact.get.getOrElse("compactedRows", 0L)).sum / units, "count")
    put("operators.compactions", compacting.size, "count")

    // table layout and reads, on the snapshot the reads ran on
    val files = ob.table.resolveFiles(snap).values.flatten.toSeq
    put("table.delta_depth_max", ob.table.deltaDepths(snap).values.maxOption.getOrElse(0).toDouble, "count")
    put("table.files", files.size, "count")
    put("table.bytes", files.map(_.bytes).sum.toDouble, "bytes")
    val scanSpans = tr.named("table.scan").map(_.id).toSet
    val scanStages = ob.sparkLog.allJobs.filter(j => scanSpans(jobSpan.getOrElse(j.jobId, 0)))
      .flatMap(j => stagesByJob.getOrElse(j.jobId, Seq.empty))
    val nScans = math.max(1, scanSpans.size).toDouble
    put("table.scan_input_bytes", scanStages.map(_.inputBytes).sum / nScans, "bytes")
    put("table.scan_tasks", scanStages.map(_.taskRunMs.size).sum / nScans, "count")
    val perLookup = ob.lookupKeys.map { case (c, t) =>
      val fs = ob.table.resolveFiles(snap, Some(Set(ob.table.bucketFor(c, t)))).values.flatten.toSeq
      (fs.size.toDouble, fs.count(_.stats.forall(_.mightContain(c, t))).toDouble)
    }
    val lTotal = perLookup.map(_._1).sum / math.max(1, perLookup.size)
    val lRead = perLookup.map(_._2).sum / math.max(1, perLookup.size)
    put("table.lookup_files_total", lTotal, "count")
    put("table.lookup_files_read", lRead, "count")
    put("table.lookup_skip_ratio", if (lTotal == 0) 0.0 else 1 - lRead / lTotal, "ratio")

    // memory
    put("operators.gc_ms", stagesIn.map(_.s.gcMs).sum / units, "ms")
    put("jvm.gc_ms", ob.gcDelta._2 / units, "ms")
    put("jvm.gc_count", ob.gcDelta._1 / units, "count")

    // self times by span name, and per-unit counts for the repeat check
    val self = tr.selfTimes
    val bySpan = tr.spans.groupBy(_.name).map { case (n, ss) =>
      n -> Map("count" -> ss.size, "total_ms" -> ss.map(_.dur).sum, "self_ms" -> ss.map(s => self(s.id)).sum)
    }
    val counts = unitIds.indices.map { u =>
      val st = stagesIn.filter(_.unit == u)
      Seq(ob.sparkLog.allJobs.count(j => unitOf(jobSpan.getOrElse(j.jobId, 0)).contains(u)),
        st.size, st.map(_.s.taskRunMs.size).sum)
    }
    val extras = Map[String, Any](
      "span_self_ms" -> bySpan,
      "unit_counts_jobs_stages_tasks" -> counts,
      "trigger_unattributed_ms" -> remainder,
      "spans" -> tr.spans.sortBy(_.start).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end, "self_ms" -> self(s.id)) ++ s.attrs))
    (out.toSeq, extras)
  }

}
