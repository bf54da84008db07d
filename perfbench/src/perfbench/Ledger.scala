package perfbench

import Tracer.{median, unionLength}

/** Splits traced operations into layers by time window.
  *
  * For one operation, the wall time is split as
  *   build + catalyst + stages + residual
  * where build is the call into the program, stages is the union of
  * stage intervals inside the action, catalyst is the Catalyst phase
  * time of the action outside those stages, and residual is the rest.
  * The sum closes by construction, since residual is what is left. What
  * can fail is the attribution: every listener interval charged to the
  * operation (the stages that started in it, the Catalyst phases of the
  * action's executions) must lie inside the operation, so that clipping
  * it to the window drops nothing. `ledger_err_ms` is the time that lies
  * outside.
  */
object Ledger {
  def render(t: Tracer, recs: Seq[Main.OpRec]): Map[String, Any] = {
    val traced = recs.filter(_.traced)
    val rows = traced.map { o =>
      measure(t, o.t0, o.tb, o.t1) ++ Map("name" -> o.name, "round" -> o.round) ++ o.jvm
    }
    val spans = traced.zipWithIndex.flatMap { case (o, i) =>
      val root = s"op$i"
      Seq(Map("id" -> root, "parent" -> null, "name" -> o.name, "start" -> o.t0, "end" -> o.t1),
        Map("id" -> s"$root.build", "parent" -> root, "name" -> "build", "start" -> o.t0, "end" -> o.tb),
        Map("id" -> s"$root.action", "parent" -> root, "name" -> "action", "start" -> o.tb, "end" -> o.t1)) ++
        t.stagesIn(o.t0, o.t1).map { s =>
          Map("id" -> s"$root.stage${s.id}", "parent" -> (if (s.submit < math.floor(o.tb)) s"$root.build" else s"$root.action"),
            "name" -> s"stage ${s.id}", "start" -> s.submit, "end" -> s.complete)
        }
    }
    Map("windows" -> rows, "spans" -> spans,
      "ledger_max_err_ms" -> (rows.map(_("ledger_err_ms").asInstanceOf[Double]) :+ 0.0).max)
  }

  private def measure(t: Tracer, a: Double, tb: Double, b: Double): Map[String, Any] = {
    val stagesAll = t.stagesIn(a, b)
    val stagesAct = stagesAll.filter(_.submit >= math.floor(tb))
    val execs = t.executionsIn(a, b)
    val actPhases = t.executionsIn(tb, b).flatMap(_.phases.values)
    val sIv = stagesAct.map(s => (s.submit, s.complete))
    val stageMs = unionLength(sIv, tb, b)
    val covered = unionLength(sIv ++ actPhases, tb, b)
    // what clipping to the build and action windows drops from the
    // intervals charged to them (Spark's whole-millisecond stamps may
    // read up to 1 ms early, so the windows open at the floor)
    val buildIv = stagesAll.filterNot(stagesAct.contains).map(s => (s.submit, s.complete))
    def outside(iv: Seq[(Double, Double)], from: Double, to: Double) =
      unionLength(iv, Double.MinValue, Double.MaxValue) - unionLength(iv, math.floor(from), to)
    val err = outside(sIv ++ actPhases, tb, b) + outside(buildIv, a, tb)
    val wall = b - a
    val build = tb - a
    val catalyst = covered - stageMs
    val residual = (b - tb) - covered
    def phase(p: String) = execs.flatMap(_.phases.get(p)).map { case (s, e) => e - s }.sum
    val skews = stagesAll.flatMap { s =>
      val d = t.taskDurations(s.id).map(_.toDouble)
      val m = median(d)
      if (d.isEmpty || m <= 0) None else Some(d.max / m)
    }
    val batches = t.batchesIn(a, b)
    def dur(k: String) = batches.map(_.durationMs.getOrElse(k, 0L)).sum
    val mb = 1048576.0
    val run = stagesAll.map(_.runMs).sum.toDouble
    val cpu = stagesAll.map(_.cpuMs).sum
    Map(
      "wall_ms" -> wall, "build_ms" -> build, "catalyst_ms" -> catalyst, "stage_ms" -> stageMs,
      "residual_ms" -> residual, "gap_ms" -> ((b - tb) - stageMs),
      "ledger_err_ms" -> err,
      "build_jobs" -> t.jobsIn(a, tb).size, "jobs" -> t.jobsIn(a, b).size,
      "stages" -> stagesAll.size, "tasks" -> stagesAll.map(_.tasks).sum,
      "analysis_ms" -> phase("analysis"), "optimization_ms" -> phase("optimization"),
      "planning_ms" -> phase("planning"), "executions" -> execs.size,
      "run_ms" -> run, "cpu_ms" -> cpu, "offcpu_ms" -> (run - cpu),
      "task_skew" -> (skews :+ 1.0).max,
      "shuffle_write_mb" -> stagesAll.map(_.shWrite).sum / mb,
      "shuffle_read_mb" -> stagesAll.map(_.shRead).sum / mb,
      "fetch_wait_ms" -> stagesAll.map(_.fetchWaitMs).sum,
      "spill_mem_mb" -> stagesAll.map(_.spillMem).sum / mb,
      "spill_disk_mb" -> stagesAll.map(_.spillDisk).sum / mb,
      "input_mb" -> stagesAll.map(_.inBytes).sum / mb, "input_rows" -> stagesAll.map(_.inRows).sum,
      "output_mb" -> stagesAll.map(_.outBytes).sum / mb, "output_files" -> execs.map(_.files).sum,
      "stream_batches" -> batches.size, "add_batch_ms" -> dur("addBatch"),
      "wal_commit_ms" -> dur("walCommit"), "commit_offsets_ms" -> dur("commitOffsets"),
      "query_planning_ms" -> dur("queryPlanning"),
      "state_rows" -> (batches.map(_.stateRows) :+ 0L).max,
      "state_mem_mb" -> (batches.map(_.stateBytes) :+ 0L).max / mb)
  }
}
