package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.BusDrain

import graft.core.GraftSession
import graft.table.SnapshotTable

/** The daily-ingestion benchmark, one workload per JVM:
  *
  * {{{
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <result.json> [--commit <id>]
  * }}}
  *
  * Set-up (session, warm-up on a throwaway table, then input generation and
  * table bootstrap three times, median taken), a closed loop with one
  * client over the day schedule — each day's job, then the downstream
  * reads — and the end-of-run maintenance. Every operation is checked
  * against the workload's model outside the timed window. With `--trace 1`
  * a second table replays the same jobs through the engine's public calls
  * under spans, and the per-layer numbers come from that replay.
  */
object Main {
  private val SetupRepeats = 3

  final class Run(val target: Target) {
    /** Every timed step, end-of-run procedures included. */
    val jobs = mutable.ArrayBuffer.empty[Double]
    /** Daily steps (jobs and MERGE statements) and reads, by kind. */
    val dailyKinds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val readKinds = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val byName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val opWindows = mutable.ArrayBuffer.empty[(Long, Long)]
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    var storage: Storage = _

    /** Times `body`; its wall-clock window feeds the trace's coverage. */
    def timed[T](body: => T): (Double, T) = {
      val m0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val r = body
      val dt = (System.nanoTime() - n0) / 1e9
      opWindows += ((m0, System.currentTimeMillis()))
      (dt, r)
    }

    /** Runs one operation; a thrown error or failed check marks it failed. */
    def attempt(what: String)(body: => Unit): Boolean = {
      attempted += 1
      try { body; true }
      catch {
        case NonFatal(e) =>
          failed += 1
          errors += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}".take(2000)
          System.err.println(s"perfbench: FAILED $what")
          e.printStackTrace()
          false
      }
    }
  }

  private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress on standard error, stamped with seconds since JVM start. */
  def note(msg: String): Unit =
    System.err.println(f"perfbench: [${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%7.2f s] $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workload.names.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val loadStart = Stats.loadAvg()
    val ticksStart = Stats.cpuTicks()
    val nproc = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(work)

    val spark = GraftSession.builder("perfbench", s"local[$nproc]", nproc)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = if (traced) Some(new GroupListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)

    note("session ready")
    // warm-up: set-up and one day of the same workload at 2 % size on a
    // throwaway table, so that class loading and code generation are paid
    // before anything is timed
    locally {
      val ctx = new Ctx(spark, seed + 1, nproc, work.resolve("warmup"))
      val w = Workload(workload, ctx, 0.02)
      val run = new Run(new Target("warmup", ctx.dir("t"), Tracer.off(spark)))
      w.generate(0)
      w.bootstrap(run.target)
      runDay(w, 1, Seq(run), check = false)
      require(run.failed == 0, s"warm-up failed: ${run.errors.mkString("; ")}")
      deleteTree(ctx.work)
    }
    val fixedSetup = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    note("warm-up done")

    val setups = mutable.ArrayBuffer.empty[Double]
    var w: Workload = null
    var ctx: Ctx = null
    (1 to SetupRepeats).foreach { r =>
      if (ctx != null) deleteTree(ctx.work)
      ctx = new Ctx(spark, seed, nproc, work.resolve(s"run-$r"))
      val n0 = System.nanoTime()
      w = Workload(workload, ctx, 1.0)
      w.generate(0)
      val t = new Target("untraced", ctx.dir("untraced"), Tracer.off(spark))
      w.bootstrap(t)
      setups += (System.nanoTime() - n0) / 1e9
      note(s"set-up $r done")
    }
    val runs = mutable.ArrayBuffer(new Run(new Target("untraced", ctx.dir("untraced"),
      Tracer.off(spark))))
    if (traced) {
      val t = new Target("traced", ctx.dir("traced"), new Tracer(spark, true, listener))
      w.bootstrap(t)
      runs += new Run(t)
    }
    val setupS = fixedSetup + Stats.median(setups.toSeq)
    runs.foreach { r => r.storage = new Storage(w.tableRoot(r.target)); r.storage.update() }

    val days = w.days(seconds)
    var sourceRows = 0L
    var sourceBytes = 0L
    val phase0 = System.nanoTime()
    var day = 1
    while (day <= days && runs.forall(_.failed == 0)) {
      runDay(w, day, runs.toSeq)
      sourceRows += w.sourceRows
      sourceBytes += w.sourceBytes
      day += 1
    }
    val stepsDone = day - 1
    runs.foreach { r =>
      if (r.failed == 0) runSteps(w, r, w.finish(r.target), "end of run", daily = false)
      noteDeletes(w, r)
      r.storage.update()
    }
    val phaseS = (System.nanoTime() - phase0) / 1e9

    val main = runs.head
    var correct = runs.forall(_.failed == 0)
    if (traced && correct) {
      val same = main.attempt("traced table equals untraced table") {
        val a = SnapshotTable.at(w.tableRoot(main.target).toString).read(spark)
        val b = SnapshotTable.at(w.tableRoot(runs(1).target).toString).read(spark)
        val fa = Fingerprint.of(a, a.columns.toSeq)
        val fb = Fingerprint.of(b, a.columns.toSeq)
        require(fa == fb, s"traced $fb vs untraced $fa")
      }
      correct = correct && same
    }
    val refDir = work.resolve("reference").toString
    w.expectedRows.coalesce(1).write.mode("overwrite").option("compression", w.codec)
      .parquet(refDir)
    val refBytes = Stats.treeBytes(Paths.get(refDir))

    val attempted = runs.map(_.attempted).sum
    val failed = runs.map(_.failed).sum
    val jobTime = main.jobs.sum
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("run_s", jobTime, "s"),
      ("job_median_s", Stats.kindMedian(main.dailyKinds.values.map(_.toSeq)), "s"),
      ("rows_per_s", sourceRows / jobTime, "1/s"),
      ("read_median_s", Stats.kindMedian(main.readKinds.values.map(_.toSeq)), "s"),
      ("write_amp", main.storage.written.values.sum.toDouble / sourceBytes, "ratio"),
      ("storage_amp", main.storage.state.total.toDouble / refBytes, "ratio"),
      ("rss_peak_mb", Stats.rssPeakMb(), "MiB"))
    val errorRate = failed.toDouble / math.max(1, attempted)

    listener.foreach(_ => BusDrain.drain(spark.sparkContext))
    val layers = if (traced && runs.size > 1) Layers.compute(runs(1), runs(0), stepsDone) else Nil

    val info = Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "commit" -> Json.str(opts.getOrElse("commit", "unknown")),
      "nproc" -> nproc.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "load_start" -> Json.str(loadStart), "load_end" -> Json.str(Stats.loadAvg()),
      "cpu_steal_share" -> {
        val (busy, steal) = Stats.cpuTicks()
        val (b, st) = (busy - ticksStart._1, steal - ticksStart._2)
        Json.num(st.toDouble / (b + st))
      },
      "days" -> stepsDone.toString, "timed_phase_s" -> phaseS.toString,
      "setup_repeats_s" -> Json.arr(setups.map(_.toString).toSeq),
      "setup_fixed_s" -> fixedSetup.toString,
      "job_samples" -> main.dailyKinds.values.map(_.size).sum.toString,
      "read_samples" -> main.readKinds.values.map(_.size).sum.toString,
      "source_rows" -> sourceRows.toString, "source_bytes" -> sourceBytes.toString,
      "reference_bytes" -> refBytes.toString,
      "bytes_written" -> Json.obj(main.storage.written.map { case (k, v) => k -> v.toString }.toSeq),
      "bytes_at_end" -> Json.obj(Seq("data", "delete", "meta").map(k =>
        k -> main.storage.state.bytes(k).toString)),
      "seconds_by_operation" -> Json.obj(main.byName.toSeq.map { case (k, v) =>
        k -> Json.arr(v.map(_.toString).toSeq) }),
      "error_rate" -> errorRate.toString,
      "errors" -> Json.arr(runs.flatMap(_.errors).map(Json.str).toSeq)) ++
      runs.drop(1).map(r => "spans" -> Json.arr(r.target.tracer.spans.toSeq.map(s =>
        Json.arr(Seq(s.id.toString, Json.str(s.name), s.parent.toString,
          s.startMs.toString, s.endMs.toString, s.nanos.toString)))))
    val metrics =
      if (traced) layers.map { case (k, v) => (k, v, Layers.unit(k)) }
      else e2e
    def metricJson(ms: Seq[(String, Double, String)]) = Json.obj(ms.map { case (k, v, u) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    })

    println(f"perfbench $workload seed=$seed trace=${if (traced) 1 else 0} days=$stepsDone " +
      f"nproc=$nproc load=$loadStart")
    metrics.foreach { case (k, v, u) => println(f"  $k%-40s $v%16.6f $u") }
    if (!traced) println(f"  ${"error_rate"}%-40s $errorRate%16.6f ratio")
    val reportName = s"$workload-seed$seed-${if (traced) "layers" else "e2e"}.json"
    val report = Json.obj(info ++ Seq("metrics" -> metricJson(metrics)))
    opts.get("reports").foreach { d =>
      Files.createDirectories(Paths.get(d))
      Files.write(Paths.get(d).resolve(reportName), report.getBytes("UTF-8"))
    }
    val result = Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricJson(metrics)))
    Files.write(Paths.get(opts("out")), result.getBytes("UTF-8"))
    spark.stop()
  }

  /** One day: generate (untimed), then on every target each step (timed)
    * with its model check (untimed), then the reads (each timed, then
    * checked). A failed step ends the target's day. The warm-up skips the
    * model checks: they are untimed, so nothing needs them warm.
    */
  private def runDay(w: Workload, day: Int, runs: Seq[Run], check: Boolean = true): Unit = {
    w.generate(day)
    note(s"day $day generated")
    // alternate which target goes first, so neither always meets a warmer cache
    (if (day % 2 == 0) runs.reverse else runs).foreach { r =>
      val ok = runSteps(w, r, w.steps(r.target, day), s"day $day", check)
      if (ok)
        w.reads(r.target, day).foreach { rd =>
          r.attempt(s"day $day read ${rd.name}") {
            val (dt, res) = r.timed(rd.body())
            r.readKinds.getOrElseUpdate(rd.name, mutable.ArrayBuffer.empty) += dt
            r.byName.getOrElseUpdate(rd.name, mutable.ArrayBuffer.empty) += dt
            rd.check(res)
          }
        }
      note(s"day $day ${r.target.name} done")
    }
  }

  private def runSteps(w: Workload, r: Run, steps: Seq[Step], when: String,
                       check: Boolean = true, daily: Boolean = true): Boolean =
    steps.forall { st =>
      r.attempt(s"$when ${st.name}") {
        val (dt, _) = r.timed(st.run())
        r.jobs += dt
        if (daily) r.dailyKinds.getOrElseUpdate(st.name, mutable.ArrayBuffer.empty) += dt
        r.byName.getOrElseUpdate(st.name, mutable.ArrayBuffer.empty) += dt
        note(f"$when ${r.target.name} ${st.name} $dt%.3f s")
      } && {
        if (r.storage != null) { noteDeletes(w, r); r.storage.update() }
        st.record()
        !check || r.attempt(s"$when ${st.name} check")(st.check())
      }
    }

  private def noteDeletes(w: Workload, r: Run): Unit =
    if (r.storage != null) {
      val t = SnapshotTable.at(w.tableRoot(r.target).toString)
      if (t.exists) r.storage.noteDeletes(t.currentManifest.deleteFiles.map(_.path))
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      scala.util.Using.resource(Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      }
}

/** Just enough JSON for flat reports. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ", ", "]")
}
