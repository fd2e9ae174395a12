package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Samples, counts and layer metrics of one measured phase. */
final class Phase(val traced: Boolean) {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  def add(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Double]) += v
}

/** Per-op-type bookkeeping shared by the workloads that call `catalog`.
  * Metadata opens and lists are counted over a fixed prefix of the
  * workload (`counted` ops), so with one client they repeat exactly
  * however many ops the time allows.
  */
final class OpStats {
  var n = 0L
  var wallMs = 0.0
  var counted = 0L
  var opens = 0L
  var lists = 0L
  def count(o: Long, l: Long): Unit = { counted += 1; opens += o; lists += l }
}

trait Workload {
  /** One repetition of the workload's fixture build (timed, repeated). */
  def fixture(rep: Int): Unit
  /** JIT and class-loading warm-up before the first timed op (timed once). */
  def warmup(): Unit
  /** The closed loop: measure for `seconds`, filling `out`. */
  def measure(out: Phase, seconds: Double): Unit
  /** Untimed output checks of the phase; writes what the caller compares. */
  def check(out: Phase): Unit
  /** Layer metrics this workload owns (catalog ops, rounds, kernels). */
  def layers(out: Phase, agg: String => LayerAgg): Unit
}

object Run {
  val failures = mutable.ArrayBuffer.empty[String]
  def fail(out: Phase, what: String, e: Throwable): Unit = {
    out.failed += 1
    if (failures.size < 20)
      failures += s"$what: ${e.getClass.getSimpleName}: " +
        Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
  }
  def mismatch(out: Phase, what: String): Unit = {
    out.failed += 1
    if (failures.size < 20) failures += what
  }
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** A fixed single-thread arithmetic loop (no I/O, no allocation), timed:
    * the host's current CPU speed, sampled next to each request.
    */
  def probeMs(): Double = {
    val t0 = System.nanoTime()
    var acc = 1L
    var i = 0
    while (i < 5000000) {
      acc = acc * 6364136223846793005L + 1442695040888963407L
      i += 1
    }
    if (acc == 42L) System.err.print("")
    ms(t0)
  }
}

/** Benchmark entry: `--workload --inputs --work --out --seconds --trace
  * --cores --reps`. The inputs directory holds only generated inputs; the
  * result (samples, layer metrics, set-up times) goes to `--out` as JSON.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val inputs = a("inputs")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val reps = a("reps").toInt

    val spark = Session.build(cores, work)
    val sessionReady = System.currentTimeMillis()
    val progress = new ProgressListener
    spark.streams.addListener(progress)

    val wl: Workload = workload match {
      case "api_crud" => new ApiCrud(spark, inputs, work)
      case "lake_ingest" => new LakeIngest(spark, inputs, work, progress)
      case "query_mix" => new QueryMix(spark, inputs, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    // set-up errors are fatal: no catch here, the run exits non-zero
    val fixtureS = (0 until reps).map { r =>
      val t0 = System.nanoTime(); wl.fixture(r); Run.ms(t0) / 1000
    }
    val w0 = System.nanoTime()
    wl.warmup()
    val warmupS = Run.ms(w0) / 1000

    // a traced run measures untraced, traced, untraced thirds: the
    // tracing overhead is the traced third against the mean of the other
    // two, which cancels the warm-up drift across the run
    val plan = if (traced) Seq(false, true, false).map(_ -> seconds / 3)
      else Seq(false -> seconds)
    val phases = plan.map { case (tr, secs) =>
      val out = new Phase(tr)
      val listener = new LayerListener
      if (tr) {
        spark.sparkContext.addSparkListener(listener)
        spark.listenerManager.register(listener)
        Tracer.enabled = true
      }
      val before = progress.snapshot().size
      wl.measure(out, secs)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      if (tr) {
        Tracer.enabled = false
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(listener)
        val trig = progress.snapshot().drop(before)
        streamLayers(out, trig)
        wl.layers(out, listener.agg)
      }
      wl.check(out)
      out
    }
    val spanFile = s"$work/spans.jsonl"
    if (traced) Tracer.write(spanFile)
    spark.stop()

    val json = Json.obj(Seq(
      "session_ready_ms" -> Json.num(sessionReady),
      "fixture_s" -> Json.nums(fixtureS),
      "warmup_s" -> Json.num(warmupS),
      "spans" -> Json.num(Tracer.count.toLong),
      "failures" -> Json.arr(Run.failures.toSeq.map(Json.str)),
      "phases" -> Json.arr(phases.map { p =>
        Json.obj(Seq(
          "traced" -> p.traced.toString,
          "attempted" -> Json.num(p.attempted),
          "failed" -> Json.num(p.failed),
          "samples" -> Json.obj(p.samples.toSeq.map { case (k, v) => k -> Json.nums(v.toSeq) }),
          "layers" -> Json.obj(p.layers.toSeq.map { case (k, v) => k -> Json.num(v) })))
      })))
    val w = new java.io.PrintWriter(a("out"), "UTF-8")
    try w.println(json) finally w.close()
  }

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** `stream.*`: per-trigger medians over every trigger of the phase. */
  private def streamLayers(out: Phase, trig: Seq[ProgressListener#Trigger]): Unit = {
    def med(f: ProgressListener#Trigger => Double) = median(trig.map(f))
    def dur(k: String) = med(_.durations.getOrElse(k, 0.0))
    out.layers ++= Seq(
      "stream.trigger_ms" -> dur("triggerExecution"),
      "stream.add_batch_ms" -> dur("addBatch"),
      "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.latest_offset_ms" -> dur("latestOffset"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.state_commit_ms" -> med(_.stateCommitMs),
      "stream.state_rows" -> med(_.stateRows),
      "stream.state_memory_bytes" -> med(_.stateMemory))
    out.add("stream.triggers", trig.size.toDouble)
  }
}
