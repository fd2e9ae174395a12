package perfbench

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** `query_mix`: read-only analytics. Each round runs every key of the
  * three classes once, in the round's generated order, through its
  * `SparkEntry.queries` builder to a `noop` sink, as `graft.Bench` does.
  *
  * Inputs: `lake/` (the tables the keys read), `classes.tsv` (`class
  * key` lines) and `order.tsv` (one line per round, the keys
  * comma-separated).
  */
class QueryMix(spark: SparkSession, inputs: String, work: String) extends Workload {

  private val lake = s"$inputs/lake"
  private def lines(name: String): Vector[String] = {
    val src = Source.fromFile(s"$inputs/$name", "UTF-8")
    try src.getLines().filter(_.nonEmpty).toVector
    finally src.close()
  }
  private val order: Vector[Seq[String]] = lines("order.tsv").map(_.split(",").toSeq)
  private val classOf: Map[String, String] =
    lines("classes.tsv").map(_.split("\t")).map(f => f(1) -> f(0)).toMap

  private var rounds = 0
  private var classWall = Map.empty[String, Double]
  private var kernelMs = Map.empty[String, Double]

  def fixture(rep: Int): Unit = ()

  /** Runs every key once and keeps its rows (`capture/<key>`) for the
    * oracle comparison; also writes the oracle SQL of those keys.
    */
  def warmup(): Unit = {
    val keys = classOf.keys.toSeq.sorted
    keys.foreach { k =>
      SparkEntry.queries(k)(spark, lake).write.parquet(s"$work/capture/$k")
      spark.catalog.clearCache()
    }
    val oracle = Json.obj(keys.flatMap(k => SparkEntry.oracleSql.get(k).map(q => k -> Json.str(q))))
    val w = new java.io.PrintWriter(s"$work/capture/oracle.json", "UTF-8")
    try w.println(oracle) finally w.close()
  }

  def measure(out: Phase, seconds: Double): Unit = {
    val wall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val start = System.nanoTime()
    var r = 0
    var last = 0.0
    // whole rounds only, and none that would end past `seconds`
    while (r == 0 || (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val r0 = System.nanoTime()
      val perClass = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      order(r % order.size).foreach { k =>
        val c = classOf(k)
        val layer = if (c == "stream") "stream" else "ops"
        out.add("probe_ms", Run.probeMs())
        var ms = 0.0
        Scope(spark, c) {
          val t0 = System.nanoTime()
          try Tracer.span(s"$layer.$k", s"round-$r") {
            SparkEntry.queries(k)(spark, lake).write.format("noop").mode("overwrite").save()
          } catch { case e: Exception => Run.fail(out, s"round $r $k", e) }
          ms = Run.ms(t0)
          spark.catalog.clearCache()
        }
        out.attempted += 1
        out.add("query_key_ms", ms)
        out.add(s"key_ms.$k", ms)
        perClass(c) += ms
        wall(c) += ms
      }
      Layers.classes.foreach(c => out.add(s"query_${c}_s", perClass(c) / 1000))
      out.add("round_s", perClass.values.sum / 1000)
      last = Run.ms(r0) / 1000
      r += 1
    }
    rounds = r
    classWall = wall.toMap
    if (out.traced) kernelMs = Layers.kernels.map(k => k -> kernel(k)).toMap
  }

  /** One kernel alone, projected over the text corpus to a `noop` sink;
    * median of three.
    */
  private def kernel(name: String): Double = {
    val pii = "concat(text, ' contact user', CAST(doc_id AS STRING), " +
      "'@example.com or call +1-555-0100')"
    val call = name match {
      case "graft_pii_scrub" =>
        s"graft_pii_scrub($pii, '${QueryMix.emailRe}', '[EMAIL]', '${QueryMix.phoneRe}', '[PHONE]')"
      case "graft_norm_stats" => "graft_norm_stats(text, doc_id % 2 = 0)"
      case "graft_text_quality" => "graft_text_quality(text, 'the,a,and,of')"
      case "graft_token_counts" => "graft_token_counts(text)"
      case "graft_chunk_md5" => "graft_chunk_md5(text, 100, 80)"
      case "graft_re_count" => s"graft_re_count($pii, '${QueryMix.phoneRe}')"
    }
    graft.functions.VectorKernels.ensureRegistered(spark)
    val times = (0 until 3).map { _ =>
      Scope(spark, "functions") {
        val t0 = System.nanoTime()
        Tracer.span(s"functions.$name", "kernel") {
          Tables.documents(spark, lake).select(expr(call).as("k"))
            .write.format("noop").mode("overwrite").save()
        }
        Run.ms(t0)
      }
    }.sorted
    times(1)
  }

  def layers(out: Phase, agg: String => LayerAgg): Unit = {
    // no CRUD op runs here, so the per-op catalog figures are 0 by
    // construction; `logScans` is the measured bypass check
    Layers.catalogOps(out, Map.empty, agg)
    Layers.logScans(out, rounds, Layers.classes, agg)
    Layers.queryClasses(out, rounds, classWall, agg)
    Layers.kernelTimes(out, kernelMs)
    Layers.kernelPlans(out, Layers.classes, agg)
    Layers.streamBatches(out, rounds)
    Layers.catalogState(out, spark, Seq.empty)
  }

  def check(out: Phase): Unit = ()
}

object QueryMix {
  // the redaction patterns `q_pii_scrub` uses (graft.ops.Privacy)
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
  val phoneRe = "[+]1-555-[0-9]{4}"
}
