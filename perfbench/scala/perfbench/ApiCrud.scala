package perfbench

import java.sql.Timestamp

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.{DataAsset, SourceSystem, TargetSystem}

/** `api_crud`: the reference's control-plane traffic against the three
  * registries and the audit log, one request at a time.
  *
  * Inputs (tab-separated, generated from the seed):
  *  - `crud_seed.tsv`: `table batch id a name b ts_us status` rows, one
  *    `AssetCatalog.create` commit per (table, batch)
  *  - `crud_ops.tsv`: `B n` (the block size: each block of n requests has
  *    the same mix), then the request script. `R table id expected`,
  *    `L req method expected`, `C table id a name b ts_us status req
  *    method payload`, `U table id name ts_us status`, `S req method
  *    status`, `D table id`. Expected values come from the generator's
  *    model; a mismatch counts as a failed op.
  */
class ApiCrud(spark: SparkSession, inputs: String, work: String) extends Workload {
  import spark.implicits._

  private val keyCol = Map("source_system" -> "src_sys_id",
    "target_system" -> "tgt_sys_id", "data_asset" -> "asset_id")

  private def tsv(name: String): Vector[Array[String]] = {
    val src = Source.fromFile(s"$inputs/$name", "UTF-8")
    try src.getLines().filter(_.nonEmpty).map(_.split("\t", -1)).toVector
    finally src.close()
  }
  private val seedRows = tsv("crud_seed.tsv")
  private val (block, script) = {
    val all = tsv("crud_ops.tsv")
    (all.head(1).toInt, all.tail)
  }

  private def ts(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }
  private def micros(t: Timestamp): Long = t.getTime / 1000 * 1000000 + t.getNanos / 1000

  private def root(rep: Int) = s"$work/crud$rep"
  private var reps = 0
  private var phases = 0

  /** Typed create of entity rows `id a name b ts_us status` (optionally
    * audited in the same cross-table transaction).
    */
  private def create(cat: CountingCatalog, table: String, rows: Seq[Array[String]],
      audited: Option[(CountingAudit, String, String, String)]): Unit = {
    val key = keyCol(table)
    def go[T: org.apache.spark.sql.Encoder](ds: org.apache.spark.sql.Dataset[T]): Unit =
      audited match {
        case None => cat.create(table, key, ds)
        case Some((audit, req, method, payload)) =>
          cat.createAudited(table, key, ds, audit, req, method, payload)
      }
    table match {
      case "source_system" =>
        go(rows.map(f => SourceSystem(f(0).toLong, f(2), f(3), ts(f(4).toLong), f(5))).toDS())
      case "target_system" =>
        go(rows.map(f => TargetSystem(f(0).toLong, f(2), f(3), ts(f(4).toLong), f(5))).toDS())
      case "data_asset" =>
        go(rows.map(f => DataAsset(f(0).toLong, f(1).toLong, f(2), f(3), ts(f(4).toLong), f(5))).toDS())
    }
  }

  def fixture(rep: Int): Unit = {
    val cat = new CountingCatalog(spark, root(rep))
    seedRows.groupBy(r => (r(0), r(1).toInt)).toSeq.sortBy(_._1).foreach {
      case ((table, _), rows) => create(cat, table, rows.map(_.drop(2)), None)
    }
    reps = math.max(reps, rep + 1)
  }

  /** The first block of the script on a registry set of its own, so
    * every request kind has run once before the measured loop.
    */
  def warmup(): Unit = {
    fixture(-1)
    loop(root(-1), new Phase(false), seconds = 0.0): Unit
  }

  def measure(out: Phase, seconds: Double): Unit = {
    // each phase runs on a fixture of its own, newest first
    val r = root(reps - 1 - phases)
    lastOps = loop(r, out, seconds)
    lastRoot = r
  }

  private def canon(r: Row): String = r.toSeq.map {
    case t: Timestamp => micros(t).toString
    case null => "null"
    case x => x.toString
  }.mkString("|")

  /** Runs the script from its start against the registries under `r`:
    * whole blocks, none that would end past `seconds` (at least one).
    */
  private def loop(r: String, out: Phase, seconds: Double): Map[String, OpStats] = {
    val cat = new CountingCatalog(spark, r)
    val audit = new CountingAudit(spark, s"$r/_audit")
    val ops = mutable.Map.empty[String, OpStats]
    val start = System.nanoTime()
    var i = 0
    var blockStart = start
    var last = 0.0
    def more = i % block != 0 || i == 0 || (System.nanoTime() - start) / 1e9 + last <= seconds
    while (i < script.length && more) {
      if (i % block == 0) blockStart = System.nanoTime()
      val f = script(i)
      val kind = f(0) match {
        case "R" | "L" => "read"
        case "C" => "create"
        case "U" => "update"
        case "S" => "status"
        case "D" => "delete"
      }
      val req = if (f(0) == "C") f(8) else s"op-$i"
      var got: Array[Row] = null
      out.add("probe_ms", Run.probeMs())
      val o0 = Meta.opens.get; val l0 = Meta.lists.get
      var ms = 0.0
      Scope(spark, kind) {
        val t0 = System.nanoTime()
        try Tracer.span(s"catalog.$kind", req) {
          f(0) match {
            case "R" => got = cat.read(f(1), keyCol(f(1)), f(2).toLong).collect()
            case "L" => got = audit.lookup(f(1), f(2))
                .select("aws_request_id", "method_name", "function_name", "payload", "status")
                .collect()
            case "C" => create(cat, f(1), Seq(f.slice(2, 8)), Some((audit, f(8), f(9), f(10))))
            case "U" =>
              cat.update(f(1), keyCol(f(1)), Seq((f(2).toLong, f(3), ts(f(4).toLong), f(5)))
                .toDF(keyCol(f(1)), "name", "modified_ts", "status"))
            case "S" => audit.setStatus(f(1), f(2), f(3))
            case "D" => cat.deleteKeys(f(1), keyCol(f(1)), Seq(f(2).toLong))
          }
        } catch { case e: Exception => Run.fail(out, s"op $i ${f(0)}", e) }
        ms = Run.ms(t0)
      }
      val s = ops.getOrElseUpdate(kind, new OpStats)
      s.n += 1; s.wallMs += ms
      if (i < block) s.count(Meta.opens.get - o0, Meta.lists.get - l0)
      out.attempted += 1
      out.add(if (kind == "read") "crud_read_ms" else "crud_write_ms", ms)
      out.add("crud_ms", ms)
      if (got != null) {
        val expected = f(3)
        val actual = got.map(canon).mkString(";")
        if (actual != expected) Run.mismatch(out, s"op $i ${f(0)}: got [$actual] want [$expected]")
      }
      i += 1
      if (i % block == 0) last = Run.ms(blockStart) / 1000
    }
    out.add("crud_loop_s", (System.nanoTime() - start) / 1e9)
    out.add("crud_ops", i.toDouble)
    if (i == script.length) Run.mismatch(out, "request script exhausted before the time ran out")
    ops.toMap
  }

  private var lastOps = Map.empty[String, OpStats]
  private var lastRoot = ""

  def layers(out: Phase, agg: String => LayerAgg): Unit = {
    Layers.catalogOps(out, lastOps, agg)
    Layers.logScans(out, (lastOps.values.map(_.n).sum / block).toInt, Layers.crudOps, agg)
    Layers.queryClasses(out, 1, Map.empty, agg)
    // no kernel runs here, so these are 0 by construction;
    // `kernelPlans` is the measured check
    Layers.kernelTimes(out, Map.empty)
    Layers.kernelPlans(out, Layers.crudOps, agg)
    Layers.streamBatches(out, 1)
    Layers.catalogState(out, spark,
      keyCol.keys.toSeq.sorted.map(t => s"$lastRoot/$t") :+ s"$lastRoot/_audit")
  }

  /** Dumps the registries and the audit log of the phase for the
    * model comparison (`check<phase>/<table>`).
    */
  def check(out: Phase): Unit = {
    val dir = s"$work/check$phases"
    val cat = new CountingCatalog(spark, lastRoot)
    keyCol.keys.foreach { t =>
      val df: DataFrame = cat.readTable(t)
      df.withColumn("modified_ts", unix_micros(col("modified_ts")))
        .write.parquet(s"$dir/$t")
    }
    new CountingAudit(spark, s"$lastRoot/_audit").events
      .select(col("aws_request_id"), col("method_name"), col("function_name"),
        to_json(col("query_string")).as("query_string"), col("payload"),
        col("api_call_type"), col("status"))
      .write.parquet(s"$dir/audit")
    phases += 1
  }
}
