package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.stream.Ingest

/** `lake_ingest`: the file-arrival data path. Each cycle upserts every
  * landing file into a fresh table (one micro-batch, one copy-on-write
  * merge per file) and then reads the result in full a few times.
  *
  * Inputs: `landing/` (the landing files, oldest first by mtime),
  * `warm/` (two small files for the warm-up ingest).
  */
class LakeIngest(spark: SparkSession, inputs: String, work: String,
    progress: ProgressListener) extends Workload {

  private val landing = s"$inputs/landing"
  private val readsPerCycle = 3
  private val landingFiles = new java.io.File(landing).listFiles().filter(_.getName.endsWith(".parquet"))
  private val landingBytes = landingFiles.map(_.length).sum.toDouble
  private lazy val landingRows = spark.read.parquet(landing).count().toDouble

  private var phases = 0
  private var lastTable = ""
  private var cycles = 0
  private var readStats = new OpStats
  private var checksum: Option[Seq[Any]] = None

  private def bytesUnder(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)
    else f.length

  private def delete(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete(): Unit
  }

  def fixture(rep: Int): Unit = landingRows: Unit

  def warmup(): Unit = {
    val dir = s"$work/ingest_warm"
    Ingest.ingestUpsert(spark, s"$inputs/warm", s"$dir/table", s"$dir/chk", "event_id")
      .agg(count(lit(1))).collect(): Unit
    delete(new java.io.File(dir))
  }

  private def fullRead(table: String): Unit =
    new CountingLog(spark, table).read()
      .agg(count(lit(1)), sum(col("value")), max(col("ts")), countDistinct(col("user_id")))
      .write.format("noop").mode("overwrite").save()

  def measure(out: Phase, seconds: Double): Unit = {
    val before = progress.snapshot().size
    readStats = new OpStats
    val start = System.nanoTime()
    var c = 0
    var prev: Option[java.io.File] = None
    var last = 0.0
    // whole cycles only, and none that would end past `seconds`
    while (c == 0 || (System.nanoTime() - start) / 1e9 + last <= seconds) {
      val c0 = System.nanoTime()
      val dir = s"$work/ingest_p${phases}_c$c"
      val table = s"$dir/table"
      out.add("probe_ms", Run.probeMs())
      var ms = 0.0
      Scope(spark, "ingest") {
        val t0 = System.nanoTime()
        try Tracer.span("stream.ingestUpsert", s"cycle-$c") {
          Ingest.ingestUpsert(spark, landing, table, s"$dir/chk", "event_id"): Unit
        } catch { case e: Exception => Run.fail(out, s"ingest cycle $c", e) }
        ms = Run.ms(t0)
      }
      out.attempted += 1
      out.add("ingest_ms", ms)
      out.add("ingest_rows_per_s", landingRows / (ms / 1000))
      (0 until readsPerCycle).foreach { r =>
        val o0 = Meta.opens.get; val l0 = Meta.lists.get
        Scope(spark, "read") {
          val t0 = System.nanoTime()
          try Tracer.span("catalog.read", s"cycle-$c-read-$r")(fullRead(table))
          catch { case e: Exception => Run.fail(out, s"read cycle $c", e) }
          val rms = Run.ms(t0)
          out.add("ingest_read_ms", rms)
          readStats.n += 1; readStats.wallMs += rms
        }
        if (c == 0) readStats.count(Meta.opens.get - o0, Meta.lists.get - l0)
        out.attempted += 1
      }
      out.add("ingest_space_amp", bytesUnder(new java.io.File(table)) / landingBytes)
      // every cycle ingests the same files, so every cycle's table must
      // match the first one's order-free checksum (untimed)
      val digest = new CountingLog(spark, table).read()
        .agg(count(lit(1)), sum(xxhash64(col("*")).cast("decimal(38,0)")))
        .collect().head.toSeq
      checksum match {
        case None => checksum = Some(digest)
        case Some(first) =>
          if (first != digest) Run.mismatch(out, s"ingest cycle $c: table checksum $digest != $first")
      }
      prev.foreach(delete)
      prev = Some(new java.io.File(dir))
      lastTable = table
      last = Run.ms(c0) / 1000
      c += 1
    }
    cycles = c
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    progress.snapshot().drop(before).foreach(t => out.add("ingest_batch_ms", t.batchMs))
  }

  def layers(out: Phase, agg: String => LayerAgg): Unit = {
    Layers.catalogOps(out, Map("read" -> readStats), agg)
    Layers.logScans(out, cycles, Seq("ingest", "read"), agg)
    Layers.queryClasses(out, 1, Map.empty, agg)
    // no kernel runs here, so these are 0 by construction;
    // `kernelPlans` is the measured check
    Layers.kernelTimes(out, Map.empty)
    Layers.kernelPlans(out, Seq("ingest", "read"), agg)
    Layers.streamBatches(out, cycles)
    Layers.catalogState(out, spark, Seq(lastTable))
  }

  /** Dumps the last cycle's table for the independent DuckDB upsert. */
  def check(out: Phase): Unit = {
    new CountingLog(spark, lastTable).read().write.parquet(s"$work/check$phases/table")
    phases += 1
  }
}
