package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{BinaryType, DataType, LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.catalog.CommitLog

/** Pool reads resolve their schema on the driver from cached footer
  * schemas: for every table shape the schema of `read()` and
  * `readVersion(v)` equals Spark's own `mergeSchema` inference over the
  * same files and `basePath` (column order included), and building the
  * read launches no Spark job. Type-widened tables are the one shape
  * whose files cannot merge; they read through the declared schema.
  * Unique catalog: `gps`.
  */
class PoolSchemaSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  private def freshRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_poolschema").toString + "/t"

  // ---- job counting, scoped to this thread by a local property ----------

  private val TagKey = "graft.spec.poolschema"
  private val jobsByTag = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
  private lazy val listener: SparkListener = {
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(TagKey)))
          .foreach(t => jobsByTag.merge(t, 1, (a: Integer, b: Integer) => a + b))
    }
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Spark jobs `body` launched from this thread (suites share one
    * SparkContext, so only jobs carrying this call's tag count).
    */
  private def jobsOf[T](body: => T): (T, Int) = {
    listener
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    sc.setLocalProperty(TagKey, tag)
    try {
      val out = body
      org.apache.spark.GraftTestBus.flush(sc)
      (out, Option(jobsByTag.get(tag)).fold(0)(_.intValue))
    } finally sc.setLocalProperty(TagKey, null)
  }

  // ---- the reference: Spark's own inference over the same files ---------

  private def inferred(log: CommitLog, v: Long): StructType = {
    val names = log.files(v)
    val r = spark.read.option("mergeSchema", "true")
    (if (names.exists(n => n.startsWith("/") || n.contains("://"))) r
     else r.option("basePath", new org.apache.hadoop.fs.Path(log.tableRootPath, "data").toString))
      .parquet(log.filePaths(v): _*).schema
  }

  private def retype(s: StructType, name: String, to: DataType): StructType =
    StructType(s.fields.map(f => if (f.name == name) f.copy(dataType = to) else f))

  /** `read()` builds with 0 jobs; `read()` and `readVersion(head)` carry
    * Spark's inferred schema after the read path's documented edits
    * (`forRead` / `forVersion`: partition-type pins, hidden columns).
    */
  private def checkShape(log: CommitLog, rows: Long,
      forRead: StructType => StructType = identity,
      forVersion: StructType => StructType = identity): DataFrame = {
    val v = log.currentVersion.get
    val (df, jobs) = jobsOf(log.read())
    assert(jobs == 0, s"building read() launched $jobs Spark job(s)")
    val want = inferred(log, v)
    assert(df.schema == forRead(want),
      s"read schema ${df.schema.simpleString} != inferred ${forRead(want).simpleString}")
    assert(log.readVersion(v).schema == forVersion(want))
    assert(df.count() == rows)
    df
  }

  test("flat pool: appends with diverging columns merge in Spark's order") {
    val log = new CommitLog(spark, freshRoot())
    // four files whose column sets diverge: the merged order depends on
    // which file sorts first, which the uuid names make arbitrary
    for (c <- Seq("a", "b", "c", "d"))
      log.commit(Seq((1L, s"$c-1"), (2L, s"$c-2")).toDF("k", c).coalesce(1),
        replace = false)
    val df = checkShape(log, 8L)
    assert(df.schema.fieldNames.toSet == Set("k", "a", "b", "c", "d"))
    val want = spark.read.option("mergeSchema", "true")
      .parquet(log.filePaths(log.currentVersion.get): _*)
    assert(df.collect().map(_.toString).sorted.toSeq ==
      want.collect().map(_.toString).sorted.toSeq)
  }

  test("merge(evolve = true): the widened schema reads with NULLs for old rows") {
    val log = new CommitLog(spark, freshRoot())
    log.commit((1L to 20L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1), replace = false)
    log.merge(Seq((3L, "v3x", 30L), (25L, "v25", 250L)).toDF("k", "v", "n"), "k",
      evolve = true)
    val df = checkShape(log, 21L)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v", "n"))
    assert(df.filter(col("n").isNull).count() == 19L)
  }

  test("type-widened pool: mergeSchema cannot merge it, the declared schema reads it") {
    val warehouse = java.nio.file.Files.createTempDirectory("graft_gpswh").toString
    spark.conf.set("spark.sql.catalog.gps", classOf[graft.catalog.GraftTableCatalog].getName)
    spark.conf.set("spark.sql.catalog.gps.warehouse", warehouse)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gps.db")
    spark.sql("CREATE TABLE gps.db.w (k INT, s STRING)")
    spark.sql("INSERT INTO gps.db.w VALUES (1, 'a')")
    spark.sql("ALTER TABLE gps.db.w ALTER COLUMN k TYPE BIGINT")
    spark.sql("INSERT INTO gps.db.w VALUES (10000000000, 'b')")
    val log = new CommitLog(spark, s"$warehouse/db/w")
    // int32 and int64 footers: Spark's inference fails, and so would any
    // footer merge — this shape keeps the declared-schema read
    intercept[Exception](inferred(log, log.currentVersion.get))
    val (df, jobs) = jobsOf(log.read())
    assert(jobs == 0)
    assert(df.schema.fieldNames.toSeq == Seq("k", "s"))
    assert(df.schema("k").dataType == LongType)
    assert(df.orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 10000000000L))
  }

  test("MoR pool: deletion-vector reads resolve data and tombstone schemas alike") {
    val log = new CommitLog(spark, freshRoot())
    for (lo <- Seq(0L, 10L))
      log.commit(spark.range(lo, lo + 10).toDF("k")
        .withColumn("v", col("k").cast("string")).coalesce(1), replace = false)
    log.deleteWhereMoR(col("k") === 3L || col("k") === 14L)
    assert(log.dvFiles(log.currentVersion.get).nonEmpty)
    val df = checkShape(log, 18L)
    assert(df.filter(col("k").isin(3L, 14L)).count() == 0L)
  }

  test("hive-partitioned pool: partition columns still come from the paths") {
    val log = new CommitLog(spark, freshRoot())
    log.commitPartitioned(Seq((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "a"))
      .toDF("k", "v", "p"), Seq("p"), replace = false)
    log.commitPartitioned(Seq((4L, "w", "c")).toDF("k", "v", "p"), Seq("p"),
      replace = false)
    val df = checkShape(log, 4L)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v", "p"))
    assert(df.schema("p").dataType == StringType)
    assert(df.filter(col("p") === "a").count() == 2L)
  }

  test("transform-partitioned pool: the hidden layout column stays hidden") {
    val log = new CommitLog(spark, freshRoot())
    log.commitTransformed((1L to 12L).map(k => (k, k * 10L)).toDF("k", "v"),
      Seq("bucket(4, k)"), replace = true)
    val hidden = "_p_bucket_4_k"
    assert(inferred(log, log.currentVersion.get).fieldNames.contains(hidden))
    // read() drops the layout column; readVersion pins it to its
    // manifest type (bigint) instead of path inference's int
    val df = checkShape(log, 12L,
      forRead = s => StructType(s.fields.filterNot(_.name == hidden)),
      forVersion = s => retype(s, hidden, LongType))
    assert(df.schema.fieldNames.toSeq == Seq("k", "v"))
  }

  test("shallow clone: absolute references into the source pool resolve too") {
    val src = new CommitLog(spark, freshRoot())
    src.commit((1L to 5L).map(k => (k, s"v$k")).toDF("k", "v"), replace = false)
    val dst = new CommitLog(spark, freshRoot())
    dst.cloneFrom(src.tableRootPath)
    assert(dst.files(dst.currentVersion.get).forall(_.startsWith("/")))
    checkShape(dst, 5L)
  }

  test("footers without Spark's schema follow the converter confs, not the cache") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    // a foreign writer's file: no embedded Spark schema, and a BINARY
    // column without a string annotation, whose Spark type depends on
    // spark.sql.parquet.binaryAsString
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 k; optional binary s; }")
    val file = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("graft_foreign").toString, "f.parquet")
    val w = ExampleParquetWriter.builder(file).withType(schema)
      .withConf(spark.sparkContext.hadoopConfiguration).build()
    try {
      val g = new SimpleGroupFactory(schema)
      for (k <- 1L to 3L) w.write(g.newGroup().append("k", k).append("s", s"s$k"))
    } finally w.close()
    val root = freshRoot()
    new CommitLog(spark, root).commitFilesWithDeletes(Seq((file, Seq.empty)),
      replace = true)
    for (asString <- Seq(false, true, false)) {
      val s = spark.newSession()
      s.conf.set("spark.sql.parquet.binaryAsString", asString.toString)
      val log = new CommitLog(s, root)
      val df = log.read()
      val want = s.read.option("mergeSchema", "true")
        .option("basePath", s"$root/data")
        .parquet(log.filePaths(log.currentVersion.get): _*).schema
      assert(df.schema == want)
      assert(df.schema("s").dataType == (if (asString) StringType else BinaryType))
      assert(df.count() == 3L)
    }
  }
}
