package perfbench

import org.apache.spark.sql.SparkSession

import graft.catalog.CommitLog

/** The per-layer metric families. Every workload writes every metric;
  * a layer the workload does not reach reads 0.
  */
object Layers {
  val crudOps = Seq("create", "read", "update", "status", "delete")
  val classes = Seq("relational", "text", "stream")
  val kernels = Seq("graft_pii_scrub", "graft_norm_stats", "graft_text_quality",
    "graft_token_counts", "graft_chunk_md5", "graft_re_count")

  /** `catalog.<op>_*`, `ops.crud_<op>.*` and `plans.<op>.*`, per op. */
  def catalogOps(out: Phase, ops: Map[String, OpStats], agg: String => LayerAgg): Unit =
    crudOps.foreach { op =>
      val s = ops.getOrElse(op, new OpStats)
      val n = math.max(1L, s.n).toDouble
      val c = math.max(1L, s.counted).toDouble
      val a = agg(op)
      out.layers ++= Seq(
        s"catalog.${op}_ms" -> s.wallMs / n,
        s"catalog.opens_per_$op" -> s.opens / c,
        s"catalog.lists_per_$op" -> s.lists / c,
        s"ops.crud_$op.jobs" -> a.jobs / n,
        s"ops.crud_$op.exec_ms" -> a.runMs / n,
        s"plans.$op.analysis_ms" -> a.analysisMs / n,
        s"plans.$op.optimization_ms" -> a.optimizationMs / n,
        s"plans.$op.planning_ms" -> a.planningMs / n)
    }

  /** `ops.<class>.*`, `plans.<class>.*` and `scan.<class>.*`, per round. */
  def queryClasses(out: Phase, rounds: Int, wallMs: Map[String, Double],
      agg: String => LayerAgg): Unit =
    classes.foreach { c =>
      val r = math.max(1, rounds).toDouble
      val a = agg(c)
      val wall = wallMs.getOrElse(c, 0.0)
      out.layers ++= Seq(
        s"ops.$c.exec_ms" -> wall / r,
        s"ops.$c.task_cpu_ms" -> a.cpuMs / r,
        s"ops.$c.parallelism" -> (if (wall > 0) a.runMs / wall else 0.0),
        s"ops.$c.jobs" -> a.jobs / r,
        s"ops.$c.tasks" -> a.tasks / r,
        s"ops.$c.shuffle_bytes" -> a.shuffleBytes / r,
        s"ops.$c.spill_bytes" -> a.spillBytes / r,
        s"plans.$c.analysis_ms" -> a.analysisMs / r,
        s"plans.$c.optimization_ms" -> a.optimizationMs / r,
        s"plans.$c.planning_ms" -> a.planningMs / r,
        s"scan.$c.input_bytes" -> a.inputBytes / r,
        s"scan.$c.files_read" -> a.filesRead / r)
    }

  /** `functions.<kernel>_ms`: the kernel alone, median over repetitions. */
  def kernelTimes(out: Phase, ms: Map[String, Double]): Unit =
    kernels.foreach(k => out.layers += s"functions.${k}_ms" -> ms.getOrElse(k, 0.0))

  /** `functions.kernel_plans`: executed plans that call a graft kernel. */
  def kernelPlans(out: Phase, scopes: Seq[String], agg: String => LayerAgg): Unit =
    out.layers += "functions.kernel_plans" -> scopes.map(agg(_).kernelPlans).sum.toDouble

  /** `catalog.versions` / `data_files` / `manifest_bytes`: head state of
    * the given tables at the end of the phase, summed.
    */
  def catalogState(out: Phase, spark: SparkSession, roots: Seq[String]): Unit = {
    val heads = roots.flatMap { r =>
      val log = new CommitLog(spark, r)
      log.currentVersion.map { v =>
        val manifest = new java.io.File(f"$r/_commits/$v%08d.manifest")
        (v.toDouble, log.files(v).size.toDouble, manifest.length.toDouble)
      }
    }
    out.layers ++= Seq(
      "catalog.versions" -> heads.map(_._1).sum,
      "catalog.data_files" -> heads.map(_._2).sum,
      "catalog.manifest_bytes" -> heads.map(_._3).sum)
  }

  /** `catalog.log_scans_per_pass`: executed scans of a commit-log table
    * per pass, seen in the plans the `QueryExecutionListener` reports.
    * Unlike the `onMetaAccess` counts, this sees scans the workload
    * does not route through the harness's `CountingLog`, so it is the
    * measured check that a workload bypasses `catalog`.
    */
  def logScans(out: Phase, passes: Int, scopes: Seq[String], agg: String => LayerAgg): Unit =
    out.layers += "catalog.log_scans_per_pass" ->
      scopes.map(agg(_).logScans).sum.toDouble / math.max(1, passes)

  /** `stream.batches`: triggers per pass (round or ingest cycle). */
  def streamBatches(out: Phase, passes: Int): Unit = {
    val t = out.samples.get("stream.triggers").map(_.sum).getOrElse(0.0)
    out.layers += "stream.batches" -> t / math.max(1, passes)
  }
}
