package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** The `battery` workload: every workload query of `SparkEntry.queries`
  * (the `plan_shapes` correctness gate excluded), or a subset. Each
  * query's timed region is the builder call, Catalyst planning of the
  * consuming action, and that action: a one-row count plus an
  * order-independent hash over every output column. */
object Battery {
  val Gates = Set("plan_shapes")

  private val familyRules: Seq[(String, String => Boolean)] = Seq(
    "geo" -> (n => n.startsWith("geo_") || n == "predicate_geo_dwithin"),
    "events" -> (n => n.startsWith("event") || n.startsWith("stream_") ||
      n == "session_overlap_join"),
    "tpch" -> (n => n.matches("q\\d+_.*") || n.startsWith("predicate_") ||
      Set("projection_filter", "count_lineitem", "exists_highvalue", "distinct_flags",
        "topk_orders", "range_join_price_bands", "skew_salted_join", "table_profile")(n)),
    "entity" -> (n => n.startsWith("entity_") || n.startsWith("set_") ||
      Set("partition_pruned_scan", "zorder_pruned_scan", "sparse_roundtrip",
        "import_export_roundtrip", "vertical_reassembly", "kv_point_lookup",
        "empty_relation", "cached_query", "random_gen_stats", "fuzzy_union",
        "fuzzy_intersect", "compound_setalgebra")(n)),
    "dedup" -> (n => n.contains("dedup") || n.contains("neardup") ||
      n.startsWith("winnow") || n.startsWith("fuzzy_") || n.startsWith("cdc_") ||
      n.contains("repeated_chunks")),
    "vector" -> (n => n.startsWith("knn_") || n.startsWith("ann_") ||
      n.startsWith("index_") || n.contains("_knn") || n.startsWith("maxsim") ||
      Set("distance_dispatch", "vote_topk", "centroid_by_label", "hybrid_search_rrf")(n)),
    "text" -> (n => n.startsWith("text_") || n.contains("logppl") ||
      Set("ngram_novelty", "top_bigrams", "doc_top_terms", "lang_id", "pii_scan",
        "chunk_text", "hash_features", "strip_lines", "repetition_signals",
        "repetition_signals_perrow")(n)))

  val Families: Seq[String] = familyRules.map(_._1) :+ "pipeline"

  def family(name: String): String =
    familyRules.find(_._2(name)).map(_._1).getOrElse("pipeline")

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** One-row action over every output column: row count plus two
    * 32-bit halves of xxhash64 summed (order-independent, no overflow). */
  def fingerprintFrame(df: DataFrame): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  final case class QueryRow(name: String, family: String, ok: Boolean, error: String,
                            buildS: Double, planS: Double, execS: Double,
                            buildJobs: Long, execJobs: Long, stages: Long, tasks: Long,
                            cpuS: Double, shuffleReadB: Long, shuffleWriteB: Long,
                            spillB: Long, rows: Long, fp: String, check: String) {
    def totalS: Double = buildS + planS + execS
    def toMap: Map[String, Any] = mutable.LinkedHashMap[String, Any](
      "name" -> name, "family" -> family, "ok" -> ok, "error" -> error,
      "build_s" -> buildS, "catalyst_s" -> planS, "exec_s" -> execS, "total_s" -> totalS,
      "build_jobs" -> buildJobs, "exec_jobs" -> execJobs, "stages" -> stages,
      "tasks" -> tasks, "task_cpu_s" -> cpuS, "shuffle_read_b" -> shuffleReadB,
      "shuffle_write_b" -> shuffleWriteB, "spill_b" -> spillB, "rows" -> rows,
      "fp" -> fp, "check" -> check).toMap
  }

  /** Expected fingerprints: one line per query, `name rows fp` or
    * `name rows -` for a query checked on row count only. */
  def readExpected(p: Path): Map[String, (Long, Option[String])] =
    if (!Files.exists(p)) Map.empty
    else scala.io.Source.fromFile(p.toFile).getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, fp) = l.split("\\s+")
        n -> (rows.toLong, Some(fp).filter(_ != "-"))
      }.toMap

  def run(spark: SparkSession, sfDir: String, only: Option[Set[String]],
          expected: Map[String, (Long, Option[String])], listener: JobListener,
          out: Result): Seq[QueryRow] = {
    val sc = spark.sparkContext
    val fails = out.failures
    // untimed warm-ups, as graft.Bench does: they build the indexes,
    // layouts and corpus indexes some queries read. The default subset
    // (battery_subset.txt) holds no such query, so only the whole
    // battery runs them.
    spark.range(1000).selectExpr("sum(id)").collect()
    if (only.isEmpty) Seq[(String, () => Unit)](
      "warm_indexes" -> (() => SparkEntry.warmIndexes(spark, sfDir)),
      "warm_layouts" -> (() => SparkEntry.warmLayouts(spark, sfDir)),
      "warm_corpus_indexes" -> (() => SparkEntry.warmCorpusIndexes(spark, sfDir))
    ).foreach { case (n, f) => fails.run(s"setup.$n", "direct")(f()) }
    out.markSetupDone()

    // one fixed order (by name): the tables are fixed, and a seeded order
    // would move first-run JIT and code-generation costs between queries
    // from run to run, which widened the run-to-run spread of the sum
    val order = SparkEntry.queries.keys.filterNot(Gates).filter(n => only.forall(_(n)))
      .toSeq.sorted
    val cpu0 = Jvm.processCpuNs
    val gc0 = Jvm.gcMs
    val steal0 = Jvm.cpuJiffies
    val t0 = System.nanoTime()
    val rows = order.map { name =>
      val fn = SparkEntry.queries(name)
      def grp[T](phase: String)(f: => T): T = {
        sc.setJobGroup(s"b:$name:$phase", phase)
        try f finally sc.clearJobGroup()
      }
      fails.attempt("query", "direct")
      var (bS, pS, eS) = (0.0, 0.0, 0.0)
      val res = Try {
        val a = System.nanoTime()
        val df = grp("build")(fn(spark, sfDir))
        val b = System.nanoTime()
        val fpf = fingerprintFrame(df)
        grp("plan")(fpf.queryExecution.executedPlan)
        val c = System.nanoTime()
        val r = grp("exec")(fpf.collect().head)
        val d = System.nanoTime()
        bS = (b - a) / 1e9; pS = (c - b) / 1e9; eS = (d - c) / 1e9
        (r.getLong(0), f"${r.getLong(1)}%x.${r.getLong(2)}%x")
      }
      val bg = listener.get(s"b:$name:build")
      val pg = listener.get(s"b:$name:plan")
      val eg = listener.get(s"b:$name:exec")
      val (n, fp) = res.getOrElse((-1L, ""))
      val check = res.toOption.map { case (rn, f) =>
        expected.get(name) match {
          case None => "unchecked"
          case Some((er, _)) if er != rn => s"rows $rn, expected $er"
          case Some((_, Some(ef))) if ef != f => s"fingerprint $f, expected $ef"
          case Some((_, Some(_))) => "ok"
          case Some((_, None)) => "ok-rows"
        }
      }.getOrElse("error")
      res.failed.foreach(e => fails.fail("query", "direct", e.getClass.getSimpleName,
        s"$name: ${e.getMessage}"))
      if (res.isSuccess) {
        fails.attempt("check.query", "direct")
        if (!check.startsWith("ok") && check != "unchecked")
          fails.fail("check.query", "direct", "mismatch", s"$name: $check")
      }
      QueryRow(name, family(name), res.isSuccess,
        res.failed.map(e => String.valueOf(e.getMessage).take(300)).getOrElse(""),
        bS, pS, eS, bg.jobs.get, pg.jobs.get + eg.jobs.get, pg.stages.get + eg.stages.get,
        pg.tasks.get + eg.tasks.get, (bg.taskCpuNs.get + pg.taskCpuNs.get + eg.taskCpuNs.get) / 1e9,
        bg.shuffleReadB.get + eg.shuffleReadB.get, bg.shuffleWriteB.get + eg.shuffleWriteB.get,
        bg.spillB.get + eg.spillB.get, n, fp, check)
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val good = rows.filter(_.ok)
    val ms = good.map(_.totalS * 1000)
    out.e2e("battery_s") = good.map(_.totalS).sum
    out.layer("battery_s") = out.e2e("battery_s")
    out.e2e("req_p50_ms") = if (ms.isEmpty) 0.0 else Stats.median(ms)
    out.e2e("req_p90_ms") = if (ms.isEmpty) 0.0 else Stats.percentile(ms, 90)
    out.e2e("req_per_s") = good.size / wallS
    out.samples("queries") = rows.size
    out.info("unchecked_queries") = rows.filter(_.check == "unchecked").map(_.name)
    out.info("row_count_only_queries") = rows.filter(_.check == "ok-rows").map(_.name)
    out.info("sf_dir_name") = java.nio.file.Paths.get(sfDir).getFileName.toString

    out.layer("build.s") = good.map(_.buildS).sum
    out.layer("build.jobs") = good.map(_.buildJobs).sum.toDouble
    out.layer("catalyst.s") = good.map(_.planS).sum
    out.layer("exec.s") = good.map(_.execS).sum
    out.layer("exec.jobs") = good.map(_.execJobs).sum.toDouble
    out.layer("exec.stages") = good.map(_.stages).sum.toDouble
    out.layer("exec.tasks") = good.map(_.tasks).sum.toDouble
    out.layer("exec.task_cpu_s") = good.map(_.cpuS).sum
    out.layer("exec.shuffle_read_mb") = good.map(_.shuffleReadB).sum / 1e6
    out.layer("exec.shuffle_write_mb") = good.map(_.shuffleWriteB).sum / 1e6
    out.layer("exec.spill_mb") = good.map(_.spillB).sum / 1e6
    Families.foreach { f =>
      val fr = good.filter(_.family == f)
      out.layer(s"family.$f.build_s") = fr.map(_.buildS).sum
      out.layer(s"family.$f.exec_s") = fr.map(r => r.planS + r.execS).sum
      out.layer(s"family.$f.jobs") = fr.map(r => r.buildJobs + r.execJobs).sum.toDouble
    }
    out.layer("jvm.process_cpu_s") = (Jvm.processCpuNs - cpu0) / 1e9
    out.layer("jvm.gc_s") = (Jvm.gcMs - gc0) / 1e3
    out.layer("machine.steal_frac") = Jvm.stealFrac(steal0)
    out.layer("req_p50_ms") = out.e2e("req_p50_ms")
    rows
  }
}
