package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.api.{NnQuery, QueryOps}
import graft.core.Entity
import graft.operators.BooleanPredicates.Predicate
import graft.plans.Planner

/** The traced serving replay: one request made again through direct
  * calls into the layers the doors use, with a span and a job group
  * around each call. */
object Direct {
  import Serve._

  def replay(spark: SparkSession, store: String, r: Gen.Request, mixed: Boolean,
             listener: JobListener, tracer: Tracer): TracedRead = {
    val sc = spark.sparkContext
    val id = r.client * 1000000L + r.n
    val g = s"d:$id"
    def grp[T](phase: String)(f: => T): T = {
      sc.setJobGroup(s"$g:$phase", phase)
      try f finally sc.clearJobGroup()
    }
    val q = r.q.toSeq
    val nnq = NnQuery(Vec, q, "euclidean", Gen.K)
    var chosen: Option[graft.index.VectorIndex] = None
    val t0 = System.nanoTime()
    tracer.span("direct", id) {
      val e = tracer.span("core.open", id)(Entity.open(spark, store, EntityName))
      val df = grp("read")(tracer.span("core.read", id)(e.read()))
      val built: DataFrame = grp("build")(tracer.span("build", id)(r.kind match {
        case Gen.Seq_ => QueryOps.sequential(df, Entity.ApId, nnq)
        case Gen.Filtered =>
          QueryOps.filteredKnn(df, Entity.ApId, Seq(Predicate("label", "=", Seq(r.label))), nnq)
        case Gen.Bool =>
          QueryOps.booleanQuery(df, Seq(Predicate("tag", "=", Seq(s"t${r.tag}")))).limit(500)
        case _ if mixed =>
          val indexes = tracer.span("index.load", id)(
            e.listIndexes.map(e.loadIndex).filterNot(_.stale).map(_.index))
          val plan = tracer.span("plans.choose", id)(
            QueryOps.choosePlan(df, indexes, Planner.hintsByName(MixedHints), nnq))
          plan match { case Planner.IndexPlan(ix) => chosen = Some(ix); case _ => }
          QueryOps.runPlan(plan, df, Entity.ApId, nnq)
        case k =>
          val loaded = tracer.span("index.load", id)(e.loadIndex(indexName(k.name)))
          chosen = Some(loaded.index)
          QueryOps.index(df, Entity.ApId, loaded.index, nnq)
      }))
      grp("plan")(tracer.span("catalyst", id)(built.queryExecution.executedPlan))
      grp("exec")(tracer.span("exec", id)(built.collect()))
    }
    val directMs = (System.nanoTime() - t0) / 1e6
    // candidate-set size, outside the timed replay
    val cand = chosen.map(ix => grp("cand")(ix.candidates(q, Gen.K).count())).getOrElse(0L)
    val b = listener.get(s"$g:build")
    val rd = listener.get(s"$g:read")
    val ex = listener.get(s"$g:exec")
    val pl = listener.get(s"$g:plan")
    TracedRead(id, r.kind.name, "", 0.0, directMs, b.jobs.get, rd.jobs.get,
      ex.jobs.get + pl.jobs.get, ex.stages.get + pl.stages.get, ex.tasks.get + pl.tasks.get,
      (ex.taskCpuNs.get + pl.taskCpuNs.get) / 1e9, ex.shuffleReadB.get, ex.shuffleWriteB.get,
      ex.spillB.get, cand)
  }

  /** Per-layer metrics of the serving trace: medians per request. */
  def summarize(reads: Seq[TracedRead], tracer: Tracer, out: Result): Unit = {
    val spans = tracer.spans
    def med(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def spanMs(name: String): Double = med(spans.filter(_.name == name).map(_.durNs / 1e6))
    out.layer("build.ms") = spanMs("build")
    out.layer("build.jobs") = med(reads.map(_.buildJobs.toDouble))
    out.layer("catalyst.ms") = spanMs("catalyst")
    out.layer("exec.ms") = spanMs("exec")
    out.layer("exec.jobs") = med(reads.map(_.execJobs.toDouble))
    out.layer("exec.stages") = med(reads.map(_.execStages.toDouble))
    out.layer("exec.tasks") = med(reads.map(_.execTasks.toDouble))
    out.layer("exec.task_cpu_s") = med(reads.map(_.execCpuS))
    def meanMb(f: TracedRead => Long): Double =
      if (reads.isEmpty) 0.0 else reads.map(f).sum / 1e6 / reads.size
    out.layer("exec.shuffle_read_mb") = meanMb(_.shuffleReadB)
    out.layer("exec.shuffle_write_mb") = meanMb(_.shuffleWriteB)
    out.layer("exec.spill_mb") = meanMb(_.spillB)
    out.layer("grpc.door_ms") = med(reads.filter(_.door == "grpc").map(r => r.doorMs - r.directMs))
    out.layer("api.door_ms") = med(reads.filter(_.door == "http").map(r => r.doorMs - r.directMs))
    out.layer("core.open_ms") = spanMs("core.open")
    out.layer("core.read_ms") = spanMs("core.read")
    out.layer("core.read_jobs") = med(reads.map(_.readJobs.toDouble))
    out.layer("core.insert_ms") = spanMs("core.insert")
    out.layer("index.load_ms") = spanMs("index.load")
    out.layer("plans.choose_ms") = spanMs("plans.choose")
    Seq("vaf", "pq", "lsh").foreach { t =>
      out.layer(s"index.$t.candidates") =
        med(reads.filter(r => r.kind == t && r.candidates > 0).map(_.candidates.toDouble))
    }
  }
}
