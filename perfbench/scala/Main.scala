package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import scala.collection.mutable

/** Everything one run measured: end-to-end and per-layer metrics, sample
  * counts, failure accounting and spans. */
class Result(val workload: String) {
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layer = mutable.LinkedHashMap[String, Double]()
  val samples = mutable.LinkedHashMap[String, Int]()
  val info = mutable.LinkedHashMap[String, Any]()
  val failures = new Failures
  var spans: Seq[Span] = Nil
  var setupS: Double = 0.0
  var queryRows: Seq[Battery.QueryRow] = Nil

  /** Process start to now: the set-up time of a workload. */
  def markSetupDone(): Unit = setupS = (System.currentTimeMillis() - Jvm.startMs) / 1e3

  /** Attempted operations (checks excluded) and failed ones (a failed
    * check fails the operation it checked). */
  def attempted: Long = failures.report.filterNot(_("op").toString.startsWith("check."))
    .map(_("attempted").asInstanceOf[Long]).sum
  def failed: Long = math.min(math.max(attempted, 1L),
    failures.report.map(_("failed").asInstanceOf[Long]).sum)
  def correct: Boolean = failures.failed == 0
}

object Main {
  /** Every per-layer metric, on every workload: one that a workload does
    * not exercise reads 0. */
  val LayerNames: Seq[String] = Seq(
    "battery_s", "req_p50_ms", "req_p90_ms", "grpc_p50_ms", "http_p50_ms", "load_s", "index_build_s",
    "insert_p50_ms", "insert_p90_ms", "err_frac",
    "setup.session_s", "setup.index.vaf.s", "setup.index.pq.s", "setup.index.lsh.s",
    "build.s", "build.ms", "build.jobs", "catalyst.s", "catalyst.ms",
    "exec.s", "exec.ms", "exec.jobs", "exec.stages", "exec.tasks", "exec.task_cpu_s",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb") ++
    Battery.Families.flatMap(f => Seq(s"family.$f.build_s", s"family.$f.exec_s", s"family.$f.jobs")) ++
    Seq("grpc.door_ms", "api.door_ms",
      "core.open_ms", "core.read_ms", "core.read_jobs", "core.insert_ms", "core.insert_jobs",
      "core.part_files", "core.versions", "core.bytes_per_row",
      "index.load_ms", "index.vaf.candidates", "index.pq.candidates", "index.lsh.candidates",
      "index.pq.recall_at_100", "index.lsh.recall_at_100", "index.refresh_s",
      "plans.choose_ms", "plans.fallback_frac",
      "req.seq_ms", "req.filtered_ms", "req.vaf_ms", "req.pq_ms", "req.lsh_ms", "req.boolean_ms",
      "writer.late_ms", "jvm.process_cpu_s", "jvm.gc_s", "machine.steal_frac",
      "traced.setup_s", "traced.req_per_s")

  def unitOf(name: String): String =
    if (name.endsWith("_per_s")) "1/s"
    else if (name.endsWith("_ms") || name.endsWith(".ms")) "ms"
    else if (name.endsWith("_s") || name.endsWith(".s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (name.endsWith("_frac") || name.contains("recall")) "ratio"
    else if (name.endsWith("bytes_per_row")) "B"
    else "count"

  final case class Args(workload: String = "", seed: Long = 1, seconds: Int = 20,
                        trace: Boolean = false, records: String = ".bench_runs/records",
                        work: String = ".bench_runs/work", sfDir: String = "",
                        queries: Option[Set[String]] = None, expected: String = "",
                        stamp: Map[String, String] = Map.empty)

  def parse(args: Array[String]): Args = {
    var a = Args()
    args.grouped(2).foreach {
      case Array("--workload", v) => a = a.copy(workload = v)
      case Array("--seed", v) => a = a.copy(seed = v.toLong)
      case Array("--seconds", v) => a = a.copy(seconds = v.toInt)
      case Array("--trace", v) => a = a.copy(trace = v == "1")
      case Array("--records", v) => a = a.copy(records = v)
      case Array("--work", v) => a = a.copy(work = v)
      case Array("--sf-dir", v) => a = a.copy(sfDir = v)
      case Array("--queries", v) => a = a.copy(queries = Some(v.split(",").toSet))
      case Array("--expected", v) => a = a.copy(expected = v)
      case Array(k, v) if k.startsWith("--stamp-") => a = a.copy(stamp = a.stamp + (k.drop(8) -> v))
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }
    a
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] run failed: $e")
        e.printStackTrace()
        2
      }
    System.out.flush()
    // the HTTP front door leaves non-daemon executor threads behind, so
    // the process must end explicitly
    System.exit(code)
  }

  def run(a: Args): Int = {
    if (a.workload == "selftest") return SelfTest.run()
    val nproc = Runtime.getRuntime.availableProcessors
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val spark = graft.core.GraftSession.builder(s"local[$nproc]", nproc)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // Spark work is counted only in the traced run; the plain run's
    // counters stay at zero
    val listener = new JobListener
    if (a.trace) spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.currentTimeMillis() - Jvm.startMs) / 1e3
    val out = new Result(a.workload)
    a.workload match {
      case "serve_read" | "serve_mixed" =>
        Serve.run(spark, Serve.Opts(a.workload == "serve_mixed", a.seed, a.seconds, a.trace,
          work, nproc), listener, out)
        out.setupS += sessionS
      case "battery" =>
        require(a.sfDir.nonEmpty, "battery needs --sf-dir <directory of the sf tables>")
        val exp = if (a.expected.isEmpty) Map.empty[String, (Long, Option[String])]
          else Battery.readExpected(Paths.get(a.expected))
        out.queryRows = Battery.run(spark, a.sfDir, a.queries, exp, listener, out)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    out.e2e("setup_s") = out.setupS
    out.layer("setup.session_s") = sessionS
    val errFrac = out.failed.toDouble / math.max(1L, out.attempted)
    out.e2e("err_frac") = errFrac
    out.layer("err_frac") = errFrac
    if (a.trace) out.e2e.foreach { case (k, v) => out.layer(s"traced.$k") = v }
    LayerNames.foreach(k => if (!out.layer.contains(k)) out.layer(k) = 0.0)
    writeRecord(a, nproc, out)
    try spark.stop() catch { case _: Exception => () }
    if (out.correct) 0 else 1
  }

  private def writeRecord(a: Args, nproc: Int, out: Result): Unit = {
    val dir = Paths.get(a.records)
    Files.createDirectories(dir)
    val ts = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .format(java.time.ZonedDateTime.now(java.time.ZoneOffset.UTC))
    val stem = s"${a.workload}-seed${a.seed}-c$nproc-trace${if (a.trace) 1 else 0}-$ts-" +
      ProcessHandle.current().pid()
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "nproc" -> nproc,
      "seconds" -> a.seconds, "trace" -> a.trace, "heap_max_mb" -> Jvm.heapMaxMb,
      "correct" -> out.correct, "attempted" -> out.attempted, "failed" -> out.failed,
      "e2e" -> out.e2e.map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) },
      "layer" -> out.layer.map { case (k, v) => k -> Map("value" -> v, "unit" -> unitOf(k)) },
      "samples" -> out.samples, "info" -> out.info, "failures" -> out.failures.report)
    a.stamp.foreach { case (k, v) => rec(k) = v }
    if (a.workload == "serve_read" || a.workload == "serve_mixed")
      rec("rows") = Serve.Rows
    if (a.workload == "battery") rec("queries") = out.queryRows.map(_.toMap)
    // never overwrite: the name carries workload, seed, cores, time and pid,
    // and the file is created exclusively
    def create(name: String, body: String): Unit =
      Files.write(dir.resolve(name), body.getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    if (out.spans.nonEmpty) {
      val self = Tracer.selfTimes(out.spans)
      create(s"$stem.spans.jsonl",
        out.spans.map(s => Tracer.toJson(s, self(s.id))).mkString("", "\n", "\n"))
      val byName = out.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
        n -> Map("count" -> ss.size, "total_ms" -> ss.map(_.durNs).sum / 1e6,
          "self_ms" -> ss.map(s => self(s.id)).sum / 1e6)
      }
      rec("span_self_time") = mutable.LinkedHashMap(byName: _*)
    }
    create(s"$stem.json", Json(rec) + "\n")
    println(s"record ${dir.resolve(s"$stem.json")}")
    out.e2e.foreach { case (k, v) => println(f"metric $k%-16s $v%.4f ${unitOf(k)}") }
    if (a.trace) out.layer.foreach { case (k, v) => println(f"layer  $k%-28s $v%.4f ${unitOf(k)}") }
    out.failures.report.filter(_("failed").asInstanceOf[Long] > 0).foreach(r =>
      println(s"failed ${r("op")}/${r("door")}: ${r("failed")} of ${r("attempted")} " +
        s"${r("first_errors")}"))
  }
}
