package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths}
import java.time.Duration
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.types._

import graft.api.IndexOps
import graft.core.Entity
import graft.grpc.{GraftClient, GraftGrpcServer}

/** The two serving workloads: `serve_read` (two closed-loop readers,
  * one per front door) and `serve_mixed` (the same readers, planner
  * hints instead of saved-index names, plus one open-loop writer). */
object Serve {
  val EntityName = "feat"
  val Vec = "feature"
  val IndexTypes = Seq("vaf", "pq", "lsh")
  /** Build options per type. pq gets 16 sub-quantizers of 64 centroids
    * (4 dimensions each) for the 64-dim features; its default of 8 × 16
    * reaches recall@100 ≈ 0.45 here and misses the exact top-1 on about
    * one query in ten. */
  val IndexOptions: Map[String, Map[String, String]] =
    Map("pq" -> Map("nsq" -> "16", "ncentroids" -> "64")).withDefaultValue(Map.empty)
  def indexName(t: String): String = s"${t}_$Vec"
  val MixedHints = Seq("vaf", "pq", "sequential")
  /** Base rows of the entity. */
  val Rows = 100000L
  val WriterEveryMs = 2000L
  val RefreshEvery = 5

  val schema: StructType = StructType(Seq(
    StructField("vid", LongType, nullable = false),
    StructField(Vec, ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("label", IntegerType, nullable = false),
    StructField("tag", StringType, nullable = false)))

  // ---- set-up -------------------------------------------------------------

  final case class Built(base: String, loadS: Double, indexS: Map[String, Double]) {
    def indexTotalS: Double = indexS.values.sum
  }

  def generated(spark: SparkSession, seed: Long, from: Long, until: Long,
                parts: Int): DataFrame = {
    val cs = Gen.centers(seed)
    val rdd = spark.sparkContext.range(from, until, 1, parts).map { vid =>
      val r = Gen.row(seed, cs, vid)
      org.apache.spark.sql.Row(r.vid, r.feature.toSeq, r.label, r.tagName)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Bulk-load the entity and build + save the three indexes with their
    * build recipes, the way `/index/create` does. */
  def build(spark: SparkSession, base: String, seed: Long, rows: Long, parts: Int,
            tracer: Tracer): Built = {
    Files.createDirectories(Paths.get(base))
    val e = Entity.create(spark, base, EntityName)
    val t0 = System.nanoTime()
    tracer.span("setup.load", 0)(e.insert(generated(spark, seed, 0, rows, parts)))
    val loadS = (System.nanoTime() - t0) / 1e9
    val indexS = IndexTypes.map { t =>
      val t1 = System.nanoTime()
      tracer.span(s"setup.index.$t", 0) {
        val idx = IndexOps.create(t, e.read(), Entity.ApId, Vec, IndexOptions(t))
        e.saveIndex(indexName(t), idx, Map(IndexOps.InfoType -> t,
          IndexOps.InfoAttribute -> Vec, IndexOps.InfoIdCol -> Entity.ApId) ++ IndexOptions(t))
      }
      t -> (System.nanoTime() - t1) / 1e9
    }.toMap
    Built(base, loadS, indexS)
  }

  // ---- front doors --------------------------------------------------------

  /** One read's outcome: the result ids are `ap_id`s. */
  final case class Answer(ids: IndexedSeq[Long], dists: IndexedSeq[Double],
                          rows: Long, source: String)

  trait Door {
    def name: String
    def read(r: Gen.Request, mixed: Boolean): Answer
    def insert(rows: Seq[Gen.Row]): Unit
    def close(): Unit
  }

  /** A non-OK reply: counted as a failure of cause `ack_error`. */
  final class AckError(msg: String) extends Exception(msg)

  final class GrpcDoor(port: Int) extends Door {
    val name = "grpc"
    private val client = GraftClient.connect("127.0.0.1", port)

    def read(r: Gen.Request, mixed: Boolean): Answer = {
      val nnq = Some(GraftClient.Nnq(Vec, r.q.map(_.toFloat).toSeq, "euclidean", Gen.K))
      val res = r.kind match {
        case Gen.Seq_ => client.query(EntityName, nnq)
        case Gen.Filtered => client.query(EntityName, nnq,
          Seq(GraftClient.Where("label", "=", Seq(r.label))))
        case Gen.Bool => client.query(EntityName,
          where = Seq(GraftClient.Where("tag", "=", Seq(s"t${r.tag}"))))
        case k => client.query(EntityName, nnq,
          hints = if (mixed) MixedHints else Seq(indexName(k.name)))
      }
      res match {
        case Failure(e) => throw new AckError(e.getMessage)
        case Success(rs) =>
          val rows = rs.flatMap(_.rows)
          val ids = rows.map(m => m(Entity.ApId).asInstanceOf[Number].longValue).toIndexedSeq
          val ds = rows.flatMap(_.get("distance"))
            .map(_.asInstanceOf[Number].doubleValue).toIndexedSeq
          Answer(ids, ds, rows.size.toLong, rs.headOption.map(_.source).getOrElse(""))
      }
    }

    def insert(rows: Seq[Gen.Row]): Unit =
      client.insert(EntityName, rows.map(r => Map[String, Any](
        "vid" -> r.vid, Vec -> r.feature.toSeq, "label" -> r.label, "tag" -> r.tagName)))
        .failed.foreach(e => throw new AckError(e.getMessage))

    def refresh(index: String): Unit =
      client.refreshIndex(EntityName, index).failed.foreach(e => throw new AckError(e.getMessage))

    def close(): Unit = client.close()
  }

  final class HttpDoor(port: Int) extends Door {
    val name = "http"
    private val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(10)).build()
    private val mapper = new ObjectMapper()

    private def post(path: String, body: String): JsonNode = {
      val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .timeout(Duration.ofSeconds(120))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      val node = mapper.readTree(resp.body())
      if (!node.path("ok").asBoolean(false))
        throw new AckError(node.path("error").asText(s"HTTP ${resp.statusCode}"))
      node
    }

    def read(r: Gen.Request, mixed: Boolean): Answer = {
      val knn = mutable.LinkedHashMap[String, Any]("entity" -> EntityName,
        "vecCol" -> Vec, "idCol" -> Entity.ApId, "q" -> r.q.toSeq, "k" -> Gen.K,
        "dist" -> "euclidean")
      val (path, body) = r.kind match {
        case Gen.Seq_ | Gen.Filtered => ("/query/knn", knn)
        case Gen.Bool => ("/query/boolean", mutable.LinkedHashMap[String, Any](
          "entity" -> EntityName, "predicates" -> Seq(Map("attribute" -> "tag",
            "op" -> "=", "values" -> Seq(s"t${r.tag}")))))
        case k =>
          ("/query/knn", if (mixed) knn += ("hints" -> MixedHints)
          else knn += ("index" -> indexName(k.name)))
      }
      val node = post(path, Json(body))
      val rows = node.path("rows").elements().asScala.toIndexedSeq
      if (r.kind == Gen.Bool)
        Answer(IndexedSeq.empty, IndexedSeq.empty, node.path("totalRows").asLong(-1), "boolean")
      else Answer(rows.map(_.path(Entity.ApId).asLong), rows.map(_.path("distance").asDouble),
        rows.size.toLong, node.path("plan").asText(if (body.contains("index")) "index" else "sequential"))
    }

    def insert(rows: Seq[Gen.Row]): Unit =
      post("/entity/insert", Json(Map("name" -> EntityName, "rows" -> rows.map(r =>
        mutable.LinkedHashMap[String, Any]("vid" -> r.vid, Vec -> r.feature.toSeq,
          "label" -> r.label, "tag" -> r.tagName)))))


    def close(): Unit = ()
  }

  // ---- checks -------------------------------------------------------------

  /** One completed read kept for the end-of-run check. */
  final case class Done(door: String, req: Gen.Request, sentQ: Array[Double],
                        answer: Answer, ms: Double, startMs: Double)

  /** Exact answer check: distances within 1e-4 of the brute-force top-k
    * and ids equal, except that an id may differ where its own exact
    * distance ties the reference's at that rank. */
  def exactMatches(got: Answer, refIdx: IndexedSeq[(Int, Double)], exactDist: Long => Option[Double],
                   toApId: Int => Long): Option[String] = {
    if (got.ids.size != refIdx.size) return Some(s"${got.ids.size} rows, expected ${refIdx.size}")
    if (got.ids.distinct.size != got.ids.size) return Some("duplicate ids in answer")
    refIdx.indices.foreach { i =>
      val (ri, rd) = refIdx(i)
      if (math.abs(got.dists(i) - rd) > 1e-4)
        return Some(f"rank $i distance ${got.dists(i)}%.6f, expected $rd%.6f")
      if (got.ids(i) != toApId(ri)) {
        val own = exactDist(got.ids(i))
        if (!own.exists(d => math.abs(d - rd) <= 1e-4))
          return Some(s"rank $i id ${got.ids(i)}, expected ${toApId(ri)}")
      }
    }
    None
  }

  // ---- the run ------------------------------------------------------------

  final case class Opts(mixed: Boolean, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, nproc: Int)

  def run(spark: SparkSession, o: Opts, listener: JobListener, out: Result): Unit = {
    val tracer = new Tracer(o.trace)
    val fails = out.failures

    val setup0 = System.nanoTime()
    val built = build(spark, o.work.resolve("store").toString, o.seed, Rows, o.nproc, tracer)
    out.setupS = (System.nanoTime() - setup0) / 1e9
    val store = built.base
    IndexTypes.foreach(t => out.layer(s"setup.index.$t.s") = built.indexS(t))

    val httpServer = graft.api.Server.start(spark, store, 0)
    val grpcServer = new GraftGrpcServer(spark, store).startNetty(0)
    val grpcDoor = new GrpcDoor(grpcServer.getPort)
    val doors: Seq[Door] = Seq(grpcDoor, new HttpDoor(httpServer.port))
    val cs = Gen.centers(o.seed)
    val stampBefore = Entity.open(spark, store, EntityName).stamp

    // warm-up, untimed: every request kind once through each door, on a
    // stream of its own so the measured schedule does not move
    val warmT = System.nanoTime()
    doors.zipWithIndex.map { case (door, c) =>
      val t = new Thread(() => {
        val reqs = (0L until 40L).map(i => Gen.request(o.seed, 10 + c, i, door.name == "grpc", Rows, cs))
        reqs.groupBy(_.kind).values.map(_.minBy(_.n)).toSeq.sortBy(_.n).foreach(r =>
          fails.run("warmup", door.name)(door.read(r, o.mixed)))
      }, s"perfbench-warmup-${door.name}")
      t.start(); t
    }.foreach(_.join())
    out.info("warmup_s") = (System.nanoTime() - warmT) / 1e9

    val cpu0 = Jvm.processCpuNs
    val gc0 = Jvm.gcMs
    val steal0 = Jvm.cpuJiffies
    val t0 = System.nanoTime()
    val windowNs = o.seconds * 1000000000L
    val done = new ConcurrentLinkedQueue[Done]()
    val stop = new AtomicBoolean(false)
    def elapsed = System.nanoTime() - t0
    def keepReading = !stop.get && elapsed < windowNs

    // writer (serve_mixed): open loop, one batch every WriterEveryMs
    val acked = new ConcurrentLinkedQueue[Long]()
    val insertMs = new ConcurrentLinkedQueue[Double]()
    val lateMs = new ConcurrentLinkedQueue[Double]()
    val refreshS = new ConcurrentLinkedQueue[Double]()
    val insertLog = new ConcurrentLinkedQueue[Seq[Any]]()
    val writer = new Thread(() => {
      var b = 0
      while (elapsed < windowNs && !stop.get) {
        val dueNs = t0 + b * WriterEveryMs * 1000000L
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        if (elapsed < windowNs) {
          val door = doors(b % 2)
          val batch = Gen.insertBatch(o.seed, b, Rows, cs)
          lateMs.add((System.nanoTime() - dueNs) / 1e6)
          val ok = fails.run("insert", door.name) {
            if (o.trace) directInsert(spark, store, door.name, batch, b, tracer)
            else door.insert(batch)
          }
          if (ok.isDefined) {
            insertMs.add((System.nanoTime() - dueNs) / 1e6)
            insertLog.add(Seq(b, door.name, math.round((System.nanoTime() - dueNs) / 1e6)))
            batch.foreach(r => acked.add(r.vid))
          }
          if (b % RefreshEvery == RefreshEvery - 1) {
            val r0 = System.nanoTime()
            if (fails.run("refresh", grpcDoor.name)(grpcDoor.refresh(indexName("pq"))).isDefined)
              refreshS.add((System.nanoTime() - r0) / 1e9)
          }
          b += 1
        }
      }
    }, "perfbench-writer")

    val traced = new ConcurrentLinkedQueue[TracedRead]()
    def readOnce(door: Door, r: Gen.Request): Unit = {
      val op = s"read.${r.kind.name}"
      fails.attempt(op, door.name)
      val s = System.nanoTime()
      try {
        val a = tracer.span(s"door.${door.name}", r.n)(door.read(r, o.mixed))
        val ms = (System.nanoTime() - s) / 1e6
        val sent = if (door.name == "grpc") r.q.map(_.toFloat.toDouble) else r.q
        done.add(Done(door.name, r, sent, a, ms, (s - t0) / 1e6))
      } catch {
        case e: AckError => fails.fail(op, door.name, "ack_error", e.getMessage)
        case e: Exception => fails.fail(op, door.name, e.getClass.getSimpleName, e.getMessage)
      }
    }

    if (o.mixed) writer.start()
    if (!o.trace) {
      // two closed-loop readers, one per door, each on its own schedule
      val readers = doors.zipWithIndex.map { case (door, c) =>
        new Thread(() => {
          var i = 0L
          while (keepReading) {
            readOnce(door, Gen.request(o.seed, c, i, door.name == "grpc", Rows, cs))
            i += 1
          }
        }, s"perfbench-reader-${door.name}")
      }
      readers.foreach(_.start())
      readers.foreach(_.join())
    } else {
      // one client: each request through its door and again through
      // direct calls, alternating which goes first
      var i = 0L
      while (keepReading) {
        val c = (i % 2).toInt
        val door = doors(c)
        val r = Gen.request(o.seed, c, i / 2, door.name == "grpc", Rows, cs)
        val doorFirst = (i / 2) % 2 == 0
        val before = done.size
        if (doorFirst) readOnce(door, r)
        val direct = fails.run(s"direct.${r.kind.name}", "direct")(
          Direct.replay(spark, store, r, o.mixed, listener, tracer))
        if (!doorFirst) readOnce(door, r)
        if (done.size > before) direct.foreach(d => traced.add(d.copy(door = door.name,
          doorMs = done.asScala.last.ms)))
        i += 1
      }
    }
    stop.set(true)
    if (o.mixed) writer.join()
    val wallS = elapsed / 1e9
    val cpuS = (Jvm.processCpuNs - cpu0) / 1e9
    val gcS = (Jvm.gcMs - gc0) / 1e3
    out.layer("machine.steal_frac") = Jvm.stealFrac(steal0)

    // ---- untimed checks ---------------------------------------------------
    val e = Entity.open(spark, store, EntityName)
    val idMap = e.read().select(Entity.ApId, "vid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val reads = done.asScala.toSeq
    val table = new Gen.Table(o.seed, 0, Rows)
    val apOf: Map[Long, Long] = idMap.map(_.swap)
    val recall = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    reads.foreach { d =>
      val op = s"check.${d.req.kind.name}"
      fails.attempt(op, d.door)
      val err: Option[String] =
        if (d.req.kind == Gen.Bool) {
          val expect = table.tagCount(d.req.tag).toLong
          if (o.mixed) {
            val floor = if (d.door == "grpc") math.min(500L, expect) else expect
            if (d.answer.rows >= floor) None else Some(s"${d.answer.rows} rows < $floor")
          } else {
            val want = if (d.door == "grpc") math.min(500L, expect) else expect
            if (d.answer.rows == want) None else Some(s"${d.answer.rows} rows, expected $want")
          }
        } else if (d.answer.ids.size != Gen.K) Some(s"${d.answer.ids.size} rows, expected ${Gen.K}")
        else if (o.mixed) None
        else {
          val keep: Int => Boolean =
            if (d.req.kind == Gen.Filtered) i => table.labels(i) == d.req.label else _ => true
          val ref = Gen.topK(table.vecs, table.vids, d.sentQ, Gen.K, keep)
          def own(ap: Long): Option[Double] = idMap.get(ap).filter(_ < Rows)
            .map(v => Gen.euclidean(table.vecs(v.toInt), d.sentQ))
          def ap(i: Int): Long = apOf(table.vids(i))
          d.req.kind match {
            case Gen.Pq | Gen.Lsh =>
              val got = d.answer.ids.toSet
              recall.getOrElseUpdate(d.req.kind.name, mutable.ArrayBuffer())
                .append(ref.count(x => got(ap(x._1))).toDouble / Gen.K)
              if (got(ap(ref.head._1))) None else Some("exact top-1 missing")
            case _ => exactMatches(d.answer, ref, own, ap)
          }
        }
      err.foreach(m => fails.fail(op, d.door, "mismatch", m))
    }
    if (o.mixed) {
      fails.attempt("check.final_rows", "entity")
      val n = e.count()
      val distinct = e.read().select(Entity.ApId).distinct().count()
      val present = idMap.values.toSet
      val ackedVids = acked.asScala.toSeq
      val missing = ackedVids.count(v => !present(v))
      val want = Rows + ackedVids.size
      if (n != want || distinct != n || missing > 0)
        fails.fail("check.final_rows", "entity", "mismatch",
          s"rows $n (expected $want), distinct ap_id $distinct, acked vids missing $missing")
    }

    // ---- metrics ----------------------------------------------------------
    val ms = reads.map(_.ms)
    def p50(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    out.e2e("req_p50_ms") = p50(ms)
    out.e2e("req_p90_ms") = if (ms.isEmpty) 0.0 else Stats.percentile(ms, 90)
    out.e2e("req_per_s") = reads.size / wallS
    out.e2e("grpc_p50_ms") = p50(reads.filter(_.door == "grpc").map(_.ms))
    out.e2e("http_p50_ms") = p50(reads.filter(_.door == "http").map(_.ms))
    out.e2e("load_s") = built.loadS
    out.e2e("index_build_s") = built.indexTotalS
    // the door and set-up metrics BENCHMARK.json does not gate, per layer too
    Seq("req_p50_ms", "req_p90_ms", "grpc_p50_ms", "http_p50_ms", "load_s", "index_build_s")
      .foreach(k => out.layer(k) = out.e2e(k))
    if (o.mixed) {
      val ins = insertMs.asScala.toSeq
      out.e2e("insert_p50_ms") = p50(ins)
      out.e2e("insert_p90_ms") = if (ins.isEmpty) 0.0 else Stats.percentile(ins, 90)
      out.samples("insert") = ins.size
    }
    out.samples("reads") = reads.size
    out.info("p90_reportable") = Stats.beyond(90, reads.size) >= 10
    out.info("highest_reportable_percentile") = Stats.highestReportable(reads.size)
    out.info("measured_s") = wallS
    out.info("read_log") = reads.sortBy(_.startMs).map(d =>
      Seq(math.round(d.startMs), d.door, d.req.kind.name, math.round(d.ms)))

    Gen.Kinds.foreach { k =>
      out.layer(s"req.${k.name}_ms") = p50(reads.filter(_.req.kind == k).map(_.ms))
    }
    val hinted = reads.filter(d => o.mixed && Seq(Gen.Vaf, Gen.Pq, Gen.Lsh).contains(d.req.kind))
    out.layer("plans.fallback_frac") =
      if (hinted.isEmpty) 0.0
      else hinted.count(_.answer.source.toLowerCase.contains("sequential")).toDouble / hinted.size
    out.layer("index.pq.recall_at_100") = recall.get("pq").map(xs => xs.sum / xs.size).getOrElse(0.0)
    out.layer("index.lsh.recall_at_100") = recall.get("lsh").map(xs => xs.sum / xs.size).getOrElse(0.0)
    out.layer("index.refresh_s") = p50(refreshS.asScala)
    out.layer("writer.late_ms") = p50(lateMs.asScala)
    out.layer("insert_p50_ms") = p50(insertMs.asScala)
    out.layer("insert_p90_ms") =
      if (insertMs.isEmpty) 0.0 else Stats.percentile(insertMs.asScala.toSeq, 90)
    out.layer("jvm.process_cpu_s") = cpuS
    out.layer("jvm.gc_s") = gcS
    val live = e.stamp
    out.layer("core.versions") = (live._1 - stampBefore._1).toDouble
    val liveDir = Paths.get(store, EntityName, s"data_v${live._1}")
    out.layer("core.part_files") = Files.list(liveDir).iterator().asScala
      .map(_.getFileName.toString).count(n => n.startsWith("part-") && n.endsWith(".parquet"))
    out.layer("core.bytes_per_row") = dirBytes(liveDir).toDouble / math.max(1L, idMap.size)
    if (o.trace) {
      Direct.summarize(traced.asScala.toSeq, tracer, out)
      val ins = listener.groups.filter(_.startsWith("w:")).map(g => listener.get(g).jobs.get.toDouble)
      out.layer("core.insert_jobs") = if (ins.isEmpty) 0.0 else Stats.median(ins)
    }

    out.info("insert_log") = insertLog.asScala.toSeq
    doors.foreach(d => Try(d.close()))
    Try(grpcServer.shutdownNow())
    Try(httpServer.stop())
    // threads that would keep the JVM alive once the doors are stopped
    Thread.sleep(200)
    out.info("non_daemon_threads_after_stop") = Thread.getAllStackTraces.keySet.asScala
      .filter(t => t.isAlive && !t.isDaemon && t != Thread.currentThread)
      .map(_.getName).toSeq.sorted
    out.spans = tracer.spans
  }

  def dirBytes(p: Path): Long =
    Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  /** The traced writer's insert: the same conversion each door applies
    * before `Entity.insert`, made by direct calls under a job group. */
  private val grpcSchemas = new java.util.concurrent.ConcurrentHashMap[String, StructType]()
  def directInsert(spark: SparkSession, store: String, door: String, batch: Seq[Gen.Row],
                   b: Int, tracer: Tracer): Unit = {
    val e = Entity.open(spark, store, EntityName)
    spark.sparkContext.setJobGroup(s"w:$b", "insert")
    try tracer.span("core.insert", -1 - b) {
      val df =
        if (door == "grpc") {
          val s = grpcSchemas.computeIfAbsent(store, _ => e.read().drop(Entity.ApId).schema)
          val rows = batch.map(r => org.apache.spark.sql.Row.fromSeq(s.fields.toSeq.map(f =>
            f.name match {
              case "vid" => r.vid
              case Vec => f.dataType match {
                case ArrayType(DoubleType, _) => r.feature.toSeq.map(_.toDouble)
                case _ => r.feature.toSeq
              }
              case "label" => f.dataType match {
                case LongType => r.label.toLong
                case _ => r.label
              }
              case "tag" => r.tagName
            })))
          spark.createDataFrame(rows.asJava, s)
        } else {
          val json = batch.map(r => Json(mutable.LinkedHashMap[String, Any]("vid" -> r.vid,
            Vec -> r.feature.toSeq, "label" -> r.label, "tag" -> r.tagName)))
          spark.read.json(spark.createDataset(json)(Encoders.STRING))
        }
      e.insert(df)
    } finally spark.sparkContext.clearJobGroup()
  }

  /** Per-request layer record from the traced direct replay. */
  final case class TracedRead(req: Long, kind: String, door: String, doorMs: Double,
                              directMs: Double, buildJobs: Long, readJobs: Long,
                              execJobs: Long, execStages: Long, execTasks: Long,
                              execCpuS: Double, shuffleReadB: Long, shuffleWriteB: Long,
                              spillB: Long, candidates: Long)
}
