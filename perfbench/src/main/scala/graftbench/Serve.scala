package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.graftprobe.CacheProbe
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.GraftSession
import graft.cypher.{CypherParser, ReadQuery}
import graft.exec.DataFrameBuilder
import graft.fixtures.TpchGraph
import graft.planner.Planner

/** The two serving workloads. A closed loop of [[Clients]] threads, each
  * holding one connection, sends the seeded request stream through
  * `POST /query` to a server booted by `graft.server.Main.boot`. A traced
  * run then replays the same requests in-process, once untraced and once
  * traced, each on a fresh session, because server threads do not carry
  * the benchmark's span property. The untraced replay makes the server's
  * own calls, so the HTTP phase minus it is the server's cost. */
object Serve {

  val Clients = 4
  private val SetupReps = 3

  final case class Req(i: Int, key: String, t: String, kind: String, body: String,
      q: String, params: Map[String, Any], inline: Option[String], probe: Option[Req])

  /** One completed request: stream index, client, kind, start (ns since
    * phase start), duration (ns), HTTP-style status, row count and a hash
    * of the sorted body lines. */
  final case class Done(i: Int, client: Int, kind: String, t: String, start: Long, dur: Long,
      status: Int, rows: Int, hash: String, err: String)

  def run(ctx: Ctx, writes: Boolean, traced: Boolean): JValue = {
    val input = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(ctx.inputFile)), StandardCharsets.UTF_8))
    val warm = (input \ "warm").children.map(req)
    val stream = (input \ "stream").children.map(req).toVector
    val spark = ctx.spark

    var server: Option[graft.server.QueryServer] = None
    val (setupTimes, port) = Main.setupReps(SetupReps, ctx.dataDir) { dir =>
      server.foreach(_.stop())
      spark.catalog.clearCache()
      val env = Map("GRAFT_DATA_DIR" -> dir, "GRAFT_PORT" -> "0", "GRAFT_HOST" -> "127.0.0.1")
      val (srv, gs, port) = graft.server.Main.boot(env.get, spark)
      server = Some(srv)
      warmIndexes(gs)
      port
    }
    val http = new Http(port)
    closedLoop(warm.toVector, 0, Some(warm.size))((c, r) => http.send(http.clients(c), r))

    // the first body of each distinct read is kept for the checks; cached
    // plan entries are sampled off the request path
    val bodies = new ConcurrentHashMap[String, String]()
    val cacheStart = CacheProbe.entryCount(spark)
    val cacheHigh = new AtomicInteger(cacheStart)
    val sampler = java.util.concurrent.Executors.newSingleThreadScheduledExecutor()
    sampler.scheduleAtFixedRate(() => { cacheHigh.accumulateAndGet(CacheProbe.entryCount(spark), math.max); () },
      0, 50, java.util.concurrent.TimeUnit.MILLISECONDS)
    val cpu0 = Main.cpuSeconds()
    val (httpWall, httpDone) = closedLoop(stream, ctx.seconds, None) { (client, r) =>
      val (status, body) = http.send(http.clients(client), r)
      if (status == 200 && r.kind == "read") bodies.putIfAbsent(r.key, body)
      (status, body)
    }
    val httpCpu = Main.cpuSeconds() - cpu0
    sampler.shutdown()
    sampler.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
    val cacheEnd = CacheProbe.entryCount(spark)
    val bodiesDir = Files.createDirectories(Paths.get(ctx.outDir, "bodies"))
    bodies.forEach((k, b) => Files.write(bodiesDir.resolve(k + ".txt"), b.getBytes(StandardCharsets.UTF_8)))

    // acknowledged writes must be readable once the load has ended
    val writeKeys = stream.filter(_.kind == "write").map(_.params("ok").asInstanceOf[Long])
    val durability = if (!writes) JNothing else {
      val keys = writeKeys.mkString("[", ", ", "]")
      def probe(q: String) = JString(http.send(http.clients(0), adHoc(q.replace("$keys", keys)))._2)
      JObject(
        "nodes" -> probe("MATCH (o:Order) WHERE o.o_orderkey IN $keys RETURN o.o_orderkey AS k;"),
        "edges" -> probe("MATCH (c:Customer)-[:PLACED]->(o:Order) WHERE o.o_orderkey IN $keys " +
          "RETURN c.c_custkey AS ck, o.o_orderkey AS k;"))
    }
    server.foreach(_.stop())

    val replays = if (!traced) JNothing else {
      // the same requests the HTTP phase issued, same order, same clients
      val issued = stream.take(httpDone.map(_.i).max + 1)
      val (plainWall, plainDone) = replay(ctx, warm, issued, SetupReps, traced = false)
      val jl = new ListenerWindow
      val (tracedWall, tracedDone) = jl.around(replay(ctx, warm, issued, SetupReps + 1, traced = true))
      JObject(
        "inproc" -> phase(plainWall, plainDone),
        "traced" -> (phase(tracedWall, tracedDone) merge jl.json),
        "join_amplification" -> JArray(joinAmp.asScala.toList.map { case (i, a) =>
          JArray(List(JInt(i), JDouble(a))) }))
    }

    JObject(
      "setup_s" -> Main.seqJson(setupTimes),
      "http" -> (phase(httpWall, httpDone) merge JObject("cpu_s" -> JDouble(httpCpu))),
      "cache_entries" -> JObject("start" -> JInt(cacheStart), "high" -> JInt(cacheHigh.get()),
        "end" -> JInt(cacheEnd)),
      "durability" -> durability) merge replays
  }

  /** Build the adjacency indexes the anchored templates read. */
  private def warmIndexes(gs: GraftSession): Unit =
    Seq("PLACED", "CONTAINS").foreach(rel => gs.adjIndex(rel, outgoing = true).count())

  private def phase(wall: Double, done: Seq[Done]): JValue = JObject(
    "wall_s" -> JDouble(wall),
    "requests" -> JArray(done.toList.map(d => JArray(List(JInt(d.i), JInt(d.client), JString(d.kind),
      JString(d.t), JLong(d.start), JLong(d.dur), JInt(d.status), JInt(d.rows), JString(d.hash), JString(d.err))))))

  /** Closed loop: [[Clients]] threads take the next stream request until
    * the deadline (or the stream, when `limit` is given, is exhausted). A
    * 200 on a write is followed at once by that client's
    * read-your-writes probe. Returns the wall time from start to last
    * completion. */
  private def closedLoop(stream: Vector[Req], seconds: Double, limit: Option[Int])(
      exec: (Int, Req) => (Int, String)): (Double, Seq[Done]) = {
    val next = new AtomicInteger(0)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val lastEnd = new AtomicLong(t0)
    val n = limit.getOrElse(stream.size)
    def one(client: Int, r: Req): Int = {
      val s = System.nanoTime()
      val (status, body) = try exec(client, r) catch { case e: Exception => (599, String.valueOf(e)) }
      val e = System.nanoTime()
      lastEnd.accumulateAndGet(e, math.max)
      val lines = body.split("\n").filter(_.nonEmpty).sorted
      done.add(Done(r.i, client, r.kind, r.t, s - t0, e - s, status, lines.length, sha(lines.mkString("\n")),
        if (status == 200) "" else body.take(300)))
      status
    }
    val threads = (0 until Clients).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (i < n && (limit.isDefined || System.nanoTime() < deadline)) {
          val r = stream(i)
          if (one(c, r) == 200) r.probe.foreach(one(c, _))
          i = next.getAndIncrement()
        }
      }, s"graftbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (limit.isEmpty && next.get() >= n) throw new IllegalStateException(
      s"request stream of $n exhausted before the deadline; generate a longer one")
    ((lastEnd.get() - t0) / 1e9, done.asScala.toSeq.sortBy(_.i))
  }

  private val joinAmp = new ConcurrentHashMap[Int, Double]()

  /** Replay `issued` in-process on a fresh session, built the way
    * `Main.boot` builds the server's (`TpchGraph.session`) under the data
    * dir alias `alias` (see [[Main.setupReps]]). */
  private def replay(ctx: Ctx, warm: Seq[Req], issued: Vector[Req], alias: Int,
      traced: Boolean): (Double, Seq[Done]) = {
    val gs = TpchGraph.session(ctx.spark, ctx.dataDir + "/." * alias)
    warmIndexes(gs)
    closedLoop(warm.toVector, 0, Some(warm.size))((_, r) => inproc(ctx, gs, r, traced = false))
    ctx.trace.enabled = traced
    try closedLoop(issued, 0, Some(issued.size))((_, r) => inproc(ctx, gs, r, traced))
    finally ctx.trace.enabled = false
  }

  /** One request in-process. Untraced, it makes `QueryServer`'s calls:
    * `GraftSession.cypher` with the bound parameters, the JSONEachRow
    * iterator, then the pipeline cache release. Traced, the query with its
    * parameters inlined goes through each layer's public call in its own
    * span. */
  private def inproc(ctx: Ctx, gs: GraftSession, r: Req, traced: Boolean): (Int, String) = {
    val tr = ctx.trace
    // a write and its probe share a stream index; the kind keeps their ids apart
    tr.request(s"${r.kind}-${r.i}", r.t) {
      try {
        val sb = new StringBuilder
        val lines = if (traced) tracedLines(tr, gs, r) else gs.jsonRowIterator(gs.cypher(r.q, r.params))
        lines.foreach(l => sb.append(l).append('\n'))
        (200, sb.toString)
      } catch {
        case e: graft.cypher.GraftException => (400, e.getMessage)
        case e: org.apache.spark.sql.AnalysisException => (400, e.getMessage)
        case e: Exception => (500, String.valueOf(e))
      } finally tr.span("pipeline", "caches_clear")(graft.pipeline.PipelineCaches.clear())
    }
  }

  private def tracedLines(tr: Trace, gs: GraftSession, r: Req): Seq[String] = {
    val df: DataFrame = r.inline match {
      case Some(text) =>
        val q = tr.span("cypher", "parse")(CypherParser.parse(text)).asInstanceOf[ReadQuery]
        val plan = tr.span("planner", "plan")(Planner.plan(q, gs.catalog))
        tr.span("exec", "build")(new DataFrameBuilder(gs).build(plan))
      case None if r.kind == "write" => tr.span("catalog", "create")(gs.cypher(r.q, r.params))
      case None => tr.span("exec", "cypher")(gs.cypher(r.q, r.params))
    }
    // GraftSession.jsonRowIterator is df.toJSON.toLocalIterator; the
    // phases of that one Dataset are timed separately here
    val js = df.toJSON
    tr.span("catalyst", "optimize")(js.queryExecution.optimizedPlan)
    tr.span("catalyst", "physical")(js.queryExecution.executedPlan)
    val lines = tr.span("spark", "execute")(js.toLocalIterator().asScala.toVector)
    if (r.kind != "write") joinAmp.put(r.i, joinOutputRows(js.queryExecution.executedPlan) /
      math.max(1, lines.size).toDouble)
    lines
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper
  /** Rows output by every join operator of an executed plan (SQL metrics). */
  def joinOutputRows(plan: SparkPlan): Double = PlanWalk.collect(plan) {
    case p if p.nodeName.contains("Join") => p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
  }.sum.toDouble

  private def sha(s: String): String = java.security.MessageDigest.getInstance("SHA-1")
    .digest(s.getBytes(StandardCharsets.UTF_8)).take(8).map("%02x".format(_)).mkString

  private def req(v: JValue): Req = {
    val JObject(fields) = v: @unchecked
    val m = fields.toMap
    def str(k: String) = m.get(k).collect { case JString(s) => s }
    Req(m.get("i").collect { case JInt(x) => x.toInt }.getOrElse(-1),
      str("key").getOrElse(""), str("t").getOrElse(""), str("kind").getOrElse("read"),
      JsonMethods.compact(JsonMethods.render(JObject("query" -> m("q"), "parameters" -> m("p"),
        "format" -> JString("JSONEachRow")))),
      str("q").get, param(m("p")).asInstanceOf[Map[String, Any]], str("inline"),
      m.get("probe").collect { case p: JObject => req(p) })
  }

  private def adHoc(q: String): Req =
    req(JObject("q" -> JString(q), "p" -> JObject(), "t" -> JString("adhoc")))

  /** JSON parameter → engine binding, as the server binds them. */
  private def param(v: JValue): Any = v match {
    case JObject(fs) => fs.map { case (k, x) => k -> param(x) }.toMap
    case JString(s) => s
    case JInt(i) => i.toLong
    case JLong(l) => l
    case JDouble(d) => d
    case JBool(b) => b
    case JArray(xs) => xs.map(param)
    case _ => null
  }

  /** One HTTP/1.1 client per benchmark client thread, so each holds one
    * keep-alive connection. */
  final class Http(port: Int) {
    val clients: IndexedSeq[HttpClient] = (0 until Clients).map(_ =>
      HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build())
    private val uri = URI.create(s"http://127.0.0.1:$port/query")

    def send(c: HttpClient, r: Req): (Int, String) = {
      val rq = HttpRequest.newBuilder(uri).POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
      val resp = c.send(rq, HttpResponse.BodyHandlers.ofString())
      val body = resp.body()
      // a mid-stream failure ends the chunked body with a sentinel line
      (if (body.contains("__GRAFT_STREAM_ERROR__")) 500 else resp.statusCode(), body)
    }
  }
}
