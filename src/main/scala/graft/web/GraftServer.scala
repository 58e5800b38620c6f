package graft.web

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Web/REST parity layer (reference: sqlplus-web's springboot app —
 * hypergraph visualization, candidate-tree pick, experiment runner —
 * re-expressed over the JDK's built-in HTTP server, zero added
 * dependencies). The three reference capabilities map to:
 *
 *  - hypergraph visualization → `POST /api/hypergraph` (Graphviz DOT of
 *    the bipartite relation/variable graph) and the embedded index page
 *    that renders the same structure as text;
 *  - candidate-tree pick → `POST /api/candidates` (every valid rerooting
 *    with size estimates) + `POST /api/query?root=rN` (execute with the
 *    picked root — [[graft.sql.CqcSql.solveWithRoot]]);
 *  - experiment runner → `GET /api/queries` (the registered driver
 *    entries) + `POST /api/experiment?name=..&sf=..` (run one, timed).
 *
 * Plus the door itself: `POST /api/query` (rows), `POST /api/plan`
 * (dry-run dump), `POST /api/emit` (the generated standalone program —
 * reference compile/SqlPlusCompiler.scala's artifact). Request bodies
 * are RAW SQL TEXT (no JSON parsing dependency); responses are JSON.
 *
 * Single-JVM by design: the server wraps ONE SparkSession the same way
 * the reference web app wraps one engine context. Row payloads are
 * capped (`?limit=`, default 1000) — a browser is not a sink for a
 * 100 TB result; unbounded extracts belong to the parquet writers.
 */
final class GraftServer(spark: SparkSession, port: Int = 0) {

  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

  /** Bound port (useful when constructed with port 0 = ephemeral). */
  def boundPort: Int = server.getAddress.getPort

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def jval(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case n: Byte => n.toString
    case n: Short => n.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case n: Float => if (n.isNaN || n.isInfinite) jstr(n.toString) else n.toString
    case n: Double => if (n.isNaN || n.isInfinite) jstr(n.toString) else n.toString
    case n: java.math.BigDecimal => n.toPlainString
    case s: Seq[_] => s.map(jval).mkString("[", ",", "]")
    case a: Array[_] => a.map(jval).mkString("[", ",", "]")
    case r: org.apache.spark.sql.Row => r.toSeq.map(jval).mkString("[", ",", "]")
    case other => jstr(other.toString)
  }

  private def rowsJson(df: DataFrame, limit: Int): String = {
    val cols = df.columns
    val rows = df.limit(limit).collect()
    s"""{"columns":${cols.toSeq.map(jstr).mkString("[", ",", "]")},""" +
      s""""rows":${rows.toSeq.map(jval).mkString("[", ",", "]")},""" +
      s""""rowCount":${rows.length},"capped":${rows.length == limit}}"""
  }

  private def respond(ex: HttpExchange, code: Int, body: String, ctype: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", s"$ctype; charset=utf-8")
    ex.sendResponseBody(code, bytes)
  }

  private implicit class ExOps(ex: HttpExchange) {
    def sendResponseBody(code: Int, bytes: Array[Byte]): Unit = {
      ex.sendResponseHeaders(code, bytes.length.toLong)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  private def param(ex: HttpExchange, name: String): Option[String] = {
    val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
    q.split('&').iterator.map(_.split("=", 2)).collectFirst {
      case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
    }
  }

  private def body(ex: HttpExchange): String =
    new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8).trim

  private def handle(path: String)(f: HttpExchange => (Int, String, String)): Unit =
    server.createContext(path, (ex: HttpExchange) =>
      try {
        val (code, payload, ctype) = f(ex)
        respond(ex, code, payload, ctype)
      } catch {
        case e: Throwable =>
          respond(ex, 400, s"""{"error":${jstr(Option(e.getMessage).getOrElse(e.toString))}}""",
            "application/json")
      })

  handle("/health") { _ => (200, """{"status":"ok"}""", "application/json") }

  /** The async experiment worker clears ALL session caches before each
    * queue entry (cold-start timing contract, matching the reference's
    * ExperimentManager). An interactive execution racing the drain would
    * lose its pinned index/quantizer caches mid-flight and recompute —
    * so the exclusion is MUTUAL and atomic under one lock
    * ([[Experiments.beginInteractive]]): the two EXECUTING endpoints
    * (/api/query, sync /api/experiment) answer 409 while the queue
    * drains, and /api/experiment/start answers 409 while an interactive
    * execution is in flight (r12 review fix — the one-directional gate
    * let start() yank a running query's caches). Metadata-only
    * endpoints (plan/candidates/structure/hypergraph/emit) never touch
    * caches and stay open. */
  private def experimentsBusy: (Int, String, String) =
    (409, """{"error":"experiment queue is draining or a cache-clearing execution is in flight; retry when /api/experiment/status shows STOPPED and it completes"}""",
      "application/json")

  private def interactiveBusy: (Int, String, String) =
    (409, """{"error":"an interactive execution is in flight (the experiment worker clears caches per entry); retry when it completes"}""",
      "application/json")

  /** Hard cap on concurrently EXECUTING requests (each runs a full Spark
    * job on the shared session): excess executing requests answer 503
    * instead of spawning unbounded concurrent Spark executions (r12
    * advice — the cached HTTP pool is per-request, so without this gate N
    * concurrent /api/query calls meant N concurrent jobs). Metadata
    * endpoints (plan/candidates/structure/hypergraph/emit) stay ungated
    * and responsive. */
  private val executing = new java.util.concurrent.Semaphore(4)

  private def executingBusy: (Int, String, String) =
    (503, """{"error":"too many concurrent executions; retry shortly"}""",
      "application/json")

  /** Run `f` as a gated interactive execution: 503 over the concurrency
    * cap, 409 if the queue is draining, otherwise counted in-flight so a
    * concurrent start() (or cache-clearing sync experiment) is refused
    * until it finishes. */
  private def interactive(f: => (Int, String, String)): (Int, String, String) =
    if (!executing.tryAcquire()) executingBusy
    else try {
      if (!Experiments.beginInteractive()) experimentsBusy
      else try f finally Experiments.endInteractive()
    } finally executing.release()

  /** Run `f` as an EXCLUSIVE interactive execution — for handlers that
    * clear the session caches up front (the sync /api/experiment): it
    * must not run while ANY other interactive execution is in flight, or
    * it would yank that execution's pinned index/quantizer caches
    * mid-flight (r12 advice, medium — the harm class the async queue
    * already 409s for, previously open between the two interactive
    * endpoints). 409 with a retry hint when anything else is executing. */
  private def exclusive(f: => (Int, String, String)): (Int, String, String) =
    if (!executing.tryAcquire()) executingBusy
    else try {
      if (!Experiments.beginExclusive()) interactiveBusyForExclusive
      else try f finally Experiments.endExclusive()
    } finally executing.release()

  private def interactiveBusyForExclusive: (Int, String, String) =
    (409, """{"error":"another execution is in flight and this endpoint clears all session caches; retry when it completes"}""",
      "application/json")

  handle("/api/query") { ex =>
    interactive {
      val sql = body(ex)
      require(sql.nonEmpty, "empty SQL body")
      val limit = param(ex, "limit").map(_.toInt).getOrElse(1000).min(100000)
      val df = param(ex, "root") match {
        case Some(r) => graft.sql.CqcSql.solveWithRoot(spark, sql, r)
        case None => graft.sql.CqcSql.solve(spark, sql)
      }
      (200, rowsJson(df, limit), "application/json")
    }
  }

  handle("/api/plan") { ex =>
    val sql = body(ex)
    require(sql.nonEmpty, "empty SQL body")
    (200, s"""{"plan":${jstr(graft.sql.CqcSql.explain(spark, sql))}}""", "application/json")
  }

  handle("/api/candidates") { ex =>
    val sql = body(ex)
    require(sql.nonEmpty, "empty SQL body")
    val cands = graft.sql.CqcSql.candidates(spark, sql).map { case (root, desc) =>
      s"""{"root":${jstr(root)},"tree":${jstr(desc)}}"""
    }
    (200, s"""{"candidates":${cands.mkString("[", ",", "]")}}""", "application/json")
  }

  handle("/api/hypergraph") { ex =>
    val sql = body(ex)
    require(sql.nonEmpty, "empty SQL body")
    (200, graft.sql.CqcSql.hypergraphDot(spark, sql), "text/vnd.graphviz")
  }

  /** Machine-readable query structure for the SPA renderer: the
    * decomposed hyperedges (name, variables, size estimate) and every
    * candidate join tree as (root, child->parent edges with join vars) —
    * the JSON twin of the DOT dump, so the index page can DRAW the
    * hypergraph and the candidate trees (reference: sqlplus-web's
    * rendered hypergraph/tree picker). */
  handle("/api/structure") { ex =>
    val sql = body(ex)
    require(sql.nonEmpty, "empty SQL body")
    val (rels, cmps) = graft.sql.CqcSql.structure(spark, sql)
    val relsJson = rels.map { r =>
      s"""{"name":${jstr(r.name)},"vars":${r.vars.toSeq.sorted.map(jstr).mkString("[", ",", "]")},"est":${graft.cqc.Hypergraph.estSize(r)}}"""
    }.mkString("[", ",", "]")
    // comparison predicates with their home relations (the endpoints of
    // the dashed hypergraph edges; reference dto/HyperGraph.java)
    val cmpsJson = cmps.flatMap { c =>
      for {
        from <- graft.sql.CqcSql.homeOf(rels, c.leftRefs)
        to <- graft.sql.CqcSql.homeOf(rels, c.rightRefs)
      } yield s"""{"left":${jstr(c.left)},"op":${jstr(c.op)},"right":${jstr(c.right)},"from":${jstr(from.name)},"to":${jstr(to.name)}}"""
    }.mkString("[", ",", "]")
    val cands =
      if (rels.size < 2) "[]"
      else graft.cqc.Hypergraph.candidateTrees(rels).map { t =>
        val edges = t.topDown.drop(1).map { n =>
          val p = t.parentOf(n)
          s"""{"child":${jstr(n)},"parent":${jstr(p)},"on":${t.sharedVars(n, p).map(jstr).mkString("[", ",", "]")}}"""
        }.mkString("[", ",", "]")
        // the COMPARISON HYPERGRAPH of this tree (reference graph/
        // ComparisonHyperGraph.scala): nodes are the tree's edges, each
        // comparison's hyperedge is the set of tree edges on the path
        // between its two home relations; degree = the max number of
        // comparisons covering one tree edge (the CQC acyclicity bound)
        var cover = Map[(String, String), Int]().withDefaultValue(0)
        val cmpEdges = cmps.flatMap { c =>
          for {
            from <- graft.sql.CqcSql.homeOf(rels, c.leftRefs)
            to <- graft.sql.CqcSql.homeOf(rels, c.rightRefs)
          } yield {
            val hops = t.path(from.name, to.name).sliding(2)
              .filter(_.size == 2).map(p => (p(0), p(1))).toSeq
            // degree counts an UNDIRECTED tree edge once per covering
            // comparison — normalize hop orientation so two comparisons
            // traversing the same edge in opposite directions both land
            // on one key (r11 review fix: direction-sensitive keys
            // under-reported the CQC acyclicity bound)
            hops.foreach { case (a, b) =>
              val h = if (a <= b) (a, b) else (b, a)
              cover += h -> (cover(h) + 1)
            }
            val hopJson = hops.map { case (a, b) =>
              s"""{"from":${jstr(a)},"to":${jstr(b)}}""" }.mkString("[", ",", "]")
            s"""{"cmp":${jstr(s"${c.left} ${c.op} ${c.right}")},"path":$hopJson}"""
          }
        }.mkString("[", ",", "]")
        val degree = if (cover.isEmpty) 0 else cover.values.max
        s"""{"root":${jstr(t.root)},"edges":$edges,"comparisons":$cmpEdges,"degree":$degree}"""
      }.mkString("[", ",", "]")
    (200, s"""{"relations":$relsJson,"comparisons":$cmpsJson,"candidates":$cands}""", "application/json")
  }

  handle("/api/emit") { ex =>
    val sql = body(ex)
    require(sql.nonEmpty, "empty SQL body")
    val obj = param(ex, "object").getOrElse("GraftQuery")
    val pkg = param(ex, "package").getOrElse("graft.generated")
    val prog = graft.sql.Emit.program(spark, sql, obj, pkg)
    // ?output=name persists the artifact server-side (reference
    // CompileController /compile/persist); &pair=1 writes the stock
    // twin beside it as <stem>SparkSQL.scala (CLI --pair convention).
    // CONFINED: an unauthenticated localhost server must not take
    // arbitrary write paths (r11 review fix — a cross-origin POST could
    // overwrite any file the server user owns), so `output` is a bare
    // file name and every artifact lands under the server's emit dir.
    param(ex, "output") match {
      case Some(name) =>
        require(name.nonEmpty && !name.contains('/') && !name.contains('\\') &&
          !name.contains(".."),
          "output must be a bare file name (artifacts land in the server emit dir)")
        val twin =
          if (param(ex, "pair").contains("1"))
            Some(graft.sql.Emit.stockProgram(spark, sql, obj, pkg))
          else None
        val wrote = graft.sql.Emit.writePair(
          GraftServer.emitDir.resolve(name), prog, twin)
        (200, s"""{"wrote":[${wrote.map(p => jstr(p.toString)).mkString(",")}]}""",
          "application/json")
      case None => (200, prog, "text/x-scala")
    }
  }

  handle("/api/queries") { _ =>
    val names = graft.SparkEntry.queries.keys.toSeq.sorted.map(jstr)
    (200, s"""{"queries":${names.mkString("[", ",", "]")}}""", "application/json")
  }

  handle("/api/experiment") { ex =>
    exclusive {
      val name = param(ex, "name").getOrElse(throw new IllegalArgumentException("name= required"))
      val sf = param(ex, "sf").getOrElse("/root/testdata/sf0.001")
      val fn = graft.SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query $name"))
      graft.CacheRegistry.unpersistAll()
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val n = fn(spark, sf).count()
      val sec = (System.nanoTime() - t0) / 1e9
      (200, s"""{"name":${jstr(name)},"sf":${jstr(sf)},"rows":$n,"sec":$sec}""",
        "application/json")
    }
  }

  /**
   * Async experiment runner (reference: springboot component/
   * ExperimentManager.java + controller/ExperimentController.java —
   * start a QUEUE of named experiments, poll status, stop): one daemon
   * worker drains the queue against this server's session, recording
   * per-task state and wall time; stop cancels the running entry's
   * Spark jobs through its job group and the worker skips the pending
   * tail. The synchronous `POST /api/experiment` single-run stays for
   * quick checks.
   */
  private object Experiments {
    private val lock = new Object
    private var state = "STOPPED" // STOPPED | RUNNING
    // name -> (state, seconds, rows, error)
    private val tasks =
      scala.collection.mutable.LinkedHashMap[String, (String, Option[Double], Option[Long], Option[String])]()
    @volatile private var stopRequested = false
    // interactive executions currently in flight (/api/query): start()
    // and beginExclusive() refuse while > 0, and beginInteractive
    // refuses while the queue drains or an exclusive (cache-clearing)
    // execution runs — MUTUAL exclusion under this one lock, so no side
    // can slip past another's check (r12 review fix; exclusive tier
    // r13, closing the sync-experiment-vs-query cache race the
    // single-dispatcher-thread serialization used to mask)
    private var interactiveInFlight = 0
    private var exclusiveInFlight = false

    /** Register an interactive execution; false = queue is draining or
      * a cache-clearing exclusive execution is in flight. The ONLY way
      * to check the gate — a bare state read would reintroduce the
      * check-then-act race this fixes. */
    def beginInteractive(): Boolean = lock.synchronized {
      if (state == "RUNNING" || exclusiveInFlight) false
      else { interactiveInFlight += 1; true }
    }

    def endInteractive(): Unit = lock.synchronized { interactiveInFlight -= 1 }

    /** Register an EXCLUSIVE execution (one that clears all session
      * caches up front): refused while the queue drains, while any
      * interactive execution is in flight, or while another exclusive
      * runs. */
    def beginExclusive(): Boolean = lock.synchronized {
      if (state == "RUNNING" || exclusiveInFlight || interactiveInFlight > 0) false
      else { exclusiveInFlight = true; true }
    }

    def endExclusive(): Unit = lock.synchronized { exclusiveInFlight = false }

    def start(names: Seq[String], sf: String): Unit = lock.synchronized {
      require(state != "RUNNING", "experiments already running")
      if (interactiveInFlight > 0 || exclusiveInFlight)
        throw new IllegalStateException(
          "an interactive execution is in flight; retry when it completes")
      require(names.nonEmpty, "empty experiment list")
      val unknown = names.filterNot(graft.SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
      tasks.clear()
      names.foreach(n => tasks(n) = ("PENDING", None, None, None))
      stopRequested = false
      state = "RUNNING"
      val t = new Thread(() => run(names, sf), "graft-experiments")
      t.setDaemon(true)
      t.start()
    }

    private def run(names: Seq[String], sf: String): Unit = {
      for (n <- names) {
        val skip = lock.synchronized {
          if (stopRequested) { tasks(n) = ("CANCELLED", None, None, None); true }
          else { tasks(n) = ("RUNNING", None, None, None); false }
        }
        if (!skip) {
          try {
            graft.CacheRegistry.unpersistAll()
            spark.catalog.clearCache()
            spark.sparkContext.setJobGroup("graft-experiment", n, interruptOnCancel = true)
            val t0 = System.nanoTime()
            val rows = graft.SparkEntry.queries(n)(spark, sf).count()
            val sec = (System.nanoTime() - t0) / 1e9
            lock.synchronized { tasks(n) = ("FINISHED", Some(sec), Some(rows), None) }
          } catch {
            case e: Throwable => lock.synchronized {
              val st = if (stopRequested) "CANCELLED" else "FAILED"
              tasks(n) = (st, None, None,
                Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"))
            }
          } finally spark.sparkContext.clearJobGroup()
        }
      }
      lock.synchronized { state = "STOPPED" }
    }

    def stop(): Unit = {
      stopRequested = true
      spark.sparkContext.cancelJobGroup("graft-experiment")
    }

    def statusJson: String = lock.synchronized {
      val ts = tasks.map { case (n, (st, sec, rows, err)) =>
        s"""{"name":${jstr(n)},"state":${jstr(st)},""" +
          s""""sec":${sec.map(_.toString).getOrElse("null")},""" +
          s""""rows":${rows.map(_.toString).getOrElse("null")},""" +
          s""""error":${err.map(jstr).getOrElse("null")}}"""
      }.mkString("[", ",", "]")
      s"""{"state":${jstr(state)},"tasks":$ts}"""
    }
  }

  handle("/api/experiment/start") { ex =>
    val sf = param(ex, "sf").getOrElse("/root/testdata/sf0.001")
    // body = comma/newline-separated entry names; "*" = every entry
    val raw = body(ex)
    val names =
      if (raw == "*") graft.SparkEntry.queries.keys.toSeq.sorted
      else raw.split("[,\n]").map(_.trim).filter(_.nonEmpty).toSeq
    try {
      Experiments.start(names, sf)
      (200, s"""{"started":${names.length}}""", "application/json")
    } catch { case _: IllegalStateException => interactiveBusy }
  }

  handle("/api/experiment/status") { _ =>
    (200, Experiments.statusJson, "application/json")
  }

  handle("/api/experiment/stop") { _ =>
    Experiments.stop()
    (200, """{"stopping":true}""", "application/json")
  }

  handle("/") { _ => (200, GraftServer.indexHtml, "text/html") }

  // a real executor, not setExecutor(null): the default runs EVERY
  // handler on the single dispatcher thread, so a long interactive
  // query blocked /health and the experiment status polls — and the
  // interactive/start mutual exclusion was only held up by that
  // accidental serialization (r12 second-review find). With concurrent
  // handlers the gate in [[Experiments]] is the explicit, tested
  // guarantee.
  private val pool = java.util.concurrent.Executors.newCachedThreadPool(
    (r: Runnable) => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })

  def start(): GraftServer = { server.setExecutor(pool); server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }
}

object GraftServer {

  /** The one directory server-side emit artifacts may land in
    * (`/api/emit?output=<bare name>`). */
  private[web] lazy val emitDir: java.nio.file.Path =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft_emit"))

  /** `runMain graft.web.GraftServer [port]` — serve until killed. */
  def main(args: Array[String]): Unit = {
    val port = args.headOption.map(_.toInt).getOrElse(8090)
    val spark = graft.Session.local()
    val s = new GraftServer(spark, port).start()
    println(s"graft server listening on http://127.0.0.1:${s.boundPort}/")
    Thread.currentThread.join()
  }

  /** Embedded SPA: textarea console plus RENDERED structure — the
    * hypergraph drawn as a bipartite SVG (relation boxes ↔ variable
    * nodes) and every candidate join tree drawn as a clickable layered
    * tree (click a tree → its root pins the run), matching the
    * reference sqlplus-web workflow (inspect hypergraph, compare
    * candidate trees, pick one, run) with zero front-end
    * dependencies. */
  private[web] val indexHtml: String =
    """<!doctype html>
      |<html><head><meta charset="utf-8"><title>graft console</title>
      |<style>
      | body{font-family:monospace;margin:2em;max-width:78em}
      | textarea{width:100%;height:8em} pre{background:#f4f4f4;padding:1em;overflow:auto}
      | button{margin-right:.5em} input{width:6em}
      | svg{background:#fafafa;border:1px solid #ddd;margin:.3em .5em .3em 0}
      | .cand{display:inline-block;cursor:pointer;text-align:center}
      | .cand.picked svg{border:2px solid #06c}
      | #trees{display:flex;flex-wrap:wrap}
      |</style></head><body>
      |<h2>graft console</h2>
      |<textarea id="sql">SELECT COUNT(*) AS n FROM lineitem</textarea><br>
      |root <input id="root" placeholder="(auto)">
      |<button onclick="call('plan')">plan</button>
      |<button onclick="draw()">visualize</button>
      |<button onclick="call('hypergraph')">dot</button>
      |<button onclick="call('emit')">emit</button>
      |<button onclick="call('query')">run</button>
      |<div id="viz"></div><div id="trees"></div>
      |<pre id="out">-</pre>
      |<script>
      |const $=id=>document.getElementById(id);
      |async function call(ep){
      |  const root=$('root').value;
      |  const qs=(ep==='query'&&root)?('?root='+encodeURIComponent(root)):'';
      |  const r=await fetch('/api/'+ep+qs,{method:'POST',body:$('sql').value});
      |  $('out').textContent=await r.text();
      |}
      |function svgEl(n,attrs){const e=document.createElementNS('http://www.w3.org/2000/svg',n);
      |  for(const k in attrs)e.setAttribute(k,attrs[k]);return e;}
      |function txt(x,y,s,anchor){const t=svgEl('text',{x:x,y:y,'font-size':'11',
      |  'font-family':'monospace','text-anchor':anchor||'start'});t.textContent=s;return t;}
      |// bipartite hypergraph: relation boxes left, variable nodes right;
      |// comparison predicates as dashed red arcs between their home
      |// relation boxes (the reference's comparison hypergraph view)
      |function drawHyper(rels,cmps){
      |  const vars=[...new Set(rels.flatMap(r=>r.vars))].sort();
      |  const h=Math.max(rels.length,vars.length)*28+40;
      |  const svg=svgEl('svg',{width:560,height:h});
      |  const ry=i=>30+i*((h-40)/Math.max(1,rels.length-1||1));
      |  const vy=i=>30+i*((h-40)/Math.max(1,vars.length-1||1));
      |  rels.forEach((r,i)=>vars.forEach((v,j)=>{
      |    if(r.vars.includes(v))svg.appendChild(svgEl('line',
      |      {x1:150,y1:ry(i),x2:400,y2:vy(j),stroke:'#bbb'}));}));
      |  const ri={};rels.forEach((r,i)=>ri[r.name]=i);
      |  (cmps||[]).forEach(c=>{
      |    const a=ry(ri[c.from]),b=ry(ri[c.to]),mid=(a+b)/2;
      |    const p=svgEl('path',{d:'M 20 '+a+' C -10 '+a+' -10 '+b+' 20 '+b,
      |      fill:'none',stroke:'#c33','stroke-dasharray':'4 3',class:'cmp'});
      |    svg.appendChild(p);
      |    svg.appendChild(txt(4,mid+3,c.op,'middle'));});
      |  rels.forEach((r,i)=>{
      |    svg.appendChild(svgEl('rect',{x:20,y:ry(i)-12,width:130,height:22,
      |      fill:'#cfe2ff',stroke:'#369'}));
      |    svg.appendChild(txt(26,ry(i)+3,r.name+' ~'+fmtB(r.est)));});
      |  vars.forEach((v,j)=>{
      |    svg.appendChild(svgEl('circle',{cx:400,cy:vy(j),r:4,fill:'#363'}));
      |    svg.appendChild(txt(410,vy(j)+4,v));});
      |  return svg;
      |}
      |function fmtB(b){return b>1e9?(b/1e9).toFixed(1)+'GB':b>1e6?(b/1e6).toFixed(1)+'MB'
      |  :b>1e3?(b/1e3).toFixed(1)+'KB':b+'B';}
      |// layered tree: root on top, children fanned below, join vars on edges
      |function drawTree(c){
      |  const kids={};c.edges.forEach(e=>{(kids[e.parent]=kids[e.parent]||[]).push(e);});
      |  const depth={},order=[];(function walk(n,d){depth[n]=d;order.push(n);
      |    (kids[n]||[]).forEach(e=>walk(e.child,d+1));})(c.root,0);
      |  const maxD=Math.max(...order.map(n=>depth[n]));
      |  const byD={};order.forEach(n=>{(byD[depth[n]]=byD[depth[n]]||[]).push(n);});
      |  const w=Math.max(...Object.values(byD).map(l=>l.length))*110+20,
      |        hh=(maxD+1)*60+20;
      |  const pos={};Object.entries(byD).forEach(([d,l])=>l.forEach((n,i)=>{
      |    pos[n]=[20+i*110+((w-40)-(l.length-1)*110)/2,30+d*60];}));
      |  const svg=svgEl('svg',{width:w,height:hh});
      |  // tree edges covered by a comparison path render red (the
      |  // comparison hypergraph laid over this candidate tree)
      |  const cov={};(c.comparisons||[]).forEach(cm=>cm.path.forEach(e=>{
      |    cov[e.from+'|'+e.to]=cov[e.to+'|'+e.from]=true;}));
      |  c.edges.forEach(e=>{const a=pos[e.parent],b=pos[e.child];
      |    const hot=cov[e.parent+'|'+e.child];
      |    svg.appendChild(svgEl('line',{x1:a[0]+45,y1:a[1]+8,x2:b[0]+45,y2:b[1]-12,
      |      stroke:hot?'#c33':'#888','stroke-width':hot?2:1}));
      |    svg.appendChild(txt((a[0]+b[0])/2+45,(a[1]+b[1])/2,e.on.join(','),'middle'));});
      |  order.forEach(n=>{const p=pos[n];
      |    svg.appendChild(svgEl('rect',{x:p[0],y:p[1]-12,width:90,height:20,
      |      fill:n===c.root?'#ffe9a8':'#e2efd9',stroke:'#666'}));
      |    svg.appendChild(txt(p[0]+45,p[1]+2,n,'middle'));});
      |  return svg;
      |}
      |async function draw(){
      |  const r=await fetch('/api/structure',{method:'POST',body:$('sql').value});
      |  const j=await r.json();
      |  if(j.error){$('out').textContent=JSON.stringify(j);return;}
      |  $('viz').replaceChildren(drawHyper(j.relations,j.comparisons));
      |  $('trees').replaceChildren(...j.candidates.map(c=>{
      |    const d=document.createElement('div');d.className='cand';
      |    d.appendChild(drawTree(c));
      |    const cap=document.createElement('div');cap.textContent='root '+c.root+
      |      (c.degree?(' · cmp degree '+c.degree):'');
      |    d.appendChild(cap);
      |    d.onclick=()=>{$('root').value=c.root;
      |      document.querySelectorAll('.cand').forEach(x=>x.classList.remove('picked'));
      |      d.classList.add('picked');};
      |    return d;}));
      |  $('out').textContent=j.candidates.length+' candidate tree(s); click one to pin its root, then run';
      |}
      |</script></body></html>
      |""".stripMargin
}
