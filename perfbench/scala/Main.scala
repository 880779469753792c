package perfbench

import java.net.{HttpURLConnection, URL, URLEncoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, Engine, SparkEntry}
import graft.operators.{Dedup, Similarity}
import graft.serve.{ServingCache, StatsServer}
import graft.sources.FtlIngest

/** The JVM half of the benchmark (perfbench/run.py is the launcher and
  * output checker). One process runs one workload:
  *
  *   perfbench.Main <workload> <seconds> <trace 0|1> <seed> <out.json> <key=value>...
  *
  * keys: db (dashboard: the FTL `.db`), sf (catalog: the
  * parquet table directory). It sets up once (JVM start to a ready
  * session), measures for `seconds`, and writes raw results as one JSON
  * object to `out.json`. The first operation of a run is its cold one:
  * set-up brings up the session, nothing more.
  */
object Main {
  private val cpus = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val Array(workload, secs, trace, seed, out) = args.take(5)
    val opts = args.drop(5).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val run = new Run(secs.toDouble, trace == "1", seed.toLong, opts)
    workload match {
      case "dashboard" => run.dashboard()
      case "catalog" => run.catalog()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    run.result("peak_rss_mb", peakRssMb())
    run.result("java_version", System.getProperty("java.version"))
    run.result("spark_version", org.apache.spark.SPARK_VERSION)
    run.result("cpus", cpus)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      Json(run.results.toMap).getBytes(StandardCharsets.UTF_8))
  }

  def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.driver.maxResultSize", "0")
      .config("spark.local.dir", sys.props("java.io.tmpdir"))
      .config("spark.sql.warehouse.dir", sys.props("java.io.tmpdir") + "/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stop(spark: SparkSession): Unit = {
    Dedup.releaseCaches(); Similarity.releaseCaches()
    spark.stop()
    SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def secondsOf[A](body: => A): (Double, A) = {
    val t0 = System.nanoTime(); val a = body; ((System.nanoTime() - t0) / 1e9, a)
  }

  /** Linear-interpolated percentile, p in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p / 100 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)

  /** Minimal JSON writer for maps, sequences, strings and numbers. */
  def Json(v: Any): String = v match {
    case m: Map[_, _] => m.map { case (k, x) => Json(k.toString) + ":" + Json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(Json).mkString("[", ",", "]")
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case null => "null"
    case x => Json(x.toString)
  }
}

final class Run(seconds: Double, traced: Boolean, seed: Long, opts: Map[String, String]) {
  import Main._

  val results = mutable.LinkedHashMap.empty[String, Any]
  def result(k: String, v: Any): Unit = results(k) = v
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private var attempted, failed = 0L
  private def outcome(ok: Boolean): Unit = synchronized { attempted += 1; if (!ok) failed += 1 }

  private var spark: SparkSession = _

  /** Bring the session up; timed from JVM start. */
  private def setup(): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    spark = session()
    val s = (System.currentTimeMillis() - jvmStart) / 1e3
    log(f"setup: $s%.3f s")
    result("setup_s", s)
  }

  private def finish(): Unit = {
    result("attempted", attempted); result("failed", failed)
    if (traced) result("layers", layers.toMap)
    stop(spark)
  }

  private def withTracer[A](body: Tracer => A): A = {
    val t = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    try body(t) finally spark.sparkContext.removeSparkListener(t)
  }

  // ---------------------------------------------------------------- dashboard

  /** A rendered figure with data in it (an empty one says "no data"). */
  private val isSvg = (s: String) => s.contains("<svg") && s.contains("</svg>") && !s.contains(">no data<")

  private def load(db: String): DataFrame = Engine.loadSqlite(spark, Seq(db), 0L, Long.MaxValue)

  private val checkedKeys = Seq("total_queries", "allowed_count", "blocked_count", "unique_clients")

  private type SpanFn = (String, () => Any) => Any
  private val untracedSpan: SpanFn = (_, f) => f()

  /** One page load: the facade FacadeBench times, fed from the `.db`,
    * with `span` around each layer call. Returns the stats the output
    * check compares, whether every figure rendered, and the serving
    * cache, left open. */
  private def pageBuild(db: String, span: SpanFn): (Seq[Long], Boolean, ServingCache) = {
    val prep = span("sources.open", () => load(db)).asInstanceOf[DataFrame]
    val stats = span("engine.stats", () => Engine.computeStats(prep)).asInstanceOf[Map[String, Any]]
    span("engine.plot", () => Engine.plotData(prep).values.foreach(_.collect()))
    val cache = span("serve.cache_build", () => new ServingCache(prep)).asInstanceOf[ServingCache]
    val figs = span("figures.default", () =>
      Seq(cache.queriesFigure(None), cache.activityFigure(None), cache.anomaliesFigure(None)))
      .asInstanceOf[Seq[String]]
    (checkedKeys.map(k => stats(k).asInstanceOf[Long]), figs.forall(isSvg), cache)
  }

  private val routes = Seq("queries", "activity", "anomalies", "clients")

  private def http(port: Int, path: String, post: Boolean = false): (Int, String) = {
    val c = new URL(s"http://127.0.0.1:$port$path").openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(30000); c.setReadTimeout(120000)
    if (post) { c.setRequestMethod("POST"); c.setDoOutput(true); c.getOutputStream.close() }
    try {
      val code = c.getResponseCode
      val in = if (code < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
      (code, body)
    } finally c.disconnect()
  }

  /** The client-filter mix, in seeded cycles of 12 filters so every run
    * holds the same shares: 4 "all clients", 7 Zipf draws over the top
    * clients, 1 tail client of the generated data. */
  private def clientFilters(rnd: Random, top: Seq[String]): Iterator[Option[String]] = {
    val tail = Seq("192.168.1.45", "192.168.1.48", "192.168.1.49")
    val w = top.indices.map(k => 1.0 / (k + 1))
    def zipf(): String = {
      var x = rnd.nextDouble() * w.sum
      top(w.indices.find { k => x -= w(k); x <= 0 }.getOrElse(top.size - 1))
    }
    Iterator.continually(rnd.shuffle(
      Seq.fill(4)(None) ++ Seq.fill(7)(Some(zipf())) :+ Some(tail(rnd.nextInt(tail.size))))).flatten
  }

  /** What each route asks of the cache, called directly. */
  private def serve(cache: ServingCache, route: String, client: Option[String]): String = route match {
    case "queries" => cache.queriesFigure(client)
    case "activity" => cache.activityFigure(client)
    case "anomalies" => cache.anomaliesFigure(client)
    case "clients" => cache.topClients.mkString(",")
  }

  final case class Req(route: String, start: Long, end: Long)
  private def ms(r: Req) = (r.end - r.start) / 1e6

  /** The reference app's life: a cold page load, then a StatsServer over
    * the page's cache, read by three closed-loop clients for an untimed
    * warm-up and then for `seconds`; then one POST /reload (a full re-read of the `.db`) while they go
    * on; then seven reloads of the idle server, five of them timed. */
  def dashboard(): Unit = {
    val db = opts("db")
    setup()
    val counts = mutable.ArrayBuffer.empty[Seq[Long]]
    val (pageS, (vals, figsOk, first)) = secondsOf(pageBuild(db, untracedSpan))
    outcome(figsOk); counts += vals
    result("page_s", pageS)
    if (traced) {
      // a traced and a plain warm page load: the spans, and the overhead
      // of tracing as the ratio of the two
      val spans = new Spans
      val (ts, (v2, ok2, c2)) = withTracer { tr =>
        secondsOf(pageBuild(db, (name, f) => Trace.span(tr, spans, name)(f())))
      }
      val (ps, (v3, ok3, c3)) = secondsOf(pageBuild(db, untracedSpan))
      c2.close(); c3.close()
      outcome(ok2); outcome(ok3); counts += v2; counts += v3
      withTracer { tr =>
        Trace.span(tr, spans, "sources.decode")(
          FtlIngest.readSqlite(spark, Seq(db), 0L, Long.MaxValue)
            .write.format("noop").mode("overwrite").save())
      }
      val sp = spans.toMap
      sp.foreach { case (name, m) =>
        Seq("s", "jobs", "tasks", "exec_s", "shuffle_mb", "spill_mb", "driver_s")
          .foreach(k => layers(s"$name.$k") = m(k))
      }
      layers("sources.scan_passes") = sp.values.map(_("scan_stages")).sum - sp("sources.decode")("scan_stages")
      layers("sources.decode_rows_per_s") = vals.head / sp("sources.decode")("s")
      layers("trace_overhead") = ts / ps
      result("trace_counts", sp.map { case (k, m) => k -> Seq("jobs", "stages", "tasks").map(c => m(c).round) })
    }
    result("dashboard_counts", counts.toSeq)

    val reloadSource = new ConcurrentLinkedQueue[Double]()
    val reloadCache = new ConcurrentLinkedQueue[Double]()
    // the cache the server holds now: a reload swaps in the one the
    // factory built and closes the old one
    @volatile var current = first
    def rebuild(): ServingCache = {
      val (ts, prep) = secondsOf(load(db))
      val (tc, c) = secondsOf(new ServingCache(prep))
      reloadSource.add(ts); reloadCache.add(tc)
      current = c
      c
    }
    val server = new StatsServer(first, 0, rebuild = (_, _) => rebuild())
    val port = server.boundPort
    val top = first.topClients
    val clientsJson = top.map("\"" + _ + "\"").mkString("[", ",", "]")
    def read(route: String, client: Option[String]): Option[Req] = {
      val q = client.fold("")(c => "?client=" + URLEncoder.encode(c, "UTF-8"))
      val s = System.nanoTime()
      val (code, body) = try http(port, s"/$route$q") catch { case _: java.io.IOException => (-1, "") }
      val e = System.nanoTime()
      val ok = code == 200 && (if (route == "clients") body == clientsJson else isSvg(body))
      outcome(ok)
      if (ok) Some(Req(route, s, e)) else None
    }
    def reload(): Option[Req] = {
      val s = System.nanoTime()
      val (code, _) = try http(port, "/reload", post = true) catch { case _: java.io.IOException => (-1, "") }
      outcome(code == 200)
      if (code == 200) Some(Req("reload", s, System.nanoTime())) else None
    }
    // Reader k reads the routes round-robin from route k, each read with
    // the next filter of its own seeded mix; it goes on while `more(c)`
    // holds after c reads of the phase.
    val filters = (0 until 3).map(k => clientFilters(new Random(seed * 31 + k), top))
    val next = Array.tabulate(3)(identity)
    def readPhase(more: Int => Boolean, sink: ConcurrentLinkedQueue[Req]): Seq[Thread] =
      (0 until 3).map { k =>
        val t = new Thread(() => {
          var c = 0
          while (more(c)) {
            read(routes(next(k) % routes.size), filters(k).next()).foreach(sink.add)
            next(k) += 1; c += 1
          }
        })
        t.start(); t
      }
    // warm-up, untimed: one route cycle per reader. The page load rendered
    // the figures for all clients only, and read latency still falls for
    // the first seconds of serving while the JIT catches up.
    readPhase(_ < routes.size, new ConcurrentLinkedQueue[Req]()).foreach(_.join())
    // the read window: three readers until `seconds` have passed and each
    // has read whole route cycles, so every run holds the same route mix
    val reads = new ConcurrentLinkedQueue[Req]()
    val t0 = System.nanoTime()
    val endAt = t0 + (seconds * 1e9).toLong
    def window(): Unit =
      readPhase(c => System.nanoTime() < endAt || c % routes.size != 0, reads).foreach(_.join())
    // then the write beside the reads: one reload while the readers go on
    val reloads, during = new ConcurrentLinkedQueue[Req]()
    def reloadUnderReads(): Unit = {
      @volatile var reloading = true
      val rd = readPhase(_ => reloading, during)
      Thread.sleep(200)
      reload().foreach(reloads.add)
      reloading = false
      rd.foreach(_.join())
    }
    if (traced) withTracer { _ => window(); reloadUnderReads() } else { window(); reloadUnderReads() }
    val rs = reads.asScala.toSeq
    val ls = reloads.asScala.toSeq
    val overlapped = during.asScala.toSeq.filter(r => ls.exists(l => r.end > l.start && r.start < l.end))
    // the reload's own latency, with no reads queued ahead of it; the
    // first idle reloads of a run still get faster, so two go untimed
    (1 to 2).foreach(_ => reload())
    val idle = (1 to 5).flatMap(_ => reload())
    result("reload_s", idle.map(ms(_) / 1e3))
    result("read_ms", rs.map(ms))
    result("reads", rs.sortBy(_.start).map(r => Seq(r.route, (r.start - t0) / 1e6, ms(r))))
    // the window closes to new reads after `seconds`; the last ones end after it
    result("reads_per_s", if (rs.isEmpty) 0.0 else rs.size / ((rs.map(_.end).max - t0) / 1e9))
    if (traced) {
      layers("serve.reload_under_reads_s") = median(ls.map(ms(_) / 1e3))
      routes.foreach(r => layers(s"serve.$r.p50_ms") = median(rs.filter(_.route == r).map(ms)))
      layers("serve.read_p90_ms") = pct(rs.map(ms), 90)
      layers("serve.reads_during_reload_p50_ms") = median(overlapped.map(ms))
      layers("serve.reload.source_s") = median(reloadSource.asScala.toSeq)
      layers("serve.reload.cache_s") = median(reloadCache.asScala.toSeq)
      // service time: the same cache calls made directly by one caller
      val spans = new Spans
      val filters = clientFilters(new Random(seed), top)
      val calls = withTracer { tr =>
        (1 to 3).flatMap(_ => routes.map { r =>
          Trace.span(tr, spans, s"serve.$r")(serve(current, r, filters.next()))
        }).size
      }
      val sp = spans.toMap
      routes.foreach { r =>
        val m = sp(s"serve.$r")
        layers(s"serve.$r.service_ms") = m("s") / m("n") * 1e3
        layers(s"serve.$r.wait_ms") = layers(s"serve.$r.p50_ms") - layers(s"serve.$r.service_ms")
      }
      layers("serve.jobs_per_request") = sp.values.map(_("jobs")).sum / calls
      layers("serve.tasks_per_request") = sp.values.map(_("tasks")).sum / calls
      result("trace_counts_serve", sp.map { case (k, m) => k -> Seq("jobs", "stages", "tasks").map(c => m(c).round) })
    }
    server.close()
    current.close()
    finish()
  }

  // ------------------------------------------------------------------ catalog

  /** A fixed subset of `graft.Bench.headline`, one query per
    * operator module. The whole headline takes ~67 s cold and ~25 s per
    * warm pass at sf0.01 on 4 cores, more than one run can spend. */
  private val CatalogQueries = Seq(
    "a08_hourly_counts",      // operators.Stats
    "h05_region_revenue",     // operators.Joins
    "w02_longest_streaks",    // operators.Streaks
    "d07_verified_clusters",  // operators.Dedup, ConnectedComponents
    "s02_knn_lsh",            // operators.Similarity
    "t10_lang_dist",          // operators.TextAnalysis
    "m02_media_features",     // operators.Multimodal
    "p09_curated_corpus")     // operators.Pipeline

  private val families = Seq("stats" -> "a", "joins" -> "h", "joins" -> "j", "streaks" -> "w",
    "dedup" -> "d", "similarity" -> "s", "text" -> "t", "multimodal" -> "m", "pipeline" -> "p")
  private def familyOf(q: String): String = families.find(f => q.startsWith(f._2)).get._1

  def catalog(): Unit = {
    val sf = opts("sf")
    val queries = CatalogQueries
    require(queries.forall(Bench.headline.contains), "catalog queries must be headline queries")
    // a query that throws counts as a failed operation (-1 never matches)
    def count(q: String): Long =
      try SparkEntry.queries(q)(spark, sf).count()
      catch { case e: Exception => log(s"$q failed: $e"); -1L }
    setup()
    val counts = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
    def record(q: String, n: Long): Unit =
      counts.synchronized(counts.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += n)
    // cold: first execution of each query in the JVM, artifact builds included
    val cold = queries.map { q => val (s, n) = secondsOf(count(q)); record(q, n); q -> s }
    result("cold_s", cold.map(_._2).sum)
    // warm-up, untimed: query times still fall after the cold pass while
    // the JIT catches up
    queries.foreach(q => record(q, count(q)))
    // concurrent: three closed-loop clients for the first quarter of the
    // window, each cycling through the queries in its own seeded order and
    // stopping at the end of a cycle, so every query counts equally (a
    // cycle takes longer than the quarter: one cycle each)
    val conc = new ConcurrentLinkedQueue[Req]()
    val c0 = System.nanoTime()
    val concEnd = c0 + (seconds * 0.25e9).toLong
    val clients = (0 until 3).map { k =>
      new Thread(() => {
        val rnd = new Random(seed * 31 + k)
        var order = Iterator.empty[String]
        while (System.nanoTime() < concEnd || order.hasNext) {
          if (!order.hasNext) order = rnd.shuffle(queries).iterator
          val q = order.next()
          val s = System.nanoTime()
          val n = count(q)
          conc.add(Req(q, s, System.nanoTime()))
          record(q, n)
        }
      })
    }
    clients.foreach(_.start()); clients.foreach(_.join())
    val cs = conc.asScala.toSeq
    result("conc_ms", cs.map(ms))
    result("conc", cs.sortBy(_.start).map(r => Seq(r.route, (r.start - c0) / 1e6, ms(r))))
    // the window closes to new queries at its end; the last ones end after it
    result("conc_ops_per_s", cs.size / ((cs.map(_.end).max - c0) / 1e9))
    // serial warm: seeded query order per pass, passes until half of the
    // window is spent, and at least three so one disturbed
    // pass does not move the per-query median
    val t0 = System.nanoTime()
    val plain = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val tracedT = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val spans = new Spans
    val rnd = new Random(seed)
    var pass, tracedPasses = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds / 2 || pass < 3) {
      val tracePass = traced && pass % 2 == 1
      rnd.shuffle(queries).foreach { q =>
        if (!tracePass) {
          val (s, n) = secondsOf(count(q))
          record(q, n); plain.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        } else withTracer { tr =>
          val fam = s"catalog.${familyOf(q)}"
          val (s, n) = secondsOf {
            val df = Trace.span(tr, spans, s"$fam.construct")(SparkEntry.queries(q)(spark, sf))
            val agg = df.groupBy().count()
            Trace.span(tr, spans, s"$fam.plan")(agg.queryExecution.executedPlan)
            Trace.span(tr, spans, s"$fam.exec")(agg.collect()(0).getLong(0))
          }
          record(q, n); tracedT.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += s
        }
      }
      pass += 1
      if (tracePass) tracedPasses += 1
    }
    result("query_warm_ms", queries.map(q => median(plain(q).toSeq) * 1e3))
    result("oracle_sql", queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
    result("catalog_counts", counts.map { case (q, ns) => q -> ns.toSeq }.toMap)
    if (traced) {
      val sp = spans.toMap
      families.map(_._1).distinct.foreach { f =>
        val fam = s"catalog.$f"
        def per(step: String, k: String) = sp.get(s"$fam.$step").fold(0.0)(_(k)) / tracedPasses
        layers(s"$fam.construct_s") = per("construct", "s")
        layers(s"$fam.plan_s") = per("plan", "s")
        layers(s"$fam.exec_s") = per("exec", "s")
        layers(s"$fam.construct_jobs") = per("construct", "jobs")
        layers(s"$fam.jobs") = Seq("construct", "plan", "exec").map(per(_, "jobs")).sum
        layers(s"$fam.shuffle_mb") = Seq("construct", "plan", "exec").map(per(_, "shuffle_mb")).sum
        layers(s"$fam.cold_s") = cold.filter(c => familyOf(c._1) == f).map(_._2).sum
      }
      layers("trace_overhead") =
        queries.map(q => median(tracedT(q).toSeq)).sum / queries.map(q => median(plain(q).toSeq)).sum
      result("trace_counts", sp.map { case (k, m) =>
        k -> Seq("jobs", "stages", "tasks").map(c => (m(c) / tracedPasses).round) })
    }
    finish()
  }
}
