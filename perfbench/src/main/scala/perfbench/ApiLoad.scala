package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.HttpApi
import graft.etl.JobRunner
import graft.model.{JobStatus, JobType, LogLevel, TransformationRule}
import graft.streaming.RateLimiter

/** `api_with_etl`: the REST surface under closed-loop keep-alive clients
  * while one submitter thread runs ETL jobs through the bucketed job store
  * on the same session. Every reply and every job is checked against
  * answers computed here, independently of the route handlers. */
object ApiLoad {
  val Statuses = Seq(JobStatus.Running, JobStatus.Completed, JobStatus.Pending)
  val Levels: Seq[String] = LogLevel.Ordered
  val Components = Seq("click", "error", "purchase", "signup", "view")
  val LevelOf = Map("click" -> "DEBUG", "view" -> "INFO", "signup" -> "INFO",
    "purchase" -> "WARN", "error" -> "ERROR")
  val HotIds = 64

  /** The three frames the server is bound to. */
  final case class Frames(jobs: DataFrame, logs: DataFrame, users: DataFrame)

  def frames(spark: SparkSession, dir: String): Frames = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val created = timestamp_seconds(unix_seconds(col("o_orderdate").cast("timestamp")) + col("o_orderkey") % 86400)
    val jobs = o.select(
      concat(lit("job_"), col("o_orderkey")).as("jobId"),
      when(col("o_orderstatus") === "O", JobStatus.Running)
        .when(col("o_orderstatus") === "F", JobStatus.Completed)
        .otherwise(JobStatus.Pending).as("status"),
      element_at(typedLit(JobType.All), (pmod(col("o_custkey"), lit(JobType.All.size)) + 1).cast("int"))
        .as("jobType"),
      created.as("createdAt"),
      created.as("startedAt"),
      when(col("o_orderstatus") === "F", created + expr("INTERVAL 60 SECONDS"))
        .as("completedAt"),
      (col("o_orderkey") % 1000).as("recordsProcessed"),
      (col("o_orderkey") % 900).as("recordsSuccessful"),
      (col("o_orderkey") % 7).as("recordsFailed"),
      lit(null).cast("string").as("errorMessage"))
    val levelOf = typedLit(LevelOf)
    val logs = spark.read.parquet(s"$dir/events.parquet").select(
      concat(lit("job_"), col("user_id")).as("jobId"),
      element_at(levelOf, col("event_type")).as("level"),
      col("event_type").as("component"),
      col("props").as("message"),
      col("ts").cast("timestamp").as("timestamp"))
    import spark.implicits._
    val users = Seq(("u1", "bench", "bench-pw", "salt", true, "bench@example.com"))
      .toDF("user_id", "username", "password", "password_salt", "is_active", "email")
      .withColumn("password_hash", graft.operators.Sessions.passwordHash(
        col("password"), col("password_salt")))
      .drop("password")
    Frames(jobs, logs, users)
  }

  /** Driver-side copies of the served tables, used only to compute the
    * expected answer of each request. */
  final class Expected(f: Frames) {
    private val jr = f.jobs.select(col("jobId"), col("status"), col("jobType"),
      unix_millis(col("createdAt"))).collect()
    val ids: Array[String] = jr.map(_.getString(0))
    val status: Array[String] = jr.map(_.getString(1))
    val jobType: Array[String] = jr.map(_.getString(2))
    val created: Array[Long] = jr.map(_.getLong(3))
    val statusById: Map[String, String] = ids.zip(status).toMap
    private val lr = f.logs.select(col("jobId"), col("level"), col("component"),
      unix_micros(col("timestamp"))).collect()
    val logJob: Array[String] = lr.map(_.getString(0))
    val logLevel: Array[Int] = lr.map(r => LogLevel.ordinalOf(r.getString(1)))
    val logComp: Array[String] = lr.map(_.getString(2))
    val counts: Map[String, Int] = status.groupBy(_.toLowerCase).map { case (k, v) => k -> v.length }

    /** Rows in the order the monitor route sorts by: newest first, then id. */
    private val byCreated: Array[Int] = ids.indices.sortBy(i => (-created(i), ids(i))).toArray

    /** Job ids a monitor query must return, in order. */
    def monitor(st: Option[String], tp: Option[String], from: Option[Long],
        to: Option[Long], limit: Int): Seq[String] =
      byCreated.iterator.filter(i => st.forall(_ == status(i)) && tp.forall(_ == jobType(i)) &&
        from.forall(created(i) >= _) && to.forall(created(i) <= _))
        .take(limit).map(ids(_)).toSeq

    /** Number of log rows a search must return. */
    def logCount(minLevel: Option[Int], comp: Option[String], job: Option[String],
        max: Int): Int =
      math.min(max, logJob.indices.count(i => minLevel.forall(logLevel(i) >= _) &&
        comp.forall(_ == logComp(i)) && job.forall(_ == logJob(i))))
  }

  final case class Req(op: String, method: String, path: String, body: String,
      check: (Int, String) => Boolean)

  private val JobIdRe = "\"jobId\":\"([^\"]*)\"".r
  private val LevelRe = "\"level\":\"([^\"]*)\"".r
  private val CompRe = "\"component\":\"([^\"]*)\"".r

  private def iso(ms: Long): String =
    java.time.LocalDateTime.ofEpochSecond(ms / 1000, 0, java.time.ZoneOffset.UTC).toString match {
      case s if s.length == 16 => s + ":00"
      case s => s
    }

  /** The request mix: 45% monitor jobs, 25% log search, 15% job status
    * (skewed to a hot set), 5% each metrics, create and update. Each
    * client walks cycles of 20 requests with exactly that make-up, each
    * cycle in a seeded order, so every window sends the same mix. */
  final class Mix(r: Random) {
    private val cycle = Seq.fill(9)(0) ++ Seq.fill(5)(1) ++ Seq.fill(3)(2) ++ Seq(3, 4, 5)
    private var left: List[Int] = Nil
    def next(e: Expected): Req = {
      if (left.isEmpty) left = r.shuffle(cycle).toList
      val op = left.head
      left = left.tail
      request(op, r, e)
    }
  }

  def request(op: Int, r: Random, e: Expected): Req = {
    def hotId(): String =
      if (r.nextInt(10) < 8) e.ids(r.nextInt(HotIds)) else e.ids(r.nextInt(e.ids.length))
    if (op == 0) {
      val st = if (r.nextInt(4) == 0) None else Some(Statuses(r.nextInt(Statuses.size)))
      val tp = if (r.nextBoolean()) None else Some(JobType.All(r.nextInt(JobType.All.size)))
      val range = if (r.nextBoolean()) None else {
        val f = e.created(r.nextInt(e.created.length)) / 1000 * 1000
        Some((f, f + (30L + r.nextInt(335)) * 86400000L))
      }
      val limit = 1 + r.nextInt(100)
      val q = (st.map("status=" + _) ++ tp.map("type=" + _) ++
        range.toSeq.flatMap { case (f, t) => Seq(s"from=${iso(f)}", s"to=${iso(t)}") } ++
        Seq(s"limit=$limit")).mkString("&")
      val want = e.monitor(st, tp, range.map(_._1), range.map(_._2), limit)
      Req("monitor_jobs", "GET", s"/api/monitor/jobs?$q", null, (c, b) =>
        c == 200 && JobIdRe.findAllMatchIn(b).map(_.group(1)).toSeq == want)
    } else if (op == 1) {
      val lv = if (r.nextInt(3) == 0) None else Some(r.nextInt(Levels.size))
      val comp = if (r.nextBoolean()) None else Some(Components(r.nextInt(Components.size)))
      val job = if (r.nextInt(3) == 0) Some(e.logJob(r.nextInt(e.logJob.length))) else None
      val max = 1 + r.nextInt(100)
      val q = (lv.map(l => s"minLevel=${Levels(l)}") ++ comp.map("component=" + _) ++
        job.map("jobId=" + _) ++ Seq(s"maxResults=$max")).mkString("&")
      val want = e.logCount(lv, comp, job, max)
      Req("log_search", "GET", s"/api/logs/search?$q", null, { (c, b) =>
        val levels = LevelRe.findAllMatchIn(b).map(m => LogLevel.ordinalOf(m.group(1))).toSeq
        val comps = CompRe.findAllMatchIn(b).map(_.group(1)).toSeq
        c == 200 && levels.size == want && comps.size == want &&
          lv.forall(l => levels.forall(_ >= l)) && comp.forall(k => comps.forall(_ == k))
      })
    } else if (op == 2) {
      val id = hotId()
      val st = e.statusById(id)
      Req("job_status", "GET", s"/api/jobs/$id/status", null, (c, b) =>
        c == 200 && b.contains(s""""jobId":"$id"""") && b.contains(s""""status":"$st""""))
    } else if (op == 3) {
      val want = s""""total_jobs":${e.ids.length},"running_jobs":${e.counts.getOrElse("running", 0)},""" +
        s""""completed_jobs":${e.counts.getOrElse("completed", 0)},"failed_jobs":${e.counts.getOrElse("failed", 0)}"""
      Req("metrics", "GET", "/api/monitor/metrics", null, (c, b) => c == 200 && b.contains(want))
    } else if (op == 4) {
      val tp = Seq("FULL_ETL", "INCREMENTAL_ETL", "DATA_SYNC", "VALIDATION")(r.nextInt(4))
      Req("create_job", "POST", "/api/jobs",
        s"""{"type":"$tp","source_config":"src_${r.nextInt(1000)}","target_config":"dst"}""",
        (c, b) => c == 200 && b.contains("\"status\":\"scheduled\""))
    } else {
      val id = hotId()
      Req("update_job", "PUT", s"/api/jobs/$id",
        s"""{"status":"${Statuses(r.nextInt(Statuses.size))}"}""",
        (c, b) => c == 200 && b.contains(s""""job_id":"$id"""") && b.contains("updated"))
    }
  }

  /** One keep-alive client: HttpURLConnection reuses the connection when
    * each response is read to the end and its stream closed. */
  final class Client(base: String, token: Option[String]) {
    def send(method: String, path: String, body: String): (Int, String) = {
      val conn = new java.net.URL(base + path).openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(30000)
      conn.setReadTimeout(30000)
      conn.setRequestMethod(method)
      token.foreach(t => conn.setRequestProperty("Authorization", s"Bearer $t"))
      if (body != null) {
        conn.setDoOutput(true)
        conn.setRequestProperty("Content-Type", "application/json")
        val out = conn.getOutputStream
        try out.write(body.getBytes("UTF-8")) finally out.close()
      }
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val text = if (in == null) "" else try new String(in.readAllBytes(), "UTF-8") finally in.close()
      (code, text)
    }
  }

  def login(base: String): String = {
    val (code, body) = new Client(base, None).send("POST", "/api/auth/login",
      """{"username":"bench","password":"bench-pw"}""")
    graft.functions.MiniJson.topLevelString(body, "token")
      .getOrElse(sys.error(s"login failed: $code $body"))
  }

  /** A limiter ceiling the load cannot reach: any 429 is a failure. */
  val Unreachable: Seq[RateLimiter.RateRule] =
    RateLimiter.DefaultRules.map(_.copy(perMinute = 100000000, perHour = 1000000000))

  // -- ETL submitter -----------------------------------------------------

  final case class Source(path: String, rows: Long)

  private val RuleMenu: Seq[Random => TransformationRule] = Seq(
    _ => TransformationRule("name", "name_up", "uppercase"),
    _ => TransformationRule("note", "note_lc", "lowercase"),
    _ => TransformationRule("note", "note_trim", "trim"),
    r => TransformationRule("amount", "amount_x", "multiply",
      Map("factor" -> f"${0.5 + r.nextDouble() * 2}%.3f")),
    r => TransformationRule("qty", "qty_plus", "add", Map("addend" -> (1 + r.nextInt(9)).toString)),
    _ => TransformationRule("name", "name", "lowercase"))

  /** `count` seeded rules. Job n of a window gets 1 + n % 6 of them, so
    * every window runs the same spread of 1 to 6 rules per job and only
    * which rules, and their parameters, vary with the seed. */
  def rules(r: Random, count: Int): Seq[TransformationRule] =
    Seq.fill(count)(RuleMenu(r.nextInt(RuleMenu.size))(r))

  // -- the run -----------------------------------------------------------

  def run(a: Main.Args, traced: Boolean): Map[String, Any] = {
    val dir = a("api-data")
    val sources = a.list("etl-sources").map { s =>
      val Array(p, n) = s.split(":"); Source(s"${a("data")}/$p", n.toLong)
    }
    val spark = Main.newSession(a)
    val f = frames(spark, dir)
    val server = HttpApi.start(0, spark, f.jobs, f.logs, Some(f.users), rateRules = Unreachable)
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      // nproc - 1 request clients plus the ETL submitter: nproc load threads
      val tokens = (0 until math.max(1, Main.nproc - 1)).map(_ => login(base))
      val expected = new Expected(f)
      val windows = Seq.newBuilder[Map[String, Any]]
      def window(spans: Spans) = new Window(spark, a, expected, base, tokens, sources, spans)
      // an untimed window of the same length first: request and ETL job
      // times keep falling for about a window's length after the first
      // requests while the JIT warms the engine's paths
      val warmRec = window(new Spans(false)).run(0)
      windows += window(new Spans(false)).run(1)
      if (traced) {
        windows += Main.withListeners(spark)(window(new Spans(true)).run(2))
        windows += window(new Spans(false)).run(3)
      }
      Map("meta" -> Main.meta(spark), "warm" -> warmRec,
        "windows" -> windows.result(), "rss_peak_mb" -> Main.rssPeakMb())
    } finally {
      HttpApi.stop(server)
      spark.stop()
    }
  }

  /** One measured window: a closed-loop request thread per client token plus one
    * closed-loop ETL submitter, all stopped at the deadline. */
  final class Window(spark: SparkSession, a: Main.Args, e: Expected, base: String,
      tokens: Seq[String], sources: Seq[Source], spans: Spans) {
    private val seed = a("seed").toLong
    private val reqs = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
    private val warehouse = s"${a("work")}/etl/jobs_store"

    private def request(c: Client, r: Req, runId: Long): Unit = {
      val id = spans.newId()
      val t0 = Clock.ms()
      val (code, ok) =
        try { val (code, body) = c.send(r.method, r.path, r.body); (code, r.check(code, body)) }
        catch { case NonFatal(ex) => System.err.println(s"[perfbench] ${r.op}: $ex"); (-1, false) }
      val t1 = Clock.ms()
      spans.add(id, s"request:${r.op}", runId, t0, t1)
      if (!ok) System.err.println(s"[perfbench] ${r.op} ${r.method} ${r.path} -> $code: wrong answer")
      reqs.add(Map("op" -> r.op, "start" -> t0, "ms" -> (t1 - t0), "code" -> code, "ok" -> ok))
    }

    private def etlJob(r: Random, n: Long, runId: Long, window: Int): Unit = {
      val sc = spark.sparkContext
      val src = sources(r.nextInt(sources.size))
      val jobId = s"etl_w${window}_$n"
      val spec = JobRunner.JobSpec(jobId, JobType.FullEtl,
        JobRunner.IoConfig("parquet", src.path),
        JobRunner.IoConfig("parquet", s"${a("work")}/etl/out_${n % 4}"), rules(r, 1 + (n % 6).toInt))
      val (jId, runSpan, upSpan, lookSpan) = (spans.newId(), spans.newId(), spans.newId(), spans.newId())
      implicit val s: SparkSession = spark
      val t0 = Clock.ms()
      var t1, t2, t3 = t0
      val ok = try {
        sc.setLocalProperty(Props.Span, runSpan.toString)
        val res = JobRunner.run(spark, spec)
        t1 = Clock.ms()
        sc.setLocalProperty(Props.Span, upSpan.toString)
        JobRunner.upsertJobBucketed(warehouse, res.job)
        t2 = Clock.ms()
        sc.setLocalProperty(Props.Span, lookSpan.toString)
        val back = JobRunner.lookupJobBucketed(warehouse, jobId).collect()
        t3 = Clock.ms()
        val good = res.job.status == JobStatus.Completed && res.job.recordsProcessed == src.rows &&
          back.length == 1 && back.head.getAs[String]("jobId") == jobId &&
          back.head.getAs[String]("status") == JobStatus.Completed &&
          back.head.getAs[Long]("recordsProcessed") == src.rows
        if (!good) System.err.println(s"[perfbench] etl $jobId wrong: ${res.job} read back ${back.toSeq}")
        good
      } catch {
        case NonFatal(ex) => System.err.println(s"[perfbench] etl $jobId failed: $ex"); t3 = Clock.ms(); false
      } finally sc.setLocalProperty(Props.Span, null)
      spans.add(runSpan, "run", jId, t0, t1, Map("target" -> spec.target.path))
      spans.add(upSpan, "upsert", jId, t1, t2)
      spans.add(lookSpan, "lookup", jId, t2, t3)
      spans.add(jId, "etl_job", runId, t0, t3, Map("rows" -> src.rows))
      jobs.add(Map("start" -> t0, "ms" -> (t3 - t0), "run_ms" -> (t1 - t0),
        "upsert_ms" -> (t2 - t1), "lookup_ms" -> (t3 - t2), "rows" -> src.rows, "ok" -> ok,
        "target" -> spec.target.path))
    }

    def run(window: Int): Map[String, Any] = {
      val runId = spans.newId()
      val t0 = Clock.ms()
      val deadline = t0 + a.int("seconds") * 1000.0
      val threads = tokens.zipWithIndex.map { case (tok, i) =>
        new Thread(() => {
          val mix = new Mix(new Random(seed * 7919L + window * 131L + i))
          val c = new Client(base, Some(tok))
          while (Clock.ms() < deadline) request(c, mix.next(e), runId)
        }, s"perfbench-client-$i")
      } :+ new Thread(() => {
        val sc = spark.sparkContext
        sc.setLocalProperty("spark.scheduler.pool", "etl")
        sc.setLocalProperty(Props.Role, "etl")
        val r = new Random(seed * 104729L + window)
        var n = 0L
        while (Clock.ms() < deadline) { n += 1; etlJob(r, n, runId, window) }
      }, "perfbench-etl")
      threads.foreach(_.start())
      threads.foreach(_.join())
      val t1 = Clock.ms()
      spans.add(runId, "run", 0L, t0, t1)
      Map("traced" -> spans.enabled, "start" -> t0, "end" -> t1,
        "requests" -> reqs.asScala.toSeq, "jobs" -> jobs.asScala.toSeq,
        "spans" -> spans.all.map(_.toMap))
    }
  }
}
