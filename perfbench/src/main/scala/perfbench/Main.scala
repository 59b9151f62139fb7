package perfbench

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.{GraftSession, Tables}

/** Benchmark process for one workload. `run.py` generates the inputs,
  * starts this main, and computes every reported metric from the raw
  * record it writes (`--out`); nothing here decides pass or fail except
  * a missing query name, which aborts before any timing.
  *
  * Modes: `run` (set up, gate pass, timed window(s)) and `pin` (gate pass
  * plus the oracle SQL the pinned fingerprints are generated from).
  */
object Main {
  final case class Args(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def list(k: String): Seq[String] =
      kv.get(k).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
  }

  def parse(args: Array[String]): Args =
    Args(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v
    }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val record = a("mode") match {
      case "pin" => pin(a)
      case "run" => run(a)
      case m => sys.error(s"unknown mode $m")
    }
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(record))
    // every session and server is stopped by now; exit without waiting
    // on stray non-daemon threads of the engine
    sys.exit(0)
  }

  // -- session and set-up ------------------------------------------------

  /** Worker threads of `local[]`: the processors this JVM may use, which
    * honours cgroup quotas and CPU affinity. */
  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Timed passes of a query window: one per nominal 6 s of `--seconds`,
    * at least 2. The count depends on the argument only, never on how
    * fast a pass runs, so a faster engine does not change how many
    * samples a run takes. */
  def passes(seconds: Int): Int = math.max(2, seconds / 6)

  def newSession(a: Args): SparkSession = {
    val s = GraftSession.builder("perfbench", nproc.toString)
      .config("spark.local.dir", a("work") + "/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def meta(spark: SparkSession): Map[String, Any] = Map(
    "spark_version" -> spark.version,
    "driver_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "nproc" -> nproc,
    "master" -> spark.sparkContext.master)

  /** Resolve the query names, failing the run on any unknown name: a
    * workload must never shrink silently. */
  def resolve(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    if (missing.nonEmpty) {
      System.err.println(s"[perfbench] unknown queries: ${missing.mkString(", ")}")
      sys.exit(3)
    }
    names.map(n => n -> all(n))
  }

  def clearCache(spark: SparkSession): Unit =
    spark.sharedState.cacheManager.clearCache()

  /** Untimed pass that also warms every query: each result is written as
    * parquet for the fingerprint check done by `run.py`. */
  def gatePass(spark: SparkSession, a: Args,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Seq[Map[String, Any]] =
    queries.sortBy(_._1).map { case (name, fn) =>
      val t0 = Clock.ms()
      val err =
        try { fn(spark, a("data")).write.mode("overwrite").parquet(s"${a("work")}/out/$name"); None }
        catch { case NonFatal(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      clearCache(spark)
      Map("name" -> name, "ms" -> (Clock.ms() - t0), "error" -> err)
    }

  /** Run one traced window with the benchmark's listeners attached and
    * add their records to the window's. */
  def withListeners(spark: SparkSession)(window: => Map[String, Any]): Map[String, Any] = {
    val rec = new StageRecorder
    val plans = new PlanRecorder
    spark.sparkContext.addSparkListener(rec)
    spark.listenerManager.register(plans)
    val w = try window finally {
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(rec)
      spark.listenerManager.unregister(plans)
    }
    w ++ Map("spark_jobs" -> rec.jobRecords, "spark_stages" -> rec.stageRecords,
      "plans" -> plans.records)
  }

  // -- modes -------------------------------------------------------------

  def pin(a: Args): Map[String, Any] = {
    val queries = resolve(a.list("queries"))
    val spark = newSession(a)
    val gate = gatePass(spark, a, queries)
    val names = queries.map(_._1).toSet
    val dir = a("data")
    val ivf = graft.queries.ExtensionQueries.ivfFixturePath(spark, dir)
    val deflate = graft.queries.CorpusQueries.deflateFixturePath(spark, dir)
    val bpe = graft.queries.LmQueries.bpeFixturePath(spark, dir)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names(k) }.map { case (k, v) =>
      k -> v.replace(graft.queries.ExtensionQueries.IvfFixtureToken, ivf)
        .replace(graft.queries.CorpusQueries.DeflateFixtureToken, deflate)
        .replace(graft.queries.LmQueries.BpeFixtureToken, bpe)
    }
    val rec = Map("meta" -> meta(spark), "gate" -> gate, "oracle" -> oracle)
    spark.stop()
    rec
  }

  def run(a: Args): Map[String, Any] = {
    val traced = a("trace") == "1"
    a("workload") match {
      case "api_with_etl" => ApiLoad.run(a, traced)
      case _ => queryRun(a, traced)
    }
  }

  def queryRun(a: Args, traced: Boolean): Map[String, Any] = {
    val queries = resolve(a.list("queries"))
    val dir = a("data")
    val spark = newSession(a)
    val t = Tables(spark, dir)
    Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
      t.lineitem, t.events, t.documents, t.embeddings).foreach(_.schema)
    val gate = gatePass(spark, a, queries)
    // one more untimed pass: the first pass after the cold gate pass is
    // still visibly warming up
    new QueryWindow(spark, a, queries, new Spans(false)).run(passes = 1)
    val n = passes(a.int("seconds"))
    val windows = Seq.newBuilder[Map[String, Any]]
    windows += new QueryWindow(spark, a, queries, new Spans(false)).run(n)
    if (traced) {
      windows += withListeners(spark)(new QueryWindow(spark, a, queries, new Spans(true)).run(n))
      // a second untraced window: the tracing overhead is judged against
      // the mean of the windows before and after, cancelling warm-up drift
      windows += new QueryWindow(spark, a, queries, new Spans(false)).run(n)
    }
    val rec = Map("meta" -> meta(spark), "gate" -> gate,
      "windows" -> windows.result(), "rss_peak_mb" -> rssPeakMb())
    spark.stop()
    rec
  }
}

/** One timed window over a query list: a fixed number of whole passes,
  * pass-major, each in a seeded order. Every execution goes to the `noop`
  * sink and the cache is released after it, as `graft.Bench` does. */
final class QueryWindow(spark: SparkSession, a: Main.Args,
    queries: Seq[(String, (SparkSession, String) => DataFrame)],
    spans: Spans) {
  private val sc = spark.sparkContext

  def run(passes: Int): Map[String, Any] = {
    val dir = a("data")
    val seed = a("seed").toLong
    val samples = Seq.newBuilder[Map[String, Any]]
    val cache = Seq.newBuilder[Map[String, Any]]
    val passMs = Seq.newBuilder[Double]
    val runId = spans.newId()
    val t0 = Clock.ms()
    (0 until passes).foreach { pass =>
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      val passId = spans.newId()
      val p0 = Clock.ms()
      order.foreach { case (name, fn) =>
        val qId = spans.newId()
        val (bId, aId) = (spans.newId(), spans.newId())
        val q0 = Clock.ms()
        var q1, q2 = q0
        val ok =
          try {
            sc.setLocalProperty(Props.Span, bId.toString)
            val df = fn(spark, dir)
            q1 = Clock.ms()
            sc.setLocalProperty(Props.Span, aId.toString)
            df.write.format("noop").mode("overwrite").save()
            q2 = Clock.ms()
            true
          } catch {
            case NonFatal(e) =>
              System.err.println(s"[perfbench] $name failed: $e")
              q2 = Clock.ms()
              false
          } finally sc.setLocalProperty(Props.Span, null)
        spans.add(bId, "build", qId, q0, q1)
        spans.add(aId, "action", qId, q1, q2)
        spans.add(qId, s"query:$name", passId, q0, q2)
        samples += Map("pass" -> pass, "name" -> name, "ms" -> (q2 - q0),
          "build_ms" -> (q1 - q0), "ok" -> ok)
        if (spans.enabled) {
          val cached = sc.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
          cache += Map("pass" -> pass, "name" -> name, "entries" -> cached.length,
            "bytes" -> cached.map(r => r.memSize + r.diskSize).sum)
        }
        Main.clearCache(spark)
      }
      val p1 = Clock.ms()
      passMs += p1 - p0
      spans.add(passId, "pass", runId, p0, p1, Map("pass" -> pass))
    }
    val t1 = Clock.ms()
    spans.add(runId, "run", 0L, t0, t1)
    Map("traced" -> spans.enabled, "start" -> t0, "end" -> t1,
      "pass_ms" -> passMs.result(), "samples" -> samples.result(), "cache" -> cache.result(),
      "spans" -> spans.all.map(_.toMap))
  }
}
