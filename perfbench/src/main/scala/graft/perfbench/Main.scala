package graft.perfbench

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.{Engine, SparkEntry, Tables}
import graft.ops.{Caches, Similarity}

/** Run records are insertion-ordered maps, written as JSON by Jackson. */
object Json {
  type Obj = ListMap[String, Any]
  def Obj(kvs: (String, Any)*): Obj = ListMap(kvs: _*)
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def render(v: Any): String = mapper.writeValueAsString(v)
}

/** One benchmark run inside one JVM.
  *
  * Sets the engine up `--setups` times (a new `Engine.session`, the temp
  * views the SQL queries read, and `--warm` warm-up passes each) and keeps
  * the last session. Then runs `--passes` passes over the query list in
  * closed loop, one query after another, each pass in an order shuffled by
  * the seed. A traced run pairs each of these passes with a pass that has
  * [[Trace]] attached, so untraced and traced passes alternate in the same
  * session and are equally warm. Every query execution is split into build
  * (DataFrame construction, including any jobs the engine runs eagerly),
  * execute (`collect`) and release (`Caches.releaseAll`).
  *
  * The run stops starting queries once `--deadline-s` seconds have passed
  * since the JVM started, and records where it stopped. Results are written
  * as JSON to `--out`; checking them and deriving metrics is `run.py`'s job.
  *
  * Besides `SparkEntry` keys, the query list may name [[Run.AnnTopK]]: IVF
  * top-k search for seeded query vectors, checked by recall against
  * `Similarity.bruteForceTopK` instead of by DuckDB; and `sql_<key>`: the
  * key's DuckDB SQL (`SparkEntry.oracleSql`) run as plain `spark.sql` over
  * temp views, so that the engine's optimizer rules, not hand-tuning, shape
  * the plan.
  *
  *   Main --queries q1,q2 --data DIR --seed N --passes N --trace 0|1
  *        --setups N --warm N --cores N --deadline-s S --out FILE
  *   Main --dump-oracle FILE --queries q1,q2
  */
object Main {

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def int(k: String): Int = apply(k).toInt
    def queries: Seq[String] = apply("queries").split(",").toSeq.filter(_.nonEmpty)
  }

  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"arguments come in --key value pairs: ${args.mkString(" ")}")
    Opts(args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k"); k.drop(2) -> v
    }.toMap)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    o.m.get("dump-oracle") match {
      case Some(path) => writeFile(path, Json.render(
        o.queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap))
      case None => writeFile(o("out"), Json.render(new Run(o).run()))
    }
  }

  def writeFile(path: String, s: String): Unit = {
    val tmp = new java.io.File(path + ".tmp")
    java.nio.file.Files.writeString(tmp.toPath, s)
    java.nio.file.Files.move(tmp.toPath, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Peak resident set of this process in MB (VmHWM). */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  @volatile private var sink = 0L

  /** Seconds for a fixed single-threaded integer kernel (best of two). */
  def calibSec(): Double = (1 to 2).map { _ =>
    val t = System.nanoTime
    var x = 1L
    var i = 0
    while (i < 40000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    sink += x
    (System.nanoTime - t) / 1e9
  }.min

  /** Memory copy bandwidth in GB/s over a 64 MB buffer (best of two). */
  def bwGbps(): Double = {
    val a = new Array[Long](8 << 20)
    val b = new Array[Long](8 << 20)
    (1 to 2).map { _ =>
      val t = System.nanoTime
      (1 to 4).foreach(_ => System.arraycopy(a, 0, b, 0, a.length))
      4.0 * 2 * a.length * 8 / ((System.nanoTime - t) / 1e9) / 1e9
    }.max
  }

  /** A collected result as JSON values: timestamps and dates as UTC text,
    * decimals as doubles, structs and arrays as lists, maps as sorted pairs. */
  def jsonValue(v: Any): Any = v match {
    case null => null
    case t: java.sql.Timestamp => tsText(t.toInstant.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime)
    case t: java.time.Instant => tsText(t.atOffset(java.time.ZoneOffset.UTC).toLocalDateTime)
    case t: java.time.LocalDateTime => tsText(t)
    case d: java.sql.Date => d.toLocalDate.toString
    case d: java.time.LocalDate => d.toString
    case d: java.math.BigDecimal => d.doubleValue
    case d: BigDecimal => d.toDouble
    case f: Float => f.toDouble
    case r: Row => r.toSeq.map(jsonValue)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(jsonValue(k), jsonValue(x)) }.sortBy(Json.render)
    case xs: Iterable[_] => xs.map(jsonValue).toSeq
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case other => other
  }

  private val TsFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
  private def tsText(t: java.time.LocalDateTime): String = t.format(TsFormat)
}

object Run {
  /** Query-list name of the seeded IVF top-k search. */
  val AnnTopK = "ann_topk"
  /** Search parameters of the engine's own `similarity_ivf_recall` query. */
  val AnnK = 5
  val AnnCells = 16
  val AnnProbes = 10
  /** Query vectors are drawn by the seed from the first `AnnQueryRange` ids. */
  val AnnQueries = 20
  val AnnQueryRange = 200

  /** Query-list prefix of a key run as plain SQL. */
  val SqlPrefix = "sql_"
  val SqlTables = Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  /** Size gates of the engine's optimizer rules while a SQL query runs.
    * Their defaults (128 MB of probe or fact side) are sized for inputs
    * about 100 times larger than the 14 MB of sf0.1, where no rule would
    * ever fire; 1 MB scales them down by that factor. */
  val SqlConf = Seq(
    "spark.graft.optimizer.bloomPrefilter.minProbeBytes" -> (1L << 20).toString,
    "spark.graft.optimizer.eagerAggregation.minFactBytes" -> (1L << 20).toString)
}

final class Run(o: Main.Opts) {
  import Main._
  import Run._

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val t0Nano = System.nanoTime
  private val t0Ms = System.currentTimeMillis
  /** Seconds since this run object was created (the common time base). */
  private def now: Double = (System.nanoTime - t0Nano) / 1e9
  /** Epoch milliseconds to the common time base. */
  private def fromMs(ms: Long): Double = (ms - t0Ms) / 1e3
  private val deadline = o("deadline-s").toDouble - (t0Ms - jvmStartMs) / 1e3

  private val dir = o("data")
  private val queries = o.queries
  private val cores = o.m.getOrElse("cores", Runtime.getRuntime.availableProcessors.toString)
  private var spark: SparkSession = _
  private val cuts = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]

  private val annQueries: Seq[Long] = {
    val rng = new scala.util.Random(o("seed").toLong)
    Seq.fill(AnnQueries)(rng.nextInt(AnnQueryRange).toLong).distinct
  }

  private def annTopK(exact: Boolean): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val q = e.filter(col("vec_id").isin(annQueries: _*))
    val c = e.filter(!col("vec_id").isin(annQueries: _*))
    (if (exact) Similarity.bruteForceTopK(q, c, "vec_id", "embedding", "vec_id", "embedding", AnnK)
     else Similarity.ivfTopK(q, c, "vec_id", "embedding", "vec_id", "embedding",
       k = AnnK, nlist = AnnCells, nprobe = AnnProbes))
      .select("query_id", "neighbor_id")
  }

  private def build(q: String): DataFrame =
    if (q == AnnTopK) annTopK(exact = false)
    else if (q.startsWith(SqlPrefix)) {
      SqlConf.foreach { case (k, v) => spark.conf.set(k, v) }
      spark.sql(SparkEntry.oracleSql(q.stripPrefix(SqlPrefix)))
    } else SparkEntry.queries(q)(spark, dir)

  /** Drops the cache leases a query took and the confs a SQL query set. */
  private def release(): Unit = {
    Caches.releaseAll(blocking = true)
    SqlConf.foreach { case (k, _) => spark.conf.unset(k) }
  }

  private def overBudget(where: String): Boolean = {
    val over = now >= deadline
    if (over) cuts += Json.Obj("at" -> where, "elapsed_s" -> now, "deadline_s" -> deadline)
    over
  }

  /** A new session, the SQL queries' temp views and `--warm` warm-up
    * passes. Returns its timings. */
  private def setUp(round: Int): Json.Obj = {
    val start = if (round == 0) fromMs(jvmStartMs) else now
    if (spark != null) { Caches.releaseAll(blocking = true); spark.stop() }
    val s0 = now
    spark = Engine.session(cores)
    if (queries.exists(_.startsWith(SqlPrefix))) {
      val t = Tables(spark, dir)
      SqlTables.foreach(name => t(name).createOrReplaceTempView(name))
    }
    val sessionS = now - s0
    val w0 = now
    var warmFailures = 0
    val warmPasses = (0 until o.int("warm")).map { pass =>
      val p0 = now
      queries.foreach { q =>
        if (!overBudget(s"setup $round warm-up $pass before $q")) {
          try build(q).collect()
          catch { case NonFatal(_) => warmFailures += 1 }
          finally release()
        }
      }
      now - p0
    }
    Json.Obj("setup_s" -> (now - start), "session_s" -> sessionS, "warm_s" -> (now - w0),
      "warm_pass_s" -> warmPasses, "warm_failures" -> warmFailures)
  }

  private val results = scala.collection.mutable.LinkedHashMap.empty[String, Json.Obj]

  /** Time one query execution; in a traced pass also attach the Spark
    * records of each phase. */
  private def execute(pass: Int, q: String, trace: Option[Trace]): Json.Obj = {
    val phases = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]
    def phase[T](name: String)(body: => T): T = {
      val s = now
      try body
      finally {
        val e = now
        val rec = scala.collection.mutable.ListBuffer[(String, Any)](
          "name" -> name, "start" -> s, "end" -> e)
        trace.foreach { tr =>
          val (jobs, stages, plans) = tr.take()
          rec += "jobs" -> jobs
          rec += "stages" -> stages
          rec += "plans" -> plans
          rec += "traced_end" -> now
        }
        phases += Json.Obj(rec.toSeq: _*)
      }
    }
    val start = now
    var error: String = null
    var rows: Array[Row] = null
    var df: DataFrame = null
    var cache = Json.Obj()
    try {
      df = phase("build")(build(q))
      rows = phase("execute")(df.collect())
    } catch { case NonFatal(e) => error = s"${e.getClass.getName}: ${e.getMessage}".take(500) }
    if (trace.isDefined) {
      val sc = spark.sparkContext
      cache = Json.Obj("leased" -> sc.getPersistentRDDs.size,
        "cached_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
    }
    phase("release")(release())
    val end = now
    // result identity: the canonical JSON of the rows, stored once per
    // distinct value, so the checker compares each distinct answer once
    val hash = if (rows == null) null else {
      val cols = df.schema.fieldNames.toSeq
      val body = Json.render(Json.Obj("columns" -> cols,
        "rows" -> rows.toSeq.map(r => r.toSeq.map(jsonValue))))
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(body.getBytes("UTF-8")).map("%02x".format(_)).mkString
      results.getOrElseUpdate(s"$q/$h", Json.Obj("query" -> q, "hash" -> h, "json" -> body))
      h
    }
    Json.Obj("pass" -> pass, "query" -> q, "start" -> start, "end" -> end,
      "error" -> error, "result" -> hash, "rows" -> (if (rows == null) 0 else rows.length),
      "phases" -> phases.toList, "cache" -> cache)
  }

  /** One closed-loop pass in a seeded shuffled order, traced when `trace`
    * is given. False when the budget cut it short. */
  private def measure(label: String, pass: Int, rng: scala.util.Random,
      trace: Option[Trace], passes: scala.collection.mutable.ArrayBuffer[Json.Obj],
      execs: scala.collection.mutable.ArrayBuffer[Json.Obj]): Boolean = {
    val order = rng.shuffle(queries)
    val ps = now
    val done = order.takeWhile(q => !overBudget(s"$label pass $pass before $q"))
      .map(q => execute(pass, q, trace))
    execs ++= done.map(_.updated("label", label))
    val complete = done.length == order.length
    if (complete) passes += Json.Obj("label" -> label, "pass" -> pass, "start" -> ps,
      "end" -> now, "order" -> order)
    complete
  }

  /** The exact top-k answer to the seeded similarity queries, collected
    * untimed after the measured passes. */
  private def annExact(): Seq[Seq[Long]] = {
    val rows = annTopK(exact = true).collect().map(r => Seq(r.getLong(0), r.getLong(1)))
    Caches.releaseAll(blocking = true)
    rows.toSeq
  }

  def run(): Json.Obj = {
    val seed = o("seed").toLong
    val traced = o("trace") == "1"
    val hostBefore = Json.Obj("calib_s" -> calibSec(), "bw_gbps" -> bwGbps())
    val setups = (0 until o.int("setups")).map(setUp)
    val rng = new scala.util.Random(seed)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]
    val execs = scala.collection.mutable.ArrayBuffer.empty[Json.Obj]
    def untracedPass(pass: Int) = measure("untraced", pass, rng, None, passes, execs)
    def tracedPass(pass: Int) = {
      val tr = new Trace(spark, fromMs)
      try measure("traced", pass, rng, Some(tr), passes, execs)
      finally tr.stop()
    }
    // in a traced run the two kinds alternate in ABBA order, so that pass
    // times still drifting over the run weigh on both alike
    def round(pass: Int): Seq[Int => Boolean] =
      if (!traced) Seq(untracedPass)
      else if (pass % 2 == 0) Seq(untracedPass, tracedPass)
      else Seq(tracedPass, untracedPass)
    var pass = 0
    while (pass < o.int("passes") && round(pass).forall(_(pass))) pass += 1
    val annExactRows = if (queries.contains(AnnTopK) && cuts.isEmpty) annExact() else Nil
    val hostAfter = Json.Obj("calib_s" -> calibSec(), "bw_gbps" -> bwGbps())
    val rss = peakRssMb()
    spark.stop()
    Json.Obj(
      "seed" -> seed, "queries" -> queries, "cores" -> cores,
      "setups" -> setups, "passes" -> passes.toList, "executions" -> execs.toList,
      "results" -> results.values.toList, "cuts" -> cuts.toList,
      "host" -> Json.Obj("before" -> hostBefore, "after" -> hostAfter),
      "peak_rss_mb" -> rss, "ann_exact" -> annExactRows,
      "end_s" -> now)
  }
}
