package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

final case class Args(workload: String, seed: Long, seconds: Int,
    trace: Boolean, runDir: File, out: File, cores: Int)

/** What a workload hands back besides its ops. */
final case class Outcome(
    endToEnd: Map[String, Double],
    perName: Map[String, Any],
    indexBuildMs: Map[String, Double],
    indexBytes: Double,
    units: Seq[(Boolean, Double)],
    oracle: Seq[OracleCheck],
    sizes: Map[String, Any])

/** A registry-row output written as parquet at `path`, to be compared
  * with the row's DuckDB oracle over the tables under `data`. */
final case class OracleCheck(op: Long, row: String, path: String,
    data: String)

trait Workload {
  def run(ctx: Ctx): Outcome
}

/** Per-run state shared by the workloads: the session, the tracer and
  * the run's private directories. */
final class Ctx(val spark: SparkSession, val args: Args, val trace: Trace) {
  val data = new File(args.runDir, "data")
  val tmp = new File(args.runDir, "tmp")
  val out = new File(args.runDir, "out")
  val seed: Long = args.seed
  private var measureStart = 0L
  private var gcStart = 0.0
  var gcMs = 0.0

  /** Start of the measured phase: everything before it is set-up or
    * warm-up. */
  def startMeasuring(): Unit = {
    trace.resetStreams()
    gcStart = trace.gcMs
    measureStart = System.nanoTime()
  }
  def elapsedS: Double = (System.nanoTime() - measureStart) / 1e9
  def timeLeft: Boolean = elapsedS < args.seconds
  def stopMeasuring(): Unit = {
    gcMs = trace.gcMs - gcStart
    trace.freezePeaks()
  }

  /** A seeded pick in [0, n): graft-synth's own mixing function, so
    * query ids and strings derive from the same generator as the
    * corpus. */
  def pick(salt: Long, n: Long): Long =
    java.lang.Long.remainderUnsigned(
      graft.sources.SynthSource.mix(seed * 0x9e3779b1L + salt), n)

  def synth(shape: String, rows: Long, opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft-synth").option("shape", shape)
        .option("rows", rows).option("parts", args.cores)
        .option("seed", seed)) { case (r, (k, v)) => r.option(k, v) }
      .load()

  /** Write a graft-synth corpus under `dir` as the single-file parquet
    * tables the operators and stream sources read (`documents`,
    * `embeddings`, optionally `events`), with the column types of the
    * reference test data. The embeddings are the clustered manifold
    * (64 centers, sigma 0.15) graft's own ANN operating points use. */
  def writeCorpus(dir: File, docs: Long, vecs: Long, events: Long): Unit = {
    def single(df: DataFrame, name: String): Unit = {
      val staging = new File(dir, s"_$name")
      df.coalesce(1).write.parquet(staging.getPath)
      val part = staging.listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, new File(dir, s"$name.parquet")
        .toPath)
      rm(staging)
    }
    single(synth("documents", docs), "documents")
    single(synth("embeddings", vecs, "centers" -> "64", "sigma" -> "0.15")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"), col("label").cast("int").as("label")), "embeddings")
    if (events > 0)
      single(synth("events", events)
        .withColumn("ts", col("ts").cast("timestamp_ntz")), "events")
  }

  private val born = System.nanoTime()
  /** Progress line in the JVM log (not the result). */
  def log(msg: String): Unit =
    println(f"[perfbench ${(System.nanoTime() - born) / 1e9}%7.2fs] $msg")

  def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete()
    ()
  }
}

/** Exact cosine top-k over a corpus's embeddings, computed in this
  * JVM: the ground truth the ANN probes are scored against. */
final class Exact(spark: SparkSession, dir: String, k: Int) {
  private val vecs: Array[(Long, Array[Double])] =
    graft.Tables.embeddings(spark, dir).select("vec_id", "embedding")
      .collect().map(x => x.getLong(0) -> x.getSeq[Double](1).toArray)
  private val byId = vecs.toMap
  private val cache = scala.collection.mutable.HashMap[Long, Seq[(Long, Double)]]()

  private def cos(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** (vec_id, cosine) of the k nearest vectors, query excluded, ties to
    * the smaller id. */
  def top(q: Long): Seq[(Long, Double)] = cache.getOrElseUpdate(q, {
    val qv = byId(q)
    vecs.iterator.filter(_._1 != q).map { case (id, v) => id -> cos(qv, v) }
      .toSeq.sortBy(x => (-x._2, x._1)).take(k)
  })

  /** Share of the exact top-k that `ids` found. */
  def recall(q: Long, ids: Seq[Long]): Double = {
    val want = top(q).map(_._1).toSet
    ids.count(want).toDouble / k
  }
}

object Stats {
  /** Median, the mean of the middle two for an even count. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else xs.sum / xs.size

  /** Typical latency of a mix of op types: the geometric mean over types
    * of each type's median. Unlike the median of the pooled mix, it
    * does not jump between the types' latency bands when a run draws a
    * few more requests of one type. */
  def typicalMs(ops: Seq[(String, Op)]): Double = {
    val meds = ops.groupBy(_._1).values.map(x => median(x.map(_._2.ms)))
    if (meds.isEmpty) Double.NaN
    else math.exp(meds.map(math.log).sum / meds.size)
  }
  def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.map(_.toSeq) == b.map(_.toSeq)

  /** `f` over `xs` on a few threads. Output checks run after the
    * measured phase, and each is a small Spark query bound by planning
    * and scheduling, so running them side by side shortens a run. */
  def parMap[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }
}

/** One benchmark run in one JVM: set up, measure for `--seconds`,
  * check outputs, and write the run's result file. perfbench/run.py
  * builds this program, runs it, checks the registry outputs against
  * their DuckDB oracles and prints the last line. */
object Main {
  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }
      .toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m.getOrElse("trace", "0") == "1", new File(m("run-dir")),
      new File(m("out")), m.getOrElse("cores", "4").toInt)
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config(graft.streaming.Streaming.StatePartitionsKey, "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(a.runDir, "local").getPath)
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config(graft.streaming.Streaming.CheckpointRootKey,
        new File(a.runDir, "ckpt").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Best of five timings of a fixed single-threaded loop: how fast this
    * machine was during the run, for reading results across runs. */
  private def calibrate(): Double = (0 until 5).map { _ =>
    val t0 = System.nanoTime()
    var x = 0L
    var i = 0L
    while (i < 20000000L) { x += graft.sources.SynthSource.mix(i ^ x); i += 1 }
    if (x == 42) println(x)
    (System.nanoTime() - t0) / 1e6
  }.min

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Seq("data", "tmp", "out", "local", "ckpt")
      .foreach(d => new File(a.runDir, d).mkdirs())
    val wl: Workload = a.workload match {
      case "search" => Search
      case "build" => Build
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val calibrationMs = calibrate()
    val spark = session(a)
    val trace = new Trace(spark, a.trace,
      Seq("tmp", "ckpt").map(new File(a.runDir, _)), new File(a.runDir, "local"))
    val ctx = new Ctx(spark, a, trace)
    val (outcome, fatal) =
      try (Some(wl.run(ctx)), None)
      catch { case e: Throwable =>
        (None, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")) }
    trace.stop()
    val ops = trace.ops.toSeq
    val o = outcome.getOrElse(Outcome(Map.empty, Map.empty, Map.empty, 0.0,
      Nil, Nil, Map.empty))
    val metrics: Map[String, Double] =
      if (!a.trace)
        o.endToEnd ++ Map("heap_peak_mb" -> trace.heapPeakMb,
          "disk_peak_mb" -> trace.diskPeakMb)
      else {
        val sel = ops.filter(x => x.traced && x.measured && x.ok)
        val nStream = ops.count(x => x.traced && x.measured &&
          x.kind == "stream")
        def units(t: Boolean) = o.units.filter(_._1 == t).map(_._2)
        trace.layerMeans(sel) ++
          trace.streamPhases.map { case (k, v) =>
            k -> (if (nStream == 0) 0.0 else v / nStream) } ++
          Seq("text", "ivf", "rpq", "graph").map(k =>
            s"IndexCache.$k.build_ms" -> o.indexBuildMs.getOrElse(k, 0.0)) ++
          Map("IndexCache.bytes" -> o.indexBytes,
            "spark.local_peak_bytes" -> trace.localPeakBytes,
            "jvm.gc_ms" -> ctx.gcMs,
            "trace.overhead_ms" ->
              (Stats.median(units(true)) - Stats.median(units(false))))
      }
    if (a.trace) trace.writeSpans(new File(a.out.getPath + ".spans.jsonl"))
    val oracleSql = graft.SparkEntry.oracleSql
    val failures = ops.filter(!_.ok).map(x => Map("op" -> x.id,
      "kind" -> x.kind, "name" -> x.name, "message" -> x.error.get)) ++
      fatal.map(m => Map("op" -> -1, "kind" -> "run", "name" -> a.workload,
        "message" -> m))
    val w = new java.io.PrintWriter(a.out, "UTF-8")
    try w.println(Json.obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "sizes" -> o.sizes,
      "calibration_ms" -> calibrationMs,
      "attempted" -> (ops.size + fatal.size),
      "failed" -> (ops.count(!_.ok) + fatal.size),
      "failures" -> failures, "metrics" -> metrics,
      "per_name" -> o.perName,
      "oracle" -> o.oracle.map(c => Map("op" -> c.op, "row" -> c.row,
        "path" -> c.path, "data" -> c.data, "sql" -> oracleSql.get(c.row))))))
    finally w.close()
    spark.stop()
  }
}
