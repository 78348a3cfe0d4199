package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.{docName, trigramSim}
import graft.operators.{Ann, Lexical, Retrieval, VectorSearch}
import graft.sources.SynthSource

/** `search`: one client in a closed loop over the serving entry points,
  * with an ingest append as every [[AppendEvery]]-th request. */
object Search extends Workload {
  val Docs = 6000L
  val Vecs = 3000L
  val BatchDocs = 500L
  val AppendEvery = 12
  val Setups = 2
  /** Corpus size of the untimed warm-up, and its rotation count. */
  val WarmSize = 300L
  val WarmRotations = 1
  val Pool = 1
  val K = 10
  val TrgmThreshold = 0.3
  val Types = Seq("topk", "ivf", "rpq", "name", "bm25", "trgm")

  private final case class Req(op: Op, tpe: String, param: Int, state: Int,
      rows: Seq[Row])

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val t = ctx.trace

    /** A served corpus of `docs` documents and `vecs` vectors, and its
      * seeded request parameters (all from graft-synth's generator). */
    final class Served(val docs: Long, vecs: Long, name: String) {
      val dir = new File(data, name)
      val idx = new File(tmp, s"$name-index")
      val d: String = dir.getPath
      val text = s"$idx/text"
      val qids: Seq[Long] = (0 until Pool).map(i => pick(100 + i, vecs))
      val names: Seq[String] = (0 until Pool).map { i =>
        val n = SynthSource.textFor(pick(200 + i, docs), seed).take(24)
          .toLowerCase
        if (i % 2 == 1) n else n.take(5) + n.drop(6) // a one-letter typo
      }
      val terms: Seq[Seq[String]] = (0 until Pool).map(i => (0 until 3).map(j =>
        SynthSource.Vocab(pick(300 + 10 * i + j, SynthSource.Vocab.size)
          .toInt)).distinct)

      /** Corpus plus the three stored indexes; the build time of each. */
      def setUp(): Seq[(String, Double)] = Seq[(String, () => Unit)](
        "corpus" -> (() => writeCorpus(dir, docs, vecs, 0)),
        "text" -> (() => {
          Retrieval.writeBm25Index(spark, d, text)
          Retrieval.writeTrgmIndex(spark, d, text)
        }),
        "ivf" -> (() => Ann.writeIvfIndex(spark, d, s"$idx/ivf")),
        "rpq" -> (() => Ann.writeResIvfPqIndex(spark, d, s"$idx/rpq")))
        .map { case (step, f) =>
          val op = t.runUnit("setup", step, measured = false)(f())
          op.error.foreach(e => throw new IllegalStateException(
            s"set-up step $step failed: $e"))
          step -> op.callMs
        }

      def read(tpe: String, p: Int): DataFrame = tpe match {
        case "topk" => VectorSearch.topK(spark, d, qids(p), K)
        case "ivf" => Ann.probeIvfIndex(spark, d, s"$idx/ivf", qids(p), K)
        case "rpq" => Ann.probeResIvfPqIndex(spark, d, s"$idx/rpq", qids(p), K)
        case "name" => Lexical.nameTieredFor(spark, d, names(p), K)
        case "bm25" => Retrieval.probeBm25Index(spark, text, terms(p), K)
        case "trgm" =>
          Retrieval.probeTrgmIndex(spark, text, names(p), TrgmThreshold, K)
      }

      /** The corpus plus its first `j` ingest batches, from the same
        * generator: batch j is documents `docs + (j-1)·BatchDocs` until
        * `docs + j·BatchDocs`. */
      def upTo(j: Int): DataFrame = synth("documents", docs + BatchDocs * 10000)
        .where(col("doc_id") < docs + j * BatchDocs)

      def append(j: Int): Unit = {
        val b = upTo(j).where(col("doc_id") >= docs + (j - 1) * BatchDocs)
        Retrieval.appendBm25Delta(b, text)
        Retrieval.appendTrgmDelta(b, text)
      }

      def drop(): Unit = { rm(dir); rm(idx) }
    }

    val reqs = mutable.ArrayBuffer[Req]()
    val appends = mutable.ArrayBuffer[Op]()
    val units = mutable.ArrayBuffer[(Boolean, Double)]()
    var state = 0
    var r = 0L
    /** One request of every read type, preceded by an append when one
      * falls due. A measured rotation stops early once the window has
      * passed (after at least two whole ones); returns the reads' total
      * time if it completed. */
    def rotation(s: Served, traced: Boolean, measured: Boolean,
        mayStop: Boolean = false): Option[Double] = {
      t.tracing(traced)
      var ms = 0.0
      val done = Types.forall { tpe =>
        if (mayStop && !timeLeft) false
        else {
          if (r % AppendEvery == AppendEvery - 1) {
            val op = t.runUnit("append", "append", measured = measured)(
              s.append(state + 1))
            if (op.ok) state += 1
            if (measured) appends += op
          }
          r += 1
          val p = pick(1000 + r * 7 + Types.indexOf(tpe), Pool).toInt
          val (op, rows) = t.run("search", tpe, tpe, measured)(
            s.read(tpe, p))(_.collect().toSeq)
          if (measured) reqs += Req(op, tpe, p, state, rows.getOrElse(Nil))
          ms += op.ms
          true
        }
      }
      if (done) Some(ms) else None
    }

    // Warm-up, untimed: a tiny corpus through every set-up step, request
    // type and an append. A long-running server has paid class loading,
    // JIT and whole-stage codegen long before; without this the first
    // rotations of a fresh JVM run up to 1.5x slower.
    val warm = new Served(WarmSize, WarmSize, "warm")
    warm.setUp()
    (0 until WarmRotations).foreach(_ => rotation(warm, t.on, measured = false))
    t.runUnit("append", "append", measured = false)(warm.append(1))
    warm.drop()
    log("warm-up done")

    // Set-up, several times over; the last one serves.
    val setupS = mutable.ArrayBuffer[Double]()
    val buildMs = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    var s: Served = null
    for (i <- 0 until Setups) {
      if (s != null) s.drop()
      s = new Served(Docs, Vecs, s"setup$i")
      val t0 = System.nanoTime()
      s.setUp().filter(_._1 != "corpus").foreach { case (step, ms) =>
        buildMs.getOrElseUpdate(step, mutable.ArrayBuffer()) += ms
      }
      setupS += (System.nanoTime() - t0) / 1e9
      log(s"setup $i: ${setupS.last} s")
    }
    val indexBytes = Trace.sizeOf(s.idx).toDouble

    r = 0
    state = 0
    startMeasuring()
    var n = 0
    while (timeLeft || n < 2) {
      val traced = n % 2 == 0
      rotation(s, traced, measured = true, mayStop = n >= 2)
        .foreach(ms => units += traced -> ms)
      n += 1
    }
    stopMeasuring()
    t.tracing(true)
    log(s"measured ${reqs.size} requests, ${appends.size} appends")

    // Output checks, after the measured phase.
    val exact = new Exact(spark, s.d, K)
    val exactNames: Map[Int, Seq[Long]] = s.names.indices.map { p =>
      p -> (0L until Docs).filter(id =>
        SynthSource.textFor(id, seed).take(24).toLowerCase == s.names(p))
    }.toMap
    // The text probes depend on how many batches were appended; the ANN
    // probes do not.
    def key(q: Req) = (q.tpe, q.param,
      if (q.tpe == "bm25" || q.tpe == "trgm") q.state else 0)
    val keys = reqs.filter(q => q.op.ok && !Set("topk", "name")(q.tpe))
      .map(key).distinct.toSeq
    val rebuilt = Stats.parMap(keys.collect { case ("bm25", _, st) => st }
        .distinct) { st =>
      val o = s"$tmp/rebuilt$st"
      Retrieval.writeBm25IndexOver(s.upTo(st), o)
      st -> o
    }.toMap
    val expected: Map[(String, Int, Int), Either[Throwable, Seq[Row]]] =
      Stats.parMap(keys) { case k @ (tpe, p, st) =>
        k -> (try Right((tpe match {
          case "ivf" => Ann.ivfSearch(spark, s.d, s.qids(p), K)
          case "rpq" => Ann.ivfPqResSearch(spark, s.d, s.qids(p), K)
          case "bm25" =>
            Retrieval.probeBm25Index(spark, rebuilt(st), s.terms(p), K)
          case "trgm" =>
            s.upTo(st).select(col("doc_id"), docName(col("text")).as("name"))
              .distinct()
              .select(col("doc_id"), col("name"),
                trigramSim(col("name"), lit(s.names(p))).as("sim"))
              .where(col("sim") >= TrgmThreshold)
              .orderBy(col("sim").desc, col("doc_id").asc).limit(K)
              .select(col("doc_id"), col("name"),
                round(col("sim"), 6).as("sim"))
        }).collect().toSeq) catch { case e: Throwable => Left(e) })
      }.toMap
    def expect(q: Req): Seq[Row] = expected(key(q)).fold(e => throw e, identity)
    val recalls = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    reqs.filter(_.op.ok).foreach { q =>
      val got = q.rows
      val qid = s.qids(q.param)
      try q.tpe match {
        case "topk" =>
          val want = exact.top(qid)
          val ok = got.map(_.getLong(0)) == want.map(_._1) &&
            got.zip(want).forall { case (g, w) =>
              math.abs(g.getDouble(1) - w._2) < 2e-6 }
          if (!ok) t.mismatch(q.op, s"topK($qid) != brute force")
        case "ivf" | "rpq" =>
          if (!Stats.sameRows(got, expect(q)))
            t.mismatch(q.op, s"${q.tpe} probe != inline twin")
          recalls.getOrElseUpdate(q.tpe, mutable.ArrayBuffer()) +=
            exact.recall(qid, got.map(_.getLong(0)))
        case "name" =>
          val tiers = got.map(_.getInt(3)).distinct
          val exactIds = exactNames(q.param)
          val ok = tiers.size == 1 && (
            if (exactIds.nonEmpty) tiers.head == 1 &&
              got.map(_.getLong(0)).sorted == exactIds.sorted.take(K)
            else tiers.head > 1)
          if (!ok)
            t.mismatch(q.op, s"name tiers $tiers for '${s.names(q.param)}'")
        case "bm25" | "trgm" =>
          if (!Stats.sameRows(got, expect(q)))
            t.mismatch(q.op, s"${q.tpe} probe after ${q.state} appends " +
              "!= inline over base + appended")
      } catch { case e: Throwable => t.mismatch(q.op, s"check failed: $e") }
    }
    log("checks done")

    val okReads = reqs.filter(_.op.ok).map(q => q.tpe -> q.op).toSeq
    val okAppends = appends.filter(_.ok).map(_.ms).toSeq
    val perType: Map[String, Any] = Types.flatMap { tpe =>
      val sel = okReads.filter(_._1 == tpe).map(_._2)
      Seq(s"search.$tpe.p50_ms" -> Stats.median(sel.map(_.ms)),
        s"search.$tpe.ms" -> sel.map(_.ms)) ++
        (if (t.on) t.layerMeans(sel.filter(_.traced)).map {
          case (k, v) => s"search.$tpe.$k" -> v } else Nil)
    }.toMap
    Outcome(
      endToEnd = Map(
        "setup_s" -> Stats.median(setupS.toSeq),
        "op_ms" -> Stats.typicalMs(okReads),
        "write_ms" -> Stats.median(okAppends),
        "pass_s" -> Stats.median(units.map(_._2 / 1000).toSeq)),
      perName = perType ++ Map(
        "search.append.p50_ms" -> Stats.median(okAppends),
        "search.append.ms" -> okAppends,
        "search.ivf.recall_at_10" ->
          Stats.mean(recalls.getOrElse("ivf", Nil).toSeq),
        "search.rpq.recall_at_10" ->
          Stats.mean(recalls.getOrElse("rpq", Nil).toSeq),
        "search.setup_s" -> setupS.toSeq),
      indexBuildMs = buildMs.map { case (k, v) => k -> Stats.median(v.toSeq) }
        .toMap,
      indexBytes = indexBytes,
      units = units.toSeq,
      oracle = Nil,
      sizes = Map("docs" -> Docs, "vectors" -> Vecs,
        "batch_docs" -> BatchDocs, "append_every" -> AppendEvery,
        "clients" -> 1, "setups" -> Setups, "warm_size" -> WarmSize,
        "warm_rotations" -> WarmRotations))
  }
}
