package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.operators.{Ann, Curation, Dedup, Ingest, Retrieval}
import graft.streaming.Streaming

/** `build`: one-shot passes of the ingest-to-index pipeline over a
  * seeded graft-synth corpus. Each pass runs in its own temp dir, so
  * the stored kNN graph (an IndexCache entry) is rebuilt every pass. */
object Build extends Workload {
  val Docs = 2000L
  val Vecs = 1500L
  val Setups = 5
  val K = 10
  /** Query vectors each pass probes its fresh IVF and IVF-PQ indexes
    * with, for recall@10 (the first is also compared with the inline
    * twins). */
  val Queries = 3

  /** (step, registry row or "" for an index write, kind). The row
    * steps' outputs are checked against the row's DuckDB oracle. */
  val Steps: Seq[(String, String, String)] = Seq(
    ("ingest_dedup", "q_ingest_dedup", "step"),
    ("stream_index", "q_stream_index", "stream"),
    ("filter_funnel", "q_filter_funnel", "step"),
    ("minhash_lsh", "q_dedup_minhash", "step"),
    ("text_index", "", "write"),
    ("ivf_index", "", "write"),
    ("rpq_index", "", "write"),
    ("ann_graph", "q_ann_graph", "step"))

  def run(ctx: Ctx): Outcome = {
    import ctx._
    val t = ctx.trace

    val setupS = mutable.ArrayBuffer[Double]()
    var dir: File = null
    for (i <- 0 until Setups) {
      if (dir != null) rm(dir)
      dir = new File(data, s"setup$i")
      val op = t.runUnit("setup", "corpus", measured = false)(
        writeCorpus(dir, Docs, Vecs, 0))
      op.error.foreach(e => throw new IllegalStateException(
        s"set-up failed: $e"))
      setupS += op.ms / 1000
      log(s"setup $i: ${setupS.last} s")
    }
    val d = dir.getPath
    val qids = (0 until Queries).map(i => pick(100 + i, Vecs))
    val exact = new Exact(spark, d, K)
    val recalls = mutable.ArrayBuffer[Double]()

    def rowDf(row: String): DataFrame = row match {
      case "q_ingest_dedup" => Ingest.ingestDedup(spark, d)
      case "q_stream_index" => Streaming.streamIndex(spark, d)
      case "q_filter_funnel" => Curation.filterFunnel(spark, d)
      case "q_dedup_minhash" => Dedup.minhashLsh(spark, d)
      case "q_ann_graph" => Ann.annGraphRecall(spark, d)
    }
    def write(step: String, at: String): Unit = step match {
      case "text_index" => Retrieval.writeTextIndex(spark, d, at)
      case "ivf_index" => Ann.writeIvfIndex(spark, d, at)
      case "rpq_index" => Ann.writeResIvfPqIndex(spark, d, at)
    }
    /** The stored index must serve exactly what its inline twin
      * computes; the ANN indexes also record their recall@10. */
    def checkIndex(step: String, at: String): Option[String] = {
      def rows(df: DataFrame) = df.collect().toSeq
      def probe(q: Long) = rows(step match {
        case "ivf_index" => Ann.probeIvfIndex(spark, d, at, q, K)
        case "rpq_index" => Ann.probeResIvfPqIndex(spark, d, at, q, K)
      })
      val ok = step match {
        case "text_index" => Stats.sameRows(
          rows(Retrieval.probeBm25Index(spark, at)),
          rows(Retrieval.bm25(spark, d)))
        case _ =>
          val got = qids.map(probe)
          recalls.synchronized(got.zip(qids).foreach { case (r, q) =>
            recalls += exact.recall(q, r.map(_.getLong(0))) })
          Stats.sameRows(got.head, rows(
            if (step == "ivf_index") Ann.ivfSearch(spark, d, qids.head, K)
            else Ann.ivfPqResSearch(spark, d, qids.head, K)))
      }
      if (ok) None else Some(s"$step probe != inline twin")
    }

    val oracle = mutable.ArrayBuffer[OracleCheck]()
    val stepMs = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
    val passMs = mutable.ArrayBuffer[(Boolean, Double)]()
    val graphRecalls = mutable.ArrayBuffer[Double]()
    val indexBytes = mutable.ArrayBuffer[Double]()
    val sysTmp = System.getProperty("java.io.tmpdir")

    def pass(k: Int, measured: Boolean, traced: Boolean): Unit = {
      t.tracing(traced)
      val pdir = new File(tmp, s"pass$k")
      pdir.mkdirs()
      System.setProperty("java.io.tmpdir", pdir.getPath)
      val checks = mutable.ArrayBuffer[(Op, String, String)]()
      var ms = 0.0
      try Steps.foreach { case (step, row, kind) =>
        val op =
          if (row.isEmpty) {
            val at = s"$pdir/$step"
            val o = t.runUnit(kind, step, step, measured)(write(step, at))
            checks += ((o, step, at))
            o
          } else {
            val path = s"$out/p$k/$row"
            val (o, _) = t.run(kind, step, step, measured)(rowDf(row))(
              _.write.parquet(path))
            if (o.ok) {
              oracle += OracleCheck(o.id, row, path, d)
              if (row == "q_ann_graph") graphRecalls +=
                spark.read.parquet(path).head().getAs[Double]("recall")
            }
            o
          }
        ms += op.ms
        if (measured && op.ok)
          stepMs.getOrElseUpdate(step, mutable.ArrayBuffer()) += op.ms
      } finally System.setProperty("java.io.tmpdir", sysTmp)
      if (measured) {
        passMs += traced -> ms
        indexBytes += Trace.sizeOf(pdir).toDouble
      }
      t.tracing(true)
      Stats.parMap(checks.filter(_._1.ok).toSeq) { case (o, step, at) =>
        o -> (try checkIndex(step, at)
              catch { case e: Throwable => Some(s"check failed: $e") })
      }.foreach { case (o, bad) => bad.foreach(t.mismatch(o, _)) }
      rm(pdir)
      log(s"pass $k: ${ms / 1000} s (measured=$measured traced=$traced)")
    }

    // No warm-up pass: one pass costs more than the measured window, so
    // the first (cold) pass is measured, as a fresh batch job runs. A
    // traced run does run one, so that its traced and untraced passes,
    // whose difference is the tracing overhead, are both warm.
    if (t.on) pass(0, measured = false, traced = false)
    val first = if (t.on) 1 else 0
    startMeasuring()
    var n = 0
    while (timeLeft || n < (if (t.on) 2 else 1)) {
      pass(first + n, measured = true, traced = n % 2 == 0)
      n += 1
    }
    stopMeasuring()

    val stepsOk = t.ops.filter(o => o.measured && o.ok && o.kind != "setup")
      .toSeq
    def med(step: String) =
      Stats.median(stepMs.getOrElse(step, mutable.ArrayBuffer()).toSeq)
    val perStep: Map[String, Any] = Steps.flatMap { case (step, row, _) =>
      Seq(s"build.${step}_s" -> med(step) / 1000) ++
        (if (row.nonEmpty) Seq(s"rows.$row.ms" -> med(step)) else Nil) ++
        (if (t.on) t.layerMeans(stepsOk.filter(o => o.traced &&
          o.name == step)).map { case (k, v) => s"build.$step.$k" -> v }
         else Nil)
    }.toMap
    Outcome(
      endToEnd = Map(
        "setup_s" -> Stats.median(setupS.toSeq),
        "op_ms" -> Stats.typicalMs(stepsOk.map(o => o.name -> o)),
        "write_ms" -> Stats.typicalMs(stepsOk.filter(_.kind == "write")
          .map(o => o.name -> o)),
        "pass_s" -> Stats.median(passMs.map(_._2 / 1000).toSeq)),
      perName = perStep ++ Map("build.passes" -> passMs.size,
        "build.graph_recall_at_10" -> graphRecalls.toSeq,
        "build.ann_recall_at_10" -> Stats.mean(recalls.toSeq),
        "build.setup_s" -> setupS.toSeq),
      indexBuildMs = Map("text" -> med("text_index"), "ivf" -> med("ivf_index"),
        "rpq" -> med("rpq_index"), "graph" -> Stats.median(stepsOk
          .filter(_.name == "ann_graph").map(_.callMs))),
      indexBytes = Stats.median(indexBytes.toSeq),
      units = passMs.toSeq,
      oracle = oracle.toSeq,
      sizes = Map("docs" -> Docs, "vectors" -> Vecs, "clients" -> 1,
        "setups" -> Setups))
  }
}
