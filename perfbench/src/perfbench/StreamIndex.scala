package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.algebra.Semigroup
import graft.batch.SegmentedStore
import graft.operators.{Retrieval, Similarity}
import graft.streaming.StreamingSum
import graft.time.Batcher

/** `stream_index`: the online half and the stored indexes. Each round
  *  - feeds seven fixed-size event micro-batches through `MemoryStream`
  *    into `StreamingSum.sumByKey`; about 10% of events land in an
  *    earlier day, so several (key, batch) states stay open;
  *  - between them, serves six `Similarity.ivfTopKStored` calls and one
  *    `Retrieval.bm25TopKFromStored` call (top-10, library defaults otherwise).
  * The indexes are built in set-up and then grown, before timing, by one
  * document+vector micro-batch through a `foreachBatch` sink that appends
  * it to both tiers under the micro-batch id and compacts each tier when
  * fragmented: each such micro-batch costs seconds, so the timed loop
  * could not hold enough of them (see README.md). It never touches
  * `BatchStore` or `ClientStore`.
  */
final class StreamIndex(spark: SparkSession, opts: Opts, tracer: Tracer)
    extends Workload(spark, opts, tracer) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // summer input
  private val nKeys = if (opts.tiny) 2000 else 100000
  private val eventsPerBatch = if (opts.tiny) 2000 else 20000
  private val lateShare = 0.1
  private val lateDays = 3
  /** Event micro-batches per event day: the day advances as the stream runs. */
  private val batchesPerDay = 4
  private val zipf = new Zipf(nKeys, 1.0)
  // index input
  private val nDocs = if (opts.tiny) 500 else 5000
  private val nVecs = if (opts.tiny) 1000 else 10000
  private val itemsPerBatch = if (opts.tiny) 50 else 500
  private val dim = 64
  private val nClusters = 32
  private val noise = 0.6
  private val tokenBuckets = 16
  private val maxSegments = 4
  private val k = 10

  private lazy val vocab = Gen.sf01Vocabulary(opts.dataDir)
  // input streams of the generator
  private val CorpusStream = 1
  private val EventStream = 2
  private val ItemStream = 3
  private val QueryStream = 4
  private lazy val cents = Gen.centroids(g(CorpusStream, -1L), nClusters, dim)

  private var dir: Path = _
  private var events: MemoryStream[(Long, Long, Long)] = _
  private var items: MemoryStream[(Long, String, Array[Float])] = _
  private var sumQuery: StreamingQuery = _
  private var indexQuery: StreamingQuery = _
  private var nSetups = 0
  private def deltaTable = s"perfbench_deltas_$nSetups"
  private def floatsPath = dir.resolve("vectors").toString
  private def bm25Path = dir.resolve("bm25").toString
  private def ivfPath = dir.resolve("ivf").toString
  /** The float corpus as of the last ingest, for the exact re-rank. */
  private var floats: DataFrame = _

  /** Every event fed, for the reference. */
  private val fed = mutable.ArrayBuffer.empty[Array[Gen.Event]]
  private var eventBatch = 0L
  /** Documents and vectors by id: the set-up corpora, then every ingested item. */
  private val docs = mutable.ArrayBuffer.empty[(Long, String)]
  private val vecs = mutable.ArrayBuffer.empty[(Long, Array[Float])]
  private val eventCalls = mutable.ArrayBuffer.empty[Calls.Ref]
  private val bm25Results = mutable.ArrayBuffer.empty[(String, Seq[(Long, Double)], Calls.Ref)]
  private val ivfResults = mutable.ArrayBuffer.empty[(Array[Double], Seq[(Long, Double)], Calls.Ref)]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  @volatile private var segmentsLive = 0
  private var recall = Double.NaN
  private var ivfCells = 0

  private def stopQueries(): Unit = {
    Option(sumQuery).foreach(_.stop())
    Option(indexQuery).foreach(_.stop())
  }

  def setup(d: Path): Unit = {
    stopQueries()
    dir = d
    nSetups += 1
    Files.createDirectories(dir)
    fed.clear(); docs.clear(); vecs.clear(); eventBatch = 0

    events = MemoryStream[(Long, Long, Long)]
    sumQuery = StreamingSum.sumByKey[Long, Long](events.toDS(), Batcher.ofDays(1))(
      Semigroup.longSemigroup, implicitly, implicitly)
      .map { case (key, b, (_, delta)) => (key, b, delta) }
      .writeStream.format("memory").queryName(deltaTable).outputMode("append")
      .option("checkpointLocation", dir.resolve("sum-checkpoint").toString)
      .start()

    val gd = g(CorpusStream)
    docs ++= Gen.documents(gd, vocab, 0L, nDocs)
    vecs ++= Gen.vectors(gd, cents, noise, 0L, nVecs)
    vecs.toSeq.toDF("vec_id", "embedding").write.parquet(floatsPath)
    floats = spark.read.parquet(floatsPath)
    Retrieval.writeIndex(Retrieval.buildIndex(docs.toSeq.toDF("doc_id", "text"), "text", "doc_id"),
      bm25Path, tokenBuckets)
    Similarity.ivfWriteIndex(floats, "embedding", "vec_id", ivfPath)
    items = MemoryStream[(Long, String, Array[Float])]
    indexQuery = items.toDS().writeStream
      .option("checkpointLocation", dir.resolve("index-checkpoint").toString)
      .foreachBatch((batch: Dataset[(Long, String, Array[Float])], id: Long) => sink(batch, id))
      .start()
  }

  def warmUp(): Unit = {
    feedEvents(-1L)
    // traced runs trace the index micro-batch: it is the only one per run
    tracer.setActive(opts.trace)
    feedItems()
    tracer.setActive(false)
    val wg = g(QueryStream, -1L)
    bm25(Gen.query(wg, vocab))
    ivf(Gen.queryVector(wg, cents, noise))
  }

  /** Item ids continue past the set-up corpus (ids are disjoint per tier). */
  private def itemRows(n: Int): Array[(Long, String, Array[Float])] = {
    val firstId = vecs.length.toLong
    val gd = g(ItemStream, firstId)
    val ds = Gen.documents(gd, vocab, firstId, n)
    val vs = Gen.vectors(gd, cents, noise, firstId, n)
    ds.zip(vs).map { case ((id, text), (_, v)) => (id, text, v) }
  }

  /** The `foreachBatch` sink: append both tiers (and the float corpus the
    * IVF re-rank reads) under the micro-batch id, then compact each tier
    * when fragmented.
    */
  private def sink(batch: Dataset[(Long, String, Array[Float])], id: Long): Unit = {
    val r = -1L // the warm-up's request id
    val df = batch.toDF("doc_id", "text", "embedding")
    df.select(col("doc_id").as("vec_id"), col("embedding")).write.mode("append").parquet(floatsPath)
    tracer.span("operators.bm25_append", r) {
      Retrieval.appendToStored(spark, bm25Path, tokenBuckets,
        df.select("doc_id", "text"), "text", "doc_id", batchId = Some(id))
    }
    tracer.span("operators.ivf_append", r) {
      Similarity.ivfAppendToStored(spark, ivfPath,
        df.select(col("doc_id").as("vec_id"), col("embedding")), "embedding", "vec_id",
        batchId = Some(id))
    }
    tracer.span("operators.compact", r) {
      Retrieval.compactIfFragmented(spark, bm25Path, tokenBuckets, maxSegments)
      Similarity.ivfCompactIfFragmented(spark, ivfPath, maxSegments)
    }
    segmentsLive = SegmentedStore.committedSegs(bm25Path).size + SegmentedStore.committedSegs(ivfPath).size
  }

  private def feedEvents(request: Long): Unit = {
    val day = (eventBatch / batchesPerDay) + lateDays
    val ev = Gen.events(g(EventStream, eventBatch), zipf, eventsPerBatch, day, lateShare, lateDays)
    eventBatch += 1
    fed += ev
    val run = () => { events.addData(ev.toSeq); sumQuery.processAllAvailable() }
    if (request < 0) run()
    else {
      val before = sumQuery.lastProgress
      calls.time("microbatch") {
        tracer.streamSpan("streaming.microbatch", request, sumQuery.runId.toString)(run())
      }.foreach(eventCalls += _._2)
      if (tracer.active) progress ++= sumQuery.recentProgress.filter(p =>
        before == null || p.batchId > before.batchId)
    }
  }

  private def feedItems(): Unit = {
    val rows = itemRows(itemsPerBatch)
    docs ++= rows.map(r => (r._1, r._2))
    vecs ++= rows.map(r => (r._1, r._3))
    items.addData(rows.toSeq)
    indexQuery.processAllAvailable()
    floats = spark.read.parquet(floatsPath)
  }

  private def bm25(q: String): Seq[(Long, Double)] =
    Retrieval.bm25TopKFromStored(spark, bm25Path, tokenBuckets,
      Seq((0L, q)).toDF("query_id", "qtext"), "qtext", "query_id", "doc_id", k)
      .select(col("doc_id"), col("score")).as[(Long, Double)].collect()
      .sortBy { case (id, s) => (-s, id) }.toSeq

  private def ivf(q: Array[Double]): Seq[(Long, Double)] =
    Similarity.ivfTopKStored(spark, ivfPath, floats, "embedding", "vec_id", q, k)
      .select(col("vec_id"), col("cosine_sim")).as[(Long, Double)].collect().toSeq

  val roundsPer10s = 2
  /** IVF calls per round: their cost varies from query to query with the
    * sizes of the cells probed, so a run needs many of them.
    */
  private val ivfPerRound = 6
  /** Micro-batches alternate with the reads, so no timed call follows a
    * call of its own kind. The call after a BM25 query runs slower (its
    * garbage is still being collected); alternating keeps that to one
    * micro-batch per round instead of splitting the IVF samples into two
    * clusters with the median falling between them.
    */
  val parts = 2 * ivfPerRound + 2

  def step(round: Long, part: Int): Unit = {
    val qg = g(QueryStream, round * parts + part)
    if (part % 2 == 0) feedEvents(round)
    else if (part < parts - 1) {
      val v = Gen.queryVector(qg, cents, noise)
      calls.time("ivf")(tracer.span("operators.ivf_topk", round)(ivf(v)))
        .foreach { case (r, ref) => ivfResults += ((v, r, ref)) }
    } else {
      val text = Gen.query(qg, vocab)
      calls.time("bm25")(tracer.span("operators.bm25_topk", round)(bm25(text)))
        .foreach { case (r, ref) => bm25Results += ((text, r, ref)) }
    }
  }

  def check(): Unit = {
    sumQuery.exception.foreach(e => calls.fail(s"sumByKey query failed: $e"))
    indexQuery.exception.foreach(e => calls.fail(s"index query failed: $e"))
    checkDeltas()
    checkIngest()
    checkBm25()
    checkIvf()
  }

  /** Per (key, batch), the emitted deltas sum to the events fed. */
  private def checkDeltas(): Unit = {
    val want = mutable.HashMap.empty[(Long, Long), Long]
    fed.foreach(_.foreach { case (ts, key, v) =>
      val kb = (key, Math.floorDiv(ts, Gen.DayMs))
      want(kb) = want.getOrElse(kb, 0L) + v
    })
    if (opts.corruptReference) { val kb = want.keysIterator.next(); want(kb) += 1 }
    val got = spark.table(deltaTable).toDF("key", "batch", "delta")
      .groupBy(col("key"), col("batch")).agg(sum(col("delta")))
      .as[(Long, Long, Long)].collect()
    val diff = (got.length - want.size).abs + got.count { case (key, b, v) => !want.get((key, b)).contains(v) }
    if (diff != 0) {
      val why = s"streamed deltas differ from the reference on $diff (key, batch) groups"
      eventCalls.lastOption.fold(calls.fail(why))(calls.failCall(_, why))
    }
  }

  /** Every item fed is indexed exactly once in each tier. */
  private def checkIngest(): Unit = {
    val nDocsIndexed = Retrieval.readIndex(spark, bm25Path, "doc_id").stats
      .select(col("n_docs")).as[Long].head()
    val nVecsIndexed = Similarity.readIvfIndex(spark, ivfPath).count()
    val wantDocs = nDocs + (vecs.length - nVecs)
    if (nDocsIndexed != wantDocs || nVecsIndexed != vecs.length) {
      val why = s"indexes hold $nDocsIndexed docs and $nVecsIndexed vectors, " +
        s"want $wantDocs and ${vecs.length}"
      calls.fail(why)
    }
  }

  /** Stored BM25 top-k against the in-memory scorer over the same documents. */
  private def checkBm25(): Unit = if (bm25Results.nonEmpty) {
    val queries = bm25Results.zipWithIndex.map { case ((q, _, _), i) => (i.toLong, q) }
      .toSeq.toDF("query_id", "qtext")
    val want = Retrieval.bm25TopK(Retrieval.buildIndex(docs.toSeq.toDF("doc_id", "text"),
      "text", "doc_id"), queries, "qtext", "query_id", k)
      .select(col("query_id"), col("doc_id"), col("score")).as[(Long, Long, Double)]
      .collect().groupBy(_._1).map { case (q, rows) =>
        q -> rows.map(r => (r._2, r._3)).sortBy { case (id, s) => (-s, id) }.toSeq
      }
    bm25Results.zipWithIndex.foreach { case ((q, got, ref), i) =>
      val w0 = want.getOrElse(i.toLong, Nil)
      val w = if (opts.corruptReference && i == 0) w0.drop(1) else w0
      if (got != w) calls.failCall(ref, s"bm25 top-$k for '$q' differs from the in-memory scorer")
    }
  }

  /** Exact cosine of two vectors, the `VectorFunctions.cosine` formula. */
  private def cosine(a: Array[Float], b: Array[Double]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { d += a(i) * b(i); na += a(i).toDouble * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0 || nb == 0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Every served neighbour carries its true cosine; recall@k against
    * brute force; and full-probe IVF equals the flat int8 tier.
    */
  private def checkIvf(): Unit = if (ivfResults.nonEmpty) {
    var hits = 0L
    ivfResults.foreach { case (q, got, ref) =>
      val exact = vecs.iterator.map { case (id, v) => (id, cosine(v, q)) }.toArray
      val byId = exact.toMap
      val truth = exact.sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
      hits += got.count { case (id, _) => truth(id) }
      val bad = got.find { case (id, s) => byId.get(id).forall(e => math.abs(round6(e) - s) > 1e-6) }
      if (got.size != k || bad.isDefined)
        calls.failCall(ref, s"ivf top-$k returned ${got.size} rows, bad score ${bad.getOrElse("-")}")
    }
    recall = hits.toDouble / (ivfResults.size * k)
    val int8Path = dir.resolve("int8").toString
    Similarity.int8WriteIndex(floats, "embedding", "vec_id", int8Path)
    val qs = ivfResults.zipWithIndex.map { case ((q, _, _), i) => (i.toLong, q.toSeq) }
      .toSeq.toDF("query_id", "qvec")
    def served(df: DataFrame) = df.select(col("query_id"), col("vec_id"), col("cosine_sim"))
      .as[(Long, Long, Double)].collect().toSet
    ivfCells = Similarity.readIvfCentroids(spark, ivfPath).length
    val full = served(Similarity.ivfTopKStoredJoin(spark, ivfPath, floats, "embedding", "vec_id",
      qs, "qvec", "query_id", k, nProbe = ivfCells))
    val flat0 = served(Similarity.int8TopKStoredJoin(spark, int8Path, floats, "embedding", "vec_id",
      qs, "qvec", "query_id", k))
    val flat = if (opts.corruptReference) flat0.drop(1) else flat0
    if (full != flat) calls.failCall(ivfResults.last._3,
      s"full-probe IVF differs from int8TopKStored on ${(full diff flat).size + (flat diff full).size} rows")
  }

  def endToEnd(): Seq[Metric] = Seq(
    Metric("write_call_p50_ms", Calls.median(calls.ms("microbatch")), "ms"),
    Metric("read_call_p50_ms", Calls.median(calls.ms("ivf")), "ms"),
    Metric("read2_call_p50_ms", Calls.median(calls.ms("bm25")), "ms"))

  def layerMetrics(): Seq[Metric] = {
    def dur(name: String) = Calls.median(progress.toSeq.map(p =>
      Option(p.durationMs.get(name)).map(_.doubleValue).getOrElse(0.0)))
    val state = progress.toSeq.flatMap(_.stateOperators.headOption)
    val inRows = progress.map(_.numInputRows).sum.toDouble
    val outRows = state.map(_.numRowsUpdated).sum.toDouble
    Seq(
      Metric("streaming.microbatch.addBatch_ms", dur("addBatch"), "ms"),
      Metric("streaming.microbatch.queryPlanning_ms", dur("queryPlanning"), "ms"),
      Metric("streaming.microbatch.walCommit_ms", dur("walCommit"), "ms"),
      Metric("streaming.microbatch.state_rows",
        state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      Metric("streaming.microbatch.state_memory_bytes",
        state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "B"),
      Metric("streaming.microbatch.output_rows_per_input_row",
        if (inRows == 0) 0.0 else outRows / inRows, "ratio"),
      Metric("operators.index.segments_live", segmentsLive, "count"),
      Metric("operators.ivf_topk.recall_at_10", recall, "ratio"))
  }

  def info(): Seq[(String, Any)] = Seq("keys" -> nKeys, "events_per_microbatch" -> eventsPerBatch,
    "late_share" -> lateShare, "late_days" -> lateDays, "event_microbatches_per_round" -> (ivfPerRound + 1), "ivf_queries_per_round" -> ivfPerRound,
    "documents" -> nDocs, "vectors" -> nVecs, "items_per_microbatch" -> itemsPerBatch,
    "dim" -> dim, "vector_clusters" -> nClusters, "noise" -> noise, "token_buckets" -> tokenBuckets,
    "max_segments" -> maxSegments, "k" -> k, "ivf_cells" -> ivfCells,
    "event_microbatches" -> eventBatch,
    "vectors_indexed" -> vecs.length, "ivf_recall_at_10" -> recall)

  override def close(): Unit = stopQueries()
}
