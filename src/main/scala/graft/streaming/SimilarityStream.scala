package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.operators.Similarity
import graft.sources.Bucketing

/** Streaming ANN serving: query vectors arrive as a stream and probe the
  * static IVF index — the online face of [[Similarity.ivfTopK]].
  *
  * The stream side is stateless (centroid-cosine projection + probe
  * explode); candidates come from a stream-static join against the
  * corpus bucket index, MATERIALIZED ONCE as a table bucketed by
  * `bucket` so the static side plans with ZERO Exchange per trigger
  * (pinned in StreamingSpec) — the index shuffle is paid at write time,
  * never per micro-batch. The per-query top-k rerank runs inside each
  * micro-batch (a query's candidates never span batches, so batch-local
  * ranking is complete). At 100 TB this is exactly the serving layout:
  * the IVF/PQ index lives bucketed by its probe key and each trigger
  * shuffles only itself.
  */
object SimilarityStream {

  /** Bucket count for the materialized index tables (layout knob — see
    * [[Bucketing]]; 8 is the test-scale stand-in).
    */
  val IndexBuckets = 8

  /** Streams `embPath` as incoming queries (vec_id < 8, the same query
    * set as the batch op) against the corpus at the same path — replay
    * equals [[Similarity.ivfTopKSized]] exactly, gate-checked with its
    * oracle (late r15: both faces ride the nlist+probes ladder through
    * the SHARED ivfServingExprs kernels — identity at every gated
    * scale, √N books with a pinned probed fraction beyond).
    */
  def ivfTopKStream(spark: SparkSession, embPath: String,
                    outDir: String, checkpointDir: String, k: Int = 10,
                    maxFilesPerTrigger: Option[Int] = None,
                    probes: Int = 8,
                    tablePrefix: String = "graft_ivf_stream"): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    val isQuery = col("vec_id") < 8
    // the batch face's sizing count is the WHOLE table — same here, so
    // stream and batch derive the identical ladder step
    val n = corpus.count()
    val (bucketCol, probesCol) = Similarity.ivfServingExprs(
      corpus, Similarity.sizedProbes(probes, n), Similarity.sizedNlist(n))

    // probed by every micro-batch — materialize the corpus index ONCE,
    // bucketed by the probe join key; bucket assignment is the same
    // kernel pair as the batch ivfTopKSized, so stream and batch land
    // vectors in identical buckets
    // tablePrefix namespaces the per-run index so concurrent serving
    // streams in one session can't clobber each other (round-6 ADVICE)
    val idxTable = s"${tablePrefix}_idx"
    Bucketing.writeBucketed(
      Similarity.vectors(corpus.filter(!isQuery))
        .withColumn("bucket", bucketCol)
        .select(col("vec_id").as("corpus_id"), col("e").as("ec"),
          col("nrm").as("nc"), col("bucket")),
      idxTable, IndexBuckets, "bucket")
    val corpusIndex = spark.table(idxTable)
    val incoming = TopicStream.fileStream(spark, embPath, maxFilesPerTrigger).filter(isQuery)

    val probed = Similarity.vectors(incoming)
      .withColumn("bucket", explode(probesCol))
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("nrm").as("nq"), col("bucket"))

    val scored = probed.join(corpusIndex, "bucket")
      .withColumn("cos",
        expr("graft_dot(eq, ec)") / (col("nq") * col("nc")))
      .select(col("query_id"), col("corpus_id"), col("cos"))

    val q = scored.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a query's candidates all land in its arrival batch → batch-local
        // dedup + rerank is the complete per-query top-k
        val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("corpus_id"))
        TopicStream.writeBatchIdempotent(
          batch.dropDuplicates("query_id", "corpus_id")
            .withColumn("rnk", row_number().over(w))
            .filter(col("rnk") <= k),
          batchId, outDir)
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }

  /** Streaming ANN serving over the COMPACT IVF-PQ index — the online
    * face of [[Similarity.ivfPqTopKSized]] for any `index`. The resident
    * index per corpus vector is (bucket, M PQ codes) ≈ 12 bytes; incoming query batches
    * probe buckets and score candidates from the codes alone, and only
    * each batch's k·refine shortlist touches the full vector table for
    * the exact rerank. Both static sides are materialized bucketed by
    * their join key — the code index by `bucket` (the per-trigger probe
    * join), the full-vector table by `corpus_id` (the per-batch
    * shortlist rerank join) — so neither is ever shuffled after the
    * one-time write. At scale the fat vectors live exactly like this:
    * a corpus_id-bucketed store fetched per-shortlist. Replay equals
    * batch ivfPqTopKSized with the same index exactly (gate-checked with
    * its oracle).
    */
  def ivfPqTopKStream(spark: SparkSession, embPath: String,
                      outDir: String, checkpointDir: String, k: Int = 10,
                      maxFilesPerTrigger: Option[Int] = None,
                      probes: Int = 8, refine: Int = 0,
                      tablePrefix: String = "graft_pq_stream",
                      index: Similarity.PqIndex = Similarity.PqIndex.Formula,
                      refineMul: Int = 1): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    // refine <= 0 derives the N-adaptive shortlist width (r14) — the
    // batch Sized row's ladder, so replay == batch at every scale; the
    // coarse books, probes and `index`'s codebooks come from the SHARED
    // Similarity.pqServing builder (batch and stream encode and score
    // with identical kernel constructions; every fit is deterministic, so
    // this face's books are bit-identical to the batch operator's). One
    // count sizes the ladders and the fitted index's sample.
    val n = corpus.count()
    // refineMul (r17b): the shortlist-boost dial the hq/m16 serving
    // points ride — multiplies the N-adaptive width, exactly as the
    // batch rows multiply sizedRefine
    val refineEff = (if (refine > 0) refine else Similarity.sizedRefine(n)) *
      refineMul
    val (bucketCol, probesCol, codeCol, scoreCol) = Similarity.pqServing(corpus, index,
      Similarity.sizedProbes(probes, n), Similarity.sizedNlist(n),
      Similarity.sizedKmFitModulus(n))
    val isQuery = col("vec_id") < 8

    val vecsTable = s"${tablePrefix}_vecs"
    Bucketing.writeBucketed(
      Similarity.vectors(corpus.filter(!isQuery))
        .select(col("vec_id").as("corpus_id"), col("e").as("ec"), col("nrm").as("nc")),
      vecsTable, IndexBuckets, "corpus_id")
    val idxTable = s"${tablePrefix}_idx"
    Bucketing.writeBucketed(
      Similarity.vectors(corpus.filter(!isQuery))
        .select(col("vec_id").as("corpus_id"),
          bucketCol.as("bucket"),
          codeCol.as("codes")),
      idxTable, IndexBuckets, "bucket")
    val corpusVecs = spark.table(vecsTable)
    val pqIndex = spark.table(idxTable)

    val incoming = TopicStream.fileStream(spark, embPath, maxFilesPerTrigger).filter(isQuery)
    val probed = Similarity.vectors(incoming)
      .withColumn("bucket", explode(probesCol))
      .select(col("vec_id").as("query_id"), col("e").as("eq"),
        col("nrm").as("nq"), col("bucket"))
    val approx = probed.join(pqIndex, "bucket")
      .select(col("query_id"), col("eq"), col("nq"), col("corpus_id"),
        scoreCol.as("acos"))

    val q = approx.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a query's candidates all arrive in its batch: shortlist the
        // top k·refine by PQ score, then exact-rerank ONLY those
        // against the full vectors — batch-local, complete per query
        val wa = Window.partitionBy(col("query_id"))
          .orderBy(col("acos").desc, col("corpus_id"))
        val short = batch
          .withColumn("srnk", row_number().over(wa))
          .filter(col("srnk") <= k * refineEff)
          .drop("srnk", "acos")
        val wr = Window.partitionBy(col("query_id"))
          .orderBy(col("cos").desc, col("corpus_id"))
        TopicStream.writeBatchIdempotent(
          short.join(corpusVecs, "corpus_id")
            .withColumn("cos", expr("graft_dot(eq, ec)") / (col("nq") * col("nc")))
            .withColumn("rnk", row_number().over(wr))
            .filter(col("rnk") <= k)
            .select(col("query_id"), col("corpus_id"), col("cos"), col("rnk")),
          batchId, outDir)
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }

  /** Streaming PQ-compact MIPS serving (r14) — the online face of
    * [[Similarity.mipsIvfPqTopK]], completing the augmented-space
    * serving story: the corpus' codes-resident index (coarse bucket +
    * 5 augmented-space PQ codes per vector) and the original-vector
    * rerank table are materialized ONCE, bucketed by their probe keys;
    * arriving queries grow the literal 0 augmentation, probe their
    * buckets statelessly, shortlist by the approximate augmented
    * cosine inside their batch (a query's candidates never span
    * batches), and exact-rerank ONLY the shortlist by RAW inner
    * product. Replay reproduces `sim_topk_mips_ivf_pq` exactly — the
    * oracle is shared verbatim. Kernels come from
    * [[Similarity.registerMipsServing]], so batch and stream can
    * never drift on codebooks.
    */
  def mipsIvfPqTopKStream(spark: SparkSession, embPath: String,
                          outDir: String, checkpointDir: String, k: Int = 10,
                          maxFilesPerTrigger: Option[Int] = None,
                          probes: Int = 8, refine: Int = 0,
                          tablePrefix: String = "graft_mips_pq_stream"): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    // refine <= 0 derives the N-adaptive shortlist width (r14)
    val refineEff =
      if (refine > 0) refine else Similarity.sizedRefine(corpus.count())
    val isQuery = col("vec_id") < 8
    Similarity.registerMipsServing(corpus, probes)

    // M = the corpus max norm (one-row driver maximum, the batch op's
    // sanctioned collect) — fixed at index-build time, exactly the
    // deployment contract (a served index is built against ITS corpus)
    val m = Similarity.vectors(corpus.filter(!isQuery))
      .agg(max(col("nrm"))).head().getDouble(0)
    val aug = concat(col("e"),
      array(sqrt(lit(m) * lit(m) - col("nrm") * col("nrm"))))

    val vecsTable = s"${tablePrefix}_vecs"
    Bucketing.writeBucketed(
      Similarity.vectors(corpus.filter(!isQuery))
        .select(col("vec_id").as("corpus_id"), col("e").as("ec")),
      vecsTable, IndexBuckets, "corpus_id")
    val idxTable = s"${tablePrefix}_idx"
    Bucketing.writeBucketed(
      Similarity.vectors(corpus.filter(!isQuery))
        .withColumn("ea", aug)
        .select(col("vec_id").as("corpus_id"),
          call_function("graft_mips_bucket", col("ea")).as("bucket"),
          call_function("graft_mips_pq_code", col("ea")).as("codes")),
      idxTable, IndexBuckets, "bucket")
    val corpusVecs = spark.table(vecsTable)
    val pqIndex = spark.table(idxTable)

    val incoming = TopicStream.fileStream(spark, embPath, maxFilesPerTrigger).filter(isQuery)
    val probed = Similarity.vectors(incoming)
      .withColumn("eqa", concat(col("e"), array(lit(0.0))))
      .select(col("vec_id").as("query_id"), col("e").as("eq"), col("eqa"),
        explode(call_function(s"graft_mips_probes_$probes", col("eqa"))).as("bucket"))
    // candidate rows stay NARROW (query_id, eq-free, corpus_id, acos):
    // carrying the 64-double query vector on every candidate-keyed row
    // through the pre-shortlist window exchange is the fat-payload
    // anti-pattern the batch twin avoids — eq is re-joined onto the
    // k·refine shortlist only, inside foreachBatch (r14 ADVICE). The
    // raw query vector still rides each row into the probe join (it
    // arrived with the query), but is dropped before anything
    // candidate-sized shuffles.
    val approx = probed.join(pqIndex, "bucket")
      .select(col("query_id"), col("eq"), col("corpus_id"),
        call_function("graft_mips_pq_score",
          col("eqa"), col("bucket"), col("codes")).as("acos"))

    val q = approx.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // a query's candidates all arrive in its batch: PQ shortlist,
        // then the exact RAW-ip rerank of only the shortlist. The
        // per-batch query-vector table is distilled FIRST (map-side
        // partial first() — the exchange carries one row per query per
        // map partition, never the candidate set) so the shortlist
        // window shuffles eq-free rows; eq re-joins post-shortlist as
        // a broadcast, the batch twin's plan shape.
        val queryVecs = batch.select(col("query_id"), col("eq"))
          .dropDuplicates("query_id")
        val wa = Window.partitionBy(col("query_id"))
          .orderBy(col("acos").desc, col("corpus_id"))
        val short = batch.drop("eq")
          .withColumn("srnk", row_number().over(wa))
          .filter(col("srnk") <= k * refineEff)
          .drop("srnk", "acos")
        val wr = Window.partitionBy(col("query_id"))
          .orderBy(col("ip").desc, col("corpus_id"))
        TopicStream.writeBatchIdempotent(
          short.join(corpusVecs, "corpus_id")
            .join(broadcast(queryVecs), "query_id")
            .withColumn("ip", expr("graft_dot(eq, ec)"))
            .withColumn("rnk", row_number().over(wr))
            .filter(col("rnk") <= k)
            .select(col("query_id"), col("corpus_id"), col("ip"), col("rnk")),
          batchId, outDir)
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }

  /** ONLINE semantic snapshot delta — the streaming twin of
    * [[Similarity.semanticDelta]] (the embedding-space face of
    * DedupStream.snapshotDeltaStream): new-shard vectors arrive as a
    * stream and each micro-batch classifies against the BASE corpus's
    * nearest-centroid bucket assignment, materialized ONCE as a table
    * bucketed by `bucket` — zero static-side Exchange per trigger, the
    * index shuffle paid at write time. The stream side is stateless
    * (bucket kernel + stream-static LEFT join, so candidate-less
    * vectors survive as novel); the n_cand/best-match window runs in
    * foreachBatch, complete per batch because a vector's candidates
    * never span batches. Replay equals the batch operator exactly
    * (embedding_delta oracle verbatim).
    */
  /** Streaming QUANTIZATION-COLLISION dedup (`stream_pq_dedup`, r15) —
    * the online face of [[Similarity.pqCodeDedup]], in the
    * misAssignStream serving shape: the corpus code-group table
    * ((bucket, codes) → n_same, min-id keeper) is fitted ONCE offline
    * and materialized bucketed by `bucket`; every arriving micro-batch
    * of vectors encodes STATELESSLY (the same fused bucket/code
    * kernels) and probes the group table — zero cross-batch state,
    * batchId-idempotent sink, and a full replay equals the batch
    * operator row for row, so the ORACLE IS SHARED VERBATIM. At 100 TB
    * this is the online dup-check a PQ deployment runs against its own
    * index: per-trigger cost is the batch's own rows × one bucketed
    * lookup, never the corpus.
    */
  def pqCodeDedupStream(spark: SparkSession, embPath: String,
                        outDir: String, checkpointDir: String,
                        maxFilesPerTrigger: Option[Int] = None,
                        splits: Int = 3,
                        tablePrefix: String = "graft_pq_dedup_stream"): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    val groupsTable = s"${tablePrefix}_groups"
    Bucketing.writeBucketed(
      Similarity.vectors(corpus).filter(col("nrm") > 0)
        .select(col("vec_id"),
          expr("graft_ivf_bucket(e)").as("bucket"),
          expr("graft_pq_code(e)").as("codes"))
        .groupBy(col("bucket"), col("codes"))
        .agg(count(lit(1)).as("n_same"), min(col("vec_id")).as("rep_id")),
      groupsTable, IndexBuckets, "bucket")

    val splitDir = TopicStream.orderedSplitInput(spark, embPath, splits,
      s"$outDir-input", idCol = "vec_id")
    val incoming = TopicStream.fileStream(spark, splitDir,
      maxFilesPerTrigger = maxFilesPerTrigger.orElse(Some(1)))
    val q = incoming.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val coded = Similarity.vectors(batch).filter(col("nrm") > 0)
          .select(col("vec_id"),
            expr("graft_ivf_bucket(e)").as("bucket"),
            expr("graft_pq_code(e)").as("codes"))
        // the group row always exists (the batch's vectors are corpus
        // members whose codes the fit saw) — an inner join by identity
        TopicStream.writeBatchIdempotent(
          coded.join(spark.table(groupsTable), Seq("bucket", "codes"))
            .select(col("vec_id"), col("bucket"),
              array_join(col("codes"), ",").as("codes_str"),
              col("n_same"), col("rep_id"),
              (col("vec_id") === col("rep_id")).as("keep")),
          batchId, outDir)
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }

  def semanticDeltaStream(spark: SparkSession, embPath: String,
                          outDir: String, checkpointDir: String,
                          tau: Double = 0.4,
                          maxFilesPerTrigger: Option[Int] = None,
                          tablePrefix: String = "graft_semdelta"): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    val isNew = col("vec_id") % 5 === 4

    val idxTable = s"${tablePrefix}_idx"
    Bucketing.writeBucketed(
      Similarity.vectors(corpus.filter(!isNew))
        .withColumn("bucket", expr("graft_ivf_bucket(e)"))
        .select(col("vec_id").as("base_id"), col("e").as("eb"),
          col("nrm").as("nb"), col("bucket")),
      idxTable, IndexBuckets, "bucket")
    val baseIndex = spark.table(idxTable)

    val incoming = TopicStream.fileStream(spark, embPath, maxFilesPerTrigger).filter(isNew)
    val probed = Similarity.vectors(incoming)
      .withColumn("bucket", expr("graft_ivf_bucket(e)"))
      .select(col("vec_id"), col("e").as("en"), col("nrm").as("nn"), col("bucket"))
    // LEFT join keeps candidate-less vectors in the stream — they are
    // the novel arm, not dropped rows
    val scored = probed.join(baseIndex, Seq("bucket"), "left_outer")
      .withColumn("cos", expr("graft_dot(en, eb)") / (col("nn") * col("nb")))
      .select(col("vec_id"), col("base_id"), col("cos"))

    val q = scored.writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val w = Window.partitionBy(col("vec_id"))
        val wr = w.orderBy(col("cos").desc_nulls_last, col("base_id"))
        TopicStream.writeBatchIdempotent(
          batch
            .withColumn("n_cand", count(col("base_id")).over(w))
            .withColumn("rk", row_number().over(wr))
            .filter(col("rk") === 1)
            .select(col("vec_id"), col("n_cand"),
              col("base_id").as("best_base"), col("cos").as("best_cos"),
              when(col("cos") >= tau, "near_dup").otherwise("novel")
                .as("verdict")),
          batchId, outDir)
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }

  /** One shard's classification against the CURRENT base assignment
    * table — the whole probe runs inside foreachBatch so each batch
    * reads the table state its predecessors advanced. Candidates are
    * deduplicated on (vec_id, base_id) before the window: a replayed
    * append can only duplicate identical assignment rows, and the dedup
    * makes duplicated index rows unable to change n_cand or the best
    * match (the set-shaped-probe rule of the text-side advance).
    *
    * Same-batch replay guard (round-11 ADVICE): a batch retried AFTER
    * its own novel rows were appended (driver retry between append and
    * checkpoint commit) would otherwise find itself in the table —
    * every vector matching itself at cos 1.0, flipping 'novel' to
    * 'near_dup of itself'. The index is anti-joined against the batch's
    * own vec_ids before probing: a no-op on the first run, and on a
    * replay it removes exactly the batch's own appended rows (including
    * same-batch siblings the original classify-then-append order never
    * saw), so replay == first run. The batch side broadcasts; the
    * bucketed static scan stays Exchange-free.
    */
  private[graft] def classifySemanticBatch(spark: SparkSession, batch: DataFrame,
                                    tau: Double, idxTable: String): DataFrame = {
    val ownIds = batch.select(col("vec_id").as("own_id"))
    val idx = spark.table(idxTable).join(broadcast(ownIds),
      col("base_id") === col("own_id"), "left_anti")
    val probed = Similarity.vectors(batch)
      .withColumn("bucket", expr("graft_ivf_bucket(e)"))
      .select(col("vec_id"), col("e").as("en"), col("nrm").as("nn"), col("bucket"))
    val w = Window.partitionBy(col("vec_id"))
    val wr = w.orderBy(col("cos").desc_nulls_last, col("base_id"))
    probed.join(idx, Seq("bucket"), "left_outer")
      .withColumn("cos", expr("graft_dot(en, eb)") / (col("nn") * col("nb")))
      .select(col("vec_id"), col("base_id"), col("cos"))
      .dropDuplicates("vec_id", "base_id")
      .withColumn("n_cand", count(col("base_id")).over(w))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("n_cand"),
        col("base_id").as("best_base"), col("cos").as("best_cos"),
        when(col("cos") >= tau, "near_dup").otherwise("novel").as("verdict"))
  }

  /** The base vectors' bucket-assignment rows for `df` — the ONE index
    * the semantic delta maintains (vs the text delta's four).
    */
  private[graft] def assignmentRows(df: DataFrame): DataFrame =
    Similarity.vectors(df)
      .withColumn("bucket", expr("graft_ivf_bucket(e)"))
      .select(col("vec_id").as("base_id"), col("e").as("eb"),
        col("nrm").as("nb"), col("bucket"))

  /** Semantic delta with BASE-INDEX MAINTENANCE — the embedding-space
    * face of [[DedupStream.snapshotDeltaAdvancingStream]]: shard k
    * classifies against base ∪ novel(shards < k), because each
    * micro-batch appends its NOVEL vectors' assignment rows to the
    * bucketed table before the next shard arrives. The advance is
    * derived from the WRITTEN classification (one evaluation — sink and
    * advance can never disagree) and costs the shard's novel rows, never
    * the accumulated corpus. Output adds the shard id (vec_id DIV chunk,
    * the orderedSplitInput offset-range rule — data-derived, so a
    * re-batched replay cannot mislabel). The multi-snapshot replay
    * equals the SEQUENTIAL batch recurrence (spec'd; the registered
    * `stream_embedding_delta_advance` oracle unrolls it in SQL).
    */
  def semanticDeltaAdvancingStream(spark: SparkSession, embPath: String,
                                   outDir: String, checkpointDir: String,
                                   splits: Int = 3,
                                   tau: Double = 0.4,
                                   tablePrefix: String = "graft_semdelta_adv"): DataFrame = {
    TopicStream.deleteRecursively(Paths.get(outDir))
    Files.createDirectories(Paths.get(outDir))
    val corpus = spark.read.parquet(embPath)
    val isNew = col("vec_id") % 5 === 4
    val chunk = corpus.agg(max(col("vec_id"))).head().getLong(0) / splits + 1
    val idxTable = s"${tablePrefix}_idx"
    Bucketing.writeBucketed(assignmentRows(corpus.filter(!isNew)),
      idxTable, IndexBuckets, "bucket")
    val splitDir = TopicStream.orderedSplitInput(spark, embPath, splits,
      s"$outDir-input", idCol = "vec_id")
    val incoming = TopicStream.fileStream(spark, splitDir,
      maxFilesPerTrigger = Some(1))
    val q = incoming.filter(isNew).writeStream
      .outputMode(OutputMode.Append)
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = batch.persist()
        // refresh on THIS session: foreachBatch frames live in a
        // micro-batch session clone with its own relation cache — the
        // append refreshed the clone's catalog, not the one
        // classifySemanticBatch reads through (the text-advance rule)
        spark.catalog.refreshTable(idxTable)
        TopicStream.writeBatchIdempotent(
          classifySemanticBatch(spark, b, tau, idxTable)
            .withColumn("shard", expr(s"vec_id DIV $chunk")),
          batchId, outDir)
        // advance off the WRITTEN classification
        val novel = b.join(
          spark.read.parquet(s"$outDir/batch_$batchId")
            .filter(col("verdict") === "novel").select(col("vec_id")),
          "vec_id")
        Bucketing.appendBucketed(assignmentRows(novel), idxTable,
          IndexBuckets, "bucket")
        b.unpersist()
        ()
      }
      .start()
    TopicStream.awaitAndCapturePlan(q)
    TopicStream.readBatchedOutput(spark, outDir)
  }
}
