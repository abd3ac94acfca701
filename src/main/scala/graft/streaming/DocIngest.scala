package graft.streaming

import graft.pipeline.{Dedup, TextAnalysis}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/**
 * End-to-end streaming DOCUMENT ingest — the corpus-side sibling of the
 * metrics [[IngestJob]]: a file-source stream of document batches flows
 * through content-hash dedup-on-arrival ([[Dedup.exactStreaming]],
 * first-arrival-wins) into an append-only parquet lake, so every
 * downstream corpus stage reads an already-exact-deduped store.
 *
 * The dedup state (one entry per distinct content hash) lives in the
 * Spark state store under `ckptDir`: a restarted job keeps rejecting
 * copies of content admitted in earlier runs — which is what makes
 * dedup-on-ingest trustworthy across a fleet of incremental crawls. At
 * 100 TB/day bound the state with the watermarked variant
 * (`Dedup.exactStreaming(docs, eventTimeCol = Some(...))`) — copies
 * arriving within the delay still collapse, older state is evicted.
 */
object DocIngest {

  /** Start the ingest over `srcDir` (parquet files of `schema`), writing
   *  admitted documents to `outDir`. `Trigger.AvailableNow` drains
   *  what's present and stops — call again as new batches land. */
  def run(spark: SparkSession, srcDir: String, outDir: String, ckptDir: String,
      schema: StructType): StreamingQuery =
    Dedup.exactStreaming(spark.readStream.schema(schema).parquet(srcDir))
      .writeStream
      .option("checkpointLocation", ckptDir)
      .format("parquet").option("path", outDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** The FULL document-pipeline ingest: PII scrub → quality gate →
   *  dedup-on-REDACTED-content, all at arrival time. Ordering is the
   *  point: scrubbing BEFORE hashing makes two crawls of the same page
   *  differing only in injected PII (session ids, tracking emails)
   *  collapse to one admitted document — dedup keyed on raw content
   *  would admit both. Scrub and gate are stateless per-row columns
   *  ([[TextAnalysis.redactedText]]/[[TextAnalysis.keepExpr]] — the
   *  latter is the batch quality gate's bit-identical per-row
   *  restatement), so the only streaming state remains the dedup hash
   *  set in the checkpoint, exactly as [[run]].
   *
   *  Within one micro-batch `dropDuplicates` keeps an arbitrary member
   *  of each content group, so downstream contracts must key on
   *  content-determined columns (the declared `q_stream_doc_pipeline`
   *  exposes only those); across batches/restarts first-arrival-wins
   *  deterministically via the state store. */
  def runPipeline(spark: SparkSession, srcDir: String, outDir: String,
      ckptDir: String, schema: StructType): StreamingQuery = {
    val scrubbed = spark.readStream.schema(schema).parquet(srcDir)
      .withColumn("text", TextAnalysis.redactedText(col("text")))
      .filter(TextAnalysis.keepExpr(col("text")))
    Dedup.exactStreaming(scrubbed)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .format("parquet").option("path", outDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** [[runPipeline]] plus decontamination against a PRIOR corpus: a new
   *  crawl's documents are also rejected when their (scrubbed,
   *  normalized) content already exists in `reference` — the streaming
   *  face of [[Dedup.dedupAgainstReference]], so an incremental crawl
   *  admits only content the last snapshot didn't have.
   *
   *  The reference check is two-tier, exactly like the batch operator:
   *  a bloom over the reference hashes gates every arrival statelessly
   *  (rows the bloom excludes are DEFINITELY new — no join, no state),
   *  and only the might-contain tail pays a per-batch stream-static
   *  left join against the reference hash column for exact confirmation.
   *  Bloom false positives therefore cost join rows, never documents.
   *
   *  Scale note, honest version: the confirm join re-reads the
   *  reference's hash column each micro-batch (column-pruned parquet —
   *  the price of EXACT semantics). A 100 TB-reference deployment that
   *  can't afford per-batch reference scans sets `confirmExact = false`
   *  and accepts an fpp-bounded false-drop rate (the Lee et al. 2022
   *  dedup posture), or reconciles drops offline; correctness-vs-oracle
   *  here keeps the exact tier on.
   *
   *  `expectedItems` sizes the bloom (Spark's default 3% fpp ≈ 0.9
   *  bytes/item serialized) — it rides every task binary as a literal,
   *  so size it to the reference, don't over-provision. */
  def runPipelineDecontam(spark: SparkSession, srcDir: String, outDir: String,
      ckptDir: String, schema: StructType, reference: DataFrame,
      expectedItems: Long = 1 << 20, confirmExact: Boolean = true): StreamingQuery = {
    val refHash = reference
      .select(md5(Dedup.normalized(col("text"))).as("content_hash"))
    val bloom = refHash
      .agg(call_function("graft_bloom_agg",
        xxhash64(col("content_hash")), lit(expectedItems)).as("bf"))
      .head.getAs[Array[Byte]]("bf")
    val scrubbed = spark.readStream.schema(schema).parquet(srcDir)
      .withColumn("text", TextAnalysis.redactedText(col("text")))
      .filter(TextAnalysis.keepExpr(col("text")))
      .withColumn("content_hash", md5(Dedup.normalized(col("text"))))
    val mightBe = call_function("graft_might_contain",
      lit(bloom), xxhash64(col("content_hash")))
    val fresh =
      if (bloom == null) scrubbed // empty reference: nothing to reject
      else if (!confirmExact) scrubbed.filter(!mightBe)
      else scrubbed.filter(!mightBe).unionByName(
        scrubbed.filter(mightBe)
          .join(refHash.withColumn("__in_ref", lit(true)),
            Seq("content_hash"), "left_outer")
          .filter(col("__in_ref").isNull).drop("__in_ref"))
    Dedup.exactStreaming(fresh)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .format("parquet").option("path", outDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** NEAR-duplicate admission on ingest — the streaming face of
   *  [[Dedup.nearDuplicatesAgainstReference]]: each arriving document
   *  is MinHash-signed and banded, its bands equi-join the PRIOR
   *  snapshot's band-table index, and any doc whose estimated Jaccard
   *  against some reference doc clears `threshold` is rejected; the
   *  rest append to the lake.
   *
   *  The reference's signatures and band table are computed ONCE and
   *  materialized under `workDir` before the stream starts — at 100 TB
   *  the previous snapshot's band index is a stored artifact, not a
   *  per-batch recomputation. Each micro-batch then pays: signature
   *  aggregation over ITSELF (batch-local, map-side combining), then
   *  the batch operator's own new×reference join and verify
   *  ([[Dedup.referencePairs]], uncapped) against the stored index —
   *  no new×new, no ref×ref. Admitted docs are NOT near-deduped against
   *  each other (within-crawl dedup is the batch pipeline's job), so
   *  admission is a pure per-document function of (doc, reference) and
   *  the streamed lake equals the batch restatement whatever the
   *  file/batch split — the property the declared query's oracle pins.
   *
   *  Sink: batch-keyed subdirectory + overwrite (the [[EmbedIngest]]
   *  exactly-once pattern) — a batch retried after a crash between
   *  write and checkpoint commit replaces its own directory instead of
   *  appending duplicates. */
  def runPipelineNearDedup(spark: SparkSession, srcDir: String, outDir: String,
      ckptDir: String, workDir: String, schema: StructType, reference: DataFrame,
      threshold: Double, maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    Dedup.signatures(reference).write.mode("overwrite").parquet(s"$workDir/ref_sigs")
    val sigsRef = spark.read.parquet(s"$workDir/ref_sigs")
    Dedup.bands(sigsRef)
      .select(col("doc_id").as("ref_id"), col("band"), col("key"))
      .write.mode("overwrite").parquet(s"$workDir/ref_bands")
    val bandsRef = spark.read.parquet(s"$workDir/ref_bands")
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    reader.parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sigsNew = Dedup.signatures(batch).persist()
        val dup = Dedup.referencePairs(sigsNew, sigsRef, bandsRef, threshold, Int.MaxValue)
          .select(col("new_id").as("doc_id")).distinct()
        batch.join(dup, Seq("doc_id"), "left_anti")
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        sigsNew.unpersist()
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Ingest-MAINTAINED corpus-drift statistics: each micro-batch appends
   *  its per-(source, token) PARTIAL counts to a log lake — the
   *  log-structured-aggregate posture of the metrics side's rollup
   *  flush: counts ADD, so `sum` over the log at read time equals a
   *  batch recount over all documents EXACTLY, whatever the micro-batch
   *  split. A serving query feeds the summed log to
   *  [[graft.pipeline.TextAnalysis.unigramDriftFromCounts]] — the drift
   *  monitor runs continuously without ever re-reading the corpus. Each
   *  batch's write is one aggregated frame (distinct (source, token)
   *  pairs of THAT batch, not occurrences); compact the log like any
   *  other maintained lake when generations accumulate. */
  def runTokenCounts(spark: SparkSession, srcDir: String, outDir: String,
      ckptDir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None,
      compactEvery: Option[Int] = None): StreamingQuery = {
    require(compactEvery.forall(_ >= 1),
      s"compactEvery must be >= 1 when set, got $compactEvery")
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    reader.parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.pipeline.TextAnalysis.sourceTokenCounts(batch)
          .write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        // in-band maintenance, the IngestJob.Config.compactEvery posture:
        // fold closed batch partials so the drift read's log stays bounded
        compactEvery.foreach { n =>
          if (batchId > 0 && batchId % n == 0)
            StoreCompaction.compactCounts(batch.sparkSession, outDir,
              Seq("source", "tk")): Unit
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** Ingest-maintained PMI statistics: each micro-batch appends its
   *  partial unigram and adjacent-pair counts (bigrams never span
   *  documents, so per-batch partials sum to the corpus counts
   *  exactly); the read side serves collocations through
   *  [[graft.pipeline.TextAnalysis.pmiFromCounts]] without ever
   *  re-reading a document — the runTokenCounts/drift contract
   *  extended to pair statistics. Per-batch dirs keep the replay-safe
   *  overwrite-by-path posture. */
  def runPairCounts(spark: SparkSession, srcDir: String, outDir: String,
      ckptDir: String, schema: StructType,
      maxFilesPerTrigger: Option[Int] = None,
      compactEvery: Option[Int] = None): StreamingQuery = {
    require(compactEvery.forall(_ >= 1),
      s"compactEvery must be >= 1 when set, got $compactEvery")
    val reader0 = spark.readStream.schema(schema)
    val reader = maxFilesPerTrigger
      .fold(reader0)(n => reader0.option("maxFilesPerTrigger", n))
    reader.parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.pipeline.TextAnalysis.unigramCounts(batch)
          .write.mode("overwrite").parquet(s"$outDir/uni/batch_id=$batchId")
        graft.pipeline.TextAnalysis.bigramCounts(batch)
          .write.mode("overwrite").parquet(s"$outDir/bg/batch_id=$batchId")
        compactEvery.foreach { n =>
          if (batchId > 0 && batchId % n == 0) {
            StoreCompaction.compactCounts(batch.sparkSession, s"$outDir/uni", Seq("tk"))
            StoreCompaction.compactCounts(batch.sparkSession, s"$outDir/bg",
              Seq("w1", "w2")): Unit
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
