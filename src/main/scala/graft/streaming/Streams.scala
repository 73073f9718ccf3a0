package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, OutputMode, StatefulProcessor, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

import graft.ops.{CmsSketch, DeltaProtocol, HllStore, IvfPqIndex, LshIndex, MergeableStore, QuantileSketch, Text}

/** Streaming transforms beyond the reference's executed surface
  * (README.md never windows or watermarks — its only state is source
  * offsets, SURVEY.md §2.3 note). These are the standard event-time
  * operators a production CDC/analytics stream needs, composed the
  * Structured-Streaming-native way so state stays bounded:
  *
  *  - watermark + tumbling/sliding window aggregation (late data
  *    dropped after the horizon; state evicted per window);
  *  - watermarked stream deduplication (exact-once per key within the
  *    horizon — the streaming twin of q_dedup_exact);
  *  - sessionization via flatMapGroupsWithState (custom state machine,
  *    event-time timeout — the one place mapGroups-state genuinely
  *    beats built-ins).
  *
  * All take/return DataFrames so they compose with the CDC ingest
  * (graft.cdc.Ingest) on either side.
  */
object Streams {

  /** Tumbling event-time aggregation: count + sum(value) per
    * (window, key), late rows beyond `delay` dropped. State per open
    * window only — at 100 TB/day the state size is windows×keys, not
    * rows. */
  /** Run `body` with the RocksDB state store provider active — the
    * production choice for stateful streams whose key cardinality
    * outgrows executor heap (sessionization over all users, stream-
    * stream join click state): state lives off-heap in RocksDB with
    * incremental checkpointing, instead of the default HDFS-backed
    * provider's in-memory HashMap per partition. Spark bundles the
    * provider + rocksdbjni; this flips the session conf for the
    * duration of a fixture build and restores it after (the conf is
    * read at streaming-query start, so it must wrap `start()`).
    * SCALE.md carries the measured state-dir footprint at 1× and 10×
    * key cardinality. */
  def withRocksDbState[A](s: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }

  def tumblingAgg(events: DataFrame, tsCol: String, keyCol: String,
                  window_ : String = "1 hour", delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), window_), col(keyCol))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("win_start"), col(keyCol), col("n"), col("total"))

  /** Sliding window variant (overlapping windows; state ∝ windows/slide
    * factor). */
  def slidingAgg(events: DataFrame, tsCol: String, keyCol: String,
                 window_ : String = "1 hour", slide: String = "30 minutes",
                 delay: String = "10 minutes"): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .groupBy(window(col(tsCol), window_, slide), col(keyCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col(keyCol), col("n"))

  /** Stream-static enrich: join the event stream against a batch
    * dimension table — the standard CDC-enrichment shape (stream side
    * stays streaming, static side is re-read per micro-batch, so a
    * dimension refresh is picked up without restarting the query). The
    * static side broadcasts when small; no watermark is needed because
    * the static side never holds state. */
  def enrich(events: DataFrame, dim: DataFrame, keyCol: String,
             broadcastDim: Boolean = true): DataFrame =
    events.join(
      if (broadcastDim) org.apache.spark.sql.functions.broadcast(dim) else dim,
      Seq(keyCol), "left")

  /** Watermarked exact dedup on key columns: emits the first arrival of
    * each key, drops re-arrivals within the watermark horizon, and
    * evicts state past it (unbounded dedup state is the classic
    * streaming OOM). */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, delay: String,
                           keys: String*): DataFrame =
    events
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  /** Streaming DECONTAMINATION gate: drop every incoming document that
    * shares any 5-shingle with the benchmark/eval set, represented as a
    * bloom sketch (graft.functions.Bloom) built ONCE batch-side. The
    * gate is a pure scan predicate — stateless, no shuffle, no join;
    * the sketch rides the plan as a literal, so each executor checks
    * locally. Bloom has no false negatives: no contaminated doc can
    * land, ever; false positives only over-drop at a rate set by the
    * sketch size. A null/empty text yields no shingles and passes the
    * gate (coalesce) — matching the batch twin q_decontaminate_bloom
    * and its NOT-EXISTS oracle, which keep such docs. This is the
    * ingest-time twin of q_decontaminate_bloom and composes with
    * [[nearDupIngest]] (decontaminate, then dedup). */
  def decontaminatedIngest(docs: DataFrame, evalBloom: Array[Byte], outDir: String,
                           checkpointDir: String): StreamingQuery = {
    import graft.ops.Text
    docs
      .withColumn("_sh", array_distinct(Text.shingles(Text.tokens(col("text")), 5)))
      .filter(coalesce(!exists(col("_sh"),
        x => graft.functions.Bloom.mightContain(evalBloom, x)), lit(true)))
      .drop("_sh")
      .writeStream.format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode("append")
      .start()
  }

  /** Streaming near-duplicate gate over a persisted LSH index
    * ([[graft.ops.LshIndex]]) — the training-data ingest loop run as a
    * Structured Streaming pipeline: documents land in micro-batches,
    * and each batch keeps only what the corpus doesn't already have.
    * Per batch, under the index's delta protocol:
    *
    *  1. probe the index for near-dups of the batch (`minJac` exact
    *     Jaccard within shared-band candidates) — cost ∝ batch bands +
    *     touched-bucket bytes, never corpus bytes;
    *  2. land the SURVIVORS in `outDir` partitioned by `_batch_id`
    *     (dynamic partition overwrite — a replayed batch overwrites
    *     its own partition);
    *  3. append the survivors-as-landed (read back from `outDir`) as
    *     index delta `batchId`, so the corpus and its index stay in
    *     lockstep and later batches dedup against everything kept so
    *     far.
    *
    * Exactly-once by the delta marker: a replayed batch whose delta is
    * committed is a full no-op (its survivors landed before the marker
    * by step order); a crash between steps 2 and 3 replays into an
    * unchanged index and recomputes identical survivors over its own
    * partition. Within-batch near-dups land together (batch-vs-corpus
    * semantics, like two files in one commit) — run q_dedup_minhash
    * over the landed corpus for an intra-corpus pass.
    *
    * Bootstrap with [[graft.ops.LshIndex.buildEmpty]] so batch 0 goes
    * through the same path as every other batch. */
  def nearDupIngest(docs: DataFrame, idxDir: String, outDir: String,
                    checkpointDir: String, minJac: Double = 0.5): StreamingQuery =
    startBatches(docs, checkpointDir)(dedupBatch(_, _, idxDir, outDir, minJac))

  /** One [[nearDupIngest]] transaction: probe → land survivors → commit
    * the delta marker. */
  def dedupBatch(batch: DataFrame, batchId: Long, idxDir: String,
                 outDir: String, minJac: Double = 0.5): Boolean =
    exactlyOnce(batch, batchId, idxDir,
      s"no committed LSH index at $idxDir — LshIndex.buildEmpty first") { s =>
      val dups = LshIndex.matches(s, idxDir, batch, minJac)
        .select(col("new_id").as("doc_id")).distinct()
      landAndAppend(batch.join(dups, Seq("doc_id"), "left_anti"),
        batchId, outDir, df => LshIndex.append(s, idxDir, df, batchId))
    }

  /** The one starter every store maintainer below uses: `body` runs
    * once per micro-batch of `input` under a checkpointed
    * `foreachBatch`. */
  private def startBatches(input: DataFrame, checkpointDir: String)(
      body: (DataFrame, Long) => Boolean): StreamingQuery =
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        body(batch, batchId)
        ()
      }
      .start()

  /** The one exactly-once transaction every store maintainer below
    * runs — the `*Batch` methods, each callable directly (batch-mode
    * backfill, crash-protocol tests). In order: `recover` (the sketch
    * stores' crash-compact recovery — it must run BEFORE the existence
    * check: mid-compact `_INDEX` is down, and an exists-first restart
    * would wedge the stream permanently on a store the protocol
    * promises to heal, whose 'buildEmpty first' advice would destroy
    * the data); then a committed store is required (`missing` is the
    * error); then a committed `batchId` is a full replay no-op; else
    * `commit` lands the batch and commits its delta. A crash before
    * the marker replays into an unchanged store. Returns whether this
    * call committed the batch. */
  private def exactlyOnce(batch: DataFrame, batchId: Long, dir: String, missing: => String,
                          recover: (SparkSession, String) => Unit = (_, _) => ())(
                          commit: SparkSession => Unit): Boolean = {
    val s = batch.sparkSession
    recover(s, dir)
    require(DeltaProtocol.markerExists(s, dir), missing)
    if (DeltaProtocol.deltaIds(s, dir).contains(batchId)) false
    else { commit(s); true }
  }

  /** [[exactlyOnce]] for a maintained sketch store: recovery first,
    * then land the batch and append `rowsOf` the landed rows. */
  private def sketchBatch(store: MergeableStore[_], batch: DataFrame, batchId: Long,
                          idxDir: String, outDir: String, missing: => String)(
                          rowsOf: DataFrame => DataFrame): Boolean =
    exactlyOnce(batch, batchId, idxDir, missing, store.recover) { s =>
      landAndAppend(batch, batchId, outDir, df =>
        store.appendRecovered(s, idxDir, rowsOf(df), batchId))
    }

  /** The one land-then-append step the ingest transactions share:
    * write the batch's surviving rows into their `_batch_id` partition
    * (skipping the write entirely when there are none — the shared
    * empty-write rule, [[graft.ops.DeltaProtocol.writeBatchPartition]]:
    * a zero-row write to a fresh landing dir would wedge every later
    * read-back and replay), then append WHAT ACTUALLY LANDED (read
    * back from the sink) as the index delta so corpus and index stay
    * in lockstep. A row-less batch appends its empty frame, which the
    * index protocol records as an `empty`-marker delta — the replay
    * no-op. */
  private def landAndAppend(survivors: DataFrame, batchId: Long, outDir: String,
                            appendDelta: DataFrame => Unit): Unit = {
    val s = survivors.sparkSession
    if (DeltaProtocol.writeBatchPartition(survivors, batchId, outDir))
      appendDelta(s.read.parquet(outDir).filter(col("_batch_id") === batchId))
    else appendDelta(survivors)
  }

  /** Streaming ANN-index maintenance over a persisted IVF∘PQ index
    * ([[graft.ops.IvfPqIndex]]) — the embedding half of the ingest
    * loop: vector batches arrive continuously, and each one is encoded
    * under the index's FIXED centroids + codebook and appended as a
    * delta, so similarity serving stays fresh without ever re-encoding
    * the landed corpus. Per batch, under the delta protocol:
    *
    *  1. land the batch in `outDir` partitioned by `_batch_id`
    *     (dynamic partition overwrite — a replayed batch overwrites
    *     its own partition);
    *  2. append the batch-as-landed (read back from `outDir`) as index
    *     delta `batchId`: narrow assign + PQ encode of the batch only.
    *
    * Exactly-once by the delta marker (the [[nearDupIngest]] rule): a
    * replayed batch whose delta is committed is a full no-op; a crash
    * between steps replays into an unchanged index and rewrites an
    * identical partition. Bootstrap with [[graft.ops.IvfPqIndex.build]]
    * over the base corpus — the artifacts are immutable between
    * rebuilds, so every batch encodes against the same geometry the
    * serving path reads. */
  def annIngest(vecs: DataFrame, idxDir: String, outDir: String,
                checkpointDir: String, idCol: String = "vec_id",
                vecCol: String = "embedding"): StreamingQuery =
    startBatches(vecs, checkpointDir)(annBatch(_, _, idxDir, outDir, idCol, vecCol))

  /** One [[annIngest]] transaction. */
  def annBatch(batch: DataFrame, batchId: Long, idxDir: String,
               outDir: String, idCol: String = "vec_id",
               vecCol: String = "embedding"): Boolean =
    exactlyOnce(batch, batchId, idxDir,
      s"no committed IVF-PQ index at $idxDir — IvfPqIndex.build first") { s =>
      // drop("_batch_id") is a no-op on the empty-batch path (the
      // landing column is only added by the write)
      landAndAppend(batch, batchId, outDir,
        df => IvfPqIndex.append(s, idxDir, df.drop("_batch_id"),
          idCol, vecCol, batchId))
    }

  /** Streaming maintenance of the persisted duplicate-cluster
    * assignment ([[graft.ops.ClusterStore]]) — the clustering half of
    * the dedup ingest loop: documents land continuously, and each
    * micro-batch absorbs into the assignment through the condensed
    * label graph ([[graft.ops.Components.mergeBatch]] — batch-sized
    * merge work, bit-equal to a full recompute), then commits the
    * updated state as a versioned snapshot. An edge fires on the batch
    * where its later-arriving endpoint lands (both endpoints known, at
    * least one in the batch) — plus the LATE-PAIR sweep: a pair that
    * reaches the feed only after BOTH endpoints' batches committed
    * (out-of-order probe output) fires on the next batch, selected as
    * "both endpoints landed but their labels still differ". Already-
    * merged pairs never refire (labels equal), so the effect stays
    * exactly-once without persisting an applied-pair set; an empty
    * batch flushes pending late pairs. `pairsDir` stands in for the
    * near-dup pair feed the LSH probe produces online
    * ([[nearDupIngest]] demonstrates that half); at 100 TB the probe
    * output IS this feed and the pair table never materializes.
    * Exactly-once by the version marker: a committed batch is a replay
    * no-op, a crash between the snapshot write and the marker replays
    * into an identical snapshot off the unchanged previous version. */
  def clusterIngest(docs: DataFrame, pairsDir: String, storeDir: String,
                    checkpointDir: String): StreamingQuery =
    startBatches(docs, checkpointDir)(clusterBatch(_, _, pairsDir, storeDir))

  /** One [[clusterIngest]] transaction. */
  def clusterBatch(batch: DataFrame, batchId: Long, pairsDir: String,
                   storeDir: String): Boolean =
    exactlyOnce(batch, batchId, storeDir,
      s"no committed cluster store at $storeDir — ClusterStore.buildEmpty first") { s =>
      val b = batch.select(col("doc_id").as("id")).distinct().localCheckpoint()
      val assigned = graft.ops.ClusterStore.read(s, storeDir) // (id, lab)
      val known = assigned.select(col("id")).union(b)
      val pairs = s.read.parquet(pairsDir)
      // both endpoints known (the later endpoint just arrived or is
      // already landed)
      val bothKnown = pairs
        .join(known.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
        .join(known.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi")
      // fires now: at least one endpoint in this batch ...
      val inBatch = bothKnown
        .join(b.withColumnRenamed("id", "id_a"), Seq("id_a"), "left_semi")
        .union(bothKnown
          .join(b.withColumnRenamed("id", "id_b"), Seq("id_b"), "left_semi"))
      // ... plus LATE pairs: both endpoints landed in earlier batches
      // (so no later batch contains either) but their labels still
      // differ — the pair reached the feed after both endpoints
      // committed and would otherwise be permanently dropped. Labels
      // equal ⇒ already merged (directly or transitively): skipping
      // keeps the applied-effect exactly-once with no applied-pair
      // state.
      val late = bothKnown
        .join(assigned.select(col("id").as("id_a"), col("lab").as("lab_a")), Seq("id_a"))
        .join(assigned.select(col("id").as("id_b"), col("lab").as("lab_b")), Seq("id_b"))
        .filter(col("lab_a") =!= col("lab_b"))
        .select(col("id_a"), col("id_b"))
      val fired = inBatch.select(col("id_a"), col("id_b")).union(late).distinct()
      graft.ops.ClusterStore.append(s, storeDir, b, fired, batchId)
    }

  /** Streaming maintenance of the persisted count-min sketch
    * ([[graft.ops.CmsSketch]]) — the frequency-statistics half of the
    * ingest loop: document batches land continuously, and each one
    * appends its OWN partial sketch (≤ d·w integer cells, one
    * map-side-combined aggregation over the batch's tokens) as a
    * delta. Because CMS union is cell-wise addition, the served sketch
    * over base+deltas equals the sketch of everything landed — corpus
    * statistics stay fresh without ever re-tokenizing landed data.
    * Exactly-once by the delta marker, same rules as [[nearDupIngest]].
    * Bootstrap with [[graft.ops.CmsSketch.buildEmpty]]. */
  def cmsIngest(docs: DataFrame, idxDir: String, outDir: String,
                checkpointDir: String): StreamingQuery =
    startBatches(docs, checkpointDir)(cmsBatch(_, _, idxDir, outDir))

  /** One [[cmsIngest]] transaction. */
  def cmsBatch(batch: DataFrame, batchId: Long, idxDir: String,
               outDir: String): Boolean =
    sketchBatch(CmsSketch, batch, batchId, idxDir, outDir,
      s"no committed CMS sketch at $idxDir — CmsSketch.buildEmpty first")(
      _.select(explode(Text.tokens(col("text"))).as("term")).filter(col("term") =!= ""))

  /** Streaming maintenance of the persisted quantile sketch
    * ([[graft.ops.QuantileSketch]]) — the rank-statistics member of
    * the maintained-sketch loop beside [[cmsIngest]]: each event batch
    * lands and appends its own per-event-type bottom-k sample as a
    * delta, so per-scope quantile serving stays fresh without ever
    * re-scanning landed events. The hash rank is xxhash64 of the full
    * row content, so batching is invisible: the delta-merged sketch is
    * multiset-EQUAL to the one-shot sketch of everything landed
    * (QuantileSketchSpec). Exactly-once by the delta marker, same
    * rules as [[cmsIngest]]. Bootstrap with
    * [[graft.ops.QuantileSketch.buildEmpty]]. */
  def quantileIngest(events: DataFrame, idxDir: String, outDir: String,
                     checkpointDir: String): StreamingQuery =
    startBatches(events, checkpointDir)(quantileBatch(_, _, idxDir, outDir))

  /** One [[quantileIngest]] transaction. */
  def quantileBatch(batch: DataFrame, batchId: Long, idxDir: String,
                    outDir: String): Boolean =
    sketchBatch(QuantileSketch, batch, batchId, idxDir, outDir,
      s"no committed quantile sketch at $idxDir — QuantileSketch.buildEmpty first")(
      sketchRowsOf)

  /** The (scope, v, h) frame a quantile-sketch append consumes, from
    * an events frame: scope = event_type, v = value, h = xxhash64 of
    * the full row content — ONE definition shared by the ingest path
    * and any one-shot comparison so the rank is batching-independent. */
  def sketchRowsOf(events: DataFrame): DataFrame =
    events.select(col("event_type").as("scope"),
      col("value").as("v"),
      xxhash64(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value")).as("h"))

  /** Streaming maintenance of the persisted HLL store
    * ([[graft.ops.HllStore]]) — the cardinality member of the
    * maintained-sketch loop beside [[cmsIngest]] and
    * [[quantileIngest]]: each event batch lands and appends its own
    * per-event-type HLL of the user ids as a delta. HLL union is
    * register-wise max, so the delta-unioned serve is BIT-EQUAL to the
    * one-shot sketch of everything landed — batching and duplicates
    * are invisible by the sketch algebra itself (HllStoreSpec).
    * Exactly-once by the delta marker, same rules as [[cmsIngest]].
    * Bootstrap with [[graft.ops.HllStore.buildEmpty]]. */
  def hllIngest(events: DataFrame, idxDir: String, outDir: String,
                checkpointDir: String): StreamingQuery =
    startBatches(events, checkpointDir)(hllBatch(_, _, idxDir, outDir))

  /** One [[hllIngest]] transaction. */
  def hllBatch(batch: DataFrame, batchId: Long, idxDir: String,
               outDir: String): Boolean =
    sketchBatch(HllStore, batch, batchId, idxDir, outDir,
      s"no committed HLL store at $idxDir — HllStore.buildEmpty first")(hllRowsOf)

  /** The (scope, key) frame an HLL append consumes, from an events
    * frame: scope = event_type, key = user_id — ONE definition shared
    * by the ingest path and any one-shot comparison. */
  def hllRowsOf(events: DataFrame): DataFrame =
    events.select(col("event_type").as("scope"), col("user_id").as("key"))

  /** Streaming maintenance of the persisted inverted text index
    * ([[graft.ops.TextIndex]]) — the retrieval half of the ingest
    * loop: document batches land continuously, and each one is
    * tokenized and aggregated ONCE into its own term-bucketed postings
    * segment, so BM25 serving stays fresh without ever re-tokenizing
    * the landed corpus. Exactly-once by the delta marker, same rules
    * as [[annIngest]]. Bootstrap with [[graft.ops.TextIndex.build]]
    * over the base corpus. */
  def textIngest(docs: DataFrame, idxDir: String, outDir: String,
                 checkpointDir: String, idCol: String = "doc_id",
                 textCol: String = "text"): StreamingQuery =
    startBatches(docs, checkpointDir)(textBatch(_, _, idxDir, outDir, idCol, textCol))

  /** One [[textIngest]] transaction. */
  def textBatch(batch: DataFrame, batchId: Long, idxDir: String,
                outDir: String, idCol: String = "doc_id",
                textCol: String = "text"): Boolean =
    exactlyOnce(batch, batchId, idxDir,
      s"no committed text index at $idxDir — TextIndex.build first") { s =>
      landAndAppend(batch, batchId, outDir, df =>
        graft.ops.TextIndex.append(s, idxDir, df.drop("_batch_id"),
          batchId, idCol, textCol))
    }

  /** Watermarked stream-stream INTERVAL join: each purchase matched to
    * every click by the same user with `c_ts` in
    * `[p_ts - window, p_ts]` (attribution-window semantics). Both
    * sides are watermarked and the join condition carries the
    * event-time band — the two things Structured Streaming needs to
    * bound join state: a buffered purchase is evicted once the click
    * side's watermark passes its band, and vice versa, so state is
    * O(rows inside the horizon), never O(stream). Inner matches emit
    * as soon as both rows have arrived — no watermark wait on the
    * output path. Inputs need (user_id, ts, event_id) columns.
    * Batch-equivalence pinned in StreamsSpec. */
  def intervalJoin(purchases: DataFrame, clicks: DataFrame,
                   windowMs: Long, delay: String = "10 minutes"): DataFrame = {
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
      col("event_id").as("p_id")).withWatermark("p_ts", delay)
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
      col("event_id").as("c_id")).withWatermark("c_ts", delay)
    p.join(c, col("p_user") === col("c_user") &&
      col("c_ts") <= col("p_ts") &&
      col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMs MILLISECONDS"))
      .select(col("p_user").as("user_id"), col("p_id"), col("c_id"),
        col("p_ts"), col("c_ts"))
  }

  /** LEFT OUTER variant of [[intervalJoin]]: same time-bounded
    * condition, but a purchase with NO click in its attribution window
    * emits once, null-padded. The outer result is WATERMARK-DRIVEN in
    * a way the inner one is not: an inner pair emits the moment the
    * later side arrives, but a null-pad can only emit once the click
    * watermark has passed the purchase's whole band (no matching click
    * can arrive anymore) — so outer rows surface one trigger later
    * than their inner siblings, and a tail purchase needs the
    * watermark pushed past its band (e.g. by later traffic or a
    * sentinel) before its null-pad appears. State bounds are identical
    * to the inner join's: both sides evict at their watermark minus
    * the band — O(horizon), never O(stream). */
  def intervalJoinOuter(purchases: DataFrame, clicks: DataFrame,
                        windowMs: Long, delay: String = "10 minutes"): DataFrame = {
    val p = purchases.select(col("user_id").as("p_user"), col("ts").as("p_ts"),
      col("event_id").as("p_id")).withWatermark("p_ts", delay)
    val c = clicks.select(col("user_id").as("c_user"), col("ts").as("c_ts"),
      col("event_id").as("c_id")).withWatermark("c_ts", delay)
    p.join(c, col("p_user") === col("c_user") &&
      col("c_ts") <= col("p_ts") &&
      col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMs MILLISECONDS"),
      "leftOuter")
      .select(col("p_user").as("user_id"), col("p_id"), col("c_id"),
        col("p_ts"), col("c_ts"))
  }

  /** Closed session: count, sum, event-time bounds in epoch micros. */
  case class SessionAgg(key: Long, n: Long, total: Double, startUs: Long, endUs: Long)

  /** Open-session aggregate inside [[SessBufState]]. */
  case class SessState(startUs: Long, lastUs: Long, n: Long, total: Double)

  /** Per-key state: events still above the watermark (not yet safe to
    * fold — an earlier out-of-order event may still arrive) + the open
    * session over everything at or below it. */
  case class SessBufState(pending: Seq[(Long, Double)], open: Option[SessState])

  private def toUs(t: java.sql.Timestamp): Long =
    (t.getTime / 1000L) * 1000000L + t.getNanos / 1000L

  /** Sessionization with a `gap` inactivity timeout via
    * flatMapGroupsWithState, EXACTLY matching the batch q_win_session
    * semantics (a new session starts when the event-time gap is
    * strictly > `gap`) for ANY arrival order within the watermark —
    * pinned by StreamsSpec's equivalence test.
    *
    * Gap splits are an event-time-order property, so an event is only
    * folded into sessions once the watermark passes it (no earlier
    * event can arrive anymore); until then it waits in the per-key
    * pending buffer. Folding sorts the ready events and runs the batch
    * query's fold; the open session closes — and is emitted — once the
    * watermark passes its gap horizon. Events at/after the watermark
    * are kept; events strictly older are dropped (the standard
    * watermark contract — fMGWS leaves late-row handling to the
    * operator). State per key is bounded by the watermark delay (the
    * pending buffer spans at most `delay` of event time), not by
    * stream history; the timeout re-arms to the earliest of the open
    * session's close point and the oldest pending event, so progress
    * needs no per-key traffic.
    *
    * Input needs columns (user_id long, ts timestamp, value double). */
  /** The one session fold BOTH stateful APIs run ([[sessionize]] on
    * flatMapGroupsWithState, [[sessionizeTws]] on transformWithState)
    * — a single implementation so the two operators cannot drift:
    * in-watermark events join the pending buffer, everything at/below
    * the watermark folds in event-time order with the strict-> gap
    * rule, the open session closes once no in-watermark event can
    * extend it. Returns (closed sessions, next state or None when the
    * key is drained, wake-up time in ms for the event-time timer). */
  private[streaming] def foldSessions(key: Long, prev: SessBufState,
      incoming: Seq[(Long, Double)], wmUs: Long, gapMs: Long)
    : (Seq[SessionAgg], Option[SessBufState], Option[Long]) = {
    val gapUs = gapMs * 1000L
    // ts == wm is NOT late (the wm was derived from that event's own
    // batch); ts < wm is
    val inWm = incoming.filter(_._1 >= wmUs)
    val (ready, still) = (prev.pending ++ inWm).partition(_._1 <= wmUs)
    val closed = scala.collection.mutable.ArrayBuffer.empty[SessionAgg]
    var cur = prev.open.orNull
    for ((u, v) <- ready.sortBy(_._1)) {
      if (cur == null) cur = SessState(u, u, 1L, v)
      else if (u - cur.lastUs > gapUs) { // strict >, like the batch query
        closed += SessionAgg(key, cur.n, cur.total, cur.startUs, cur.lastUs)
        cur = SessState(u, u, 1L, v)
      } else cur = SessState(cur.startUs, math.max(cur.lastUs, u),
        cur.n + 1, cur.total + v)
    }
    // the open session closes once no in-watermark event can extend it
    // (future events have ts >= wm > lastUs + gap)
    if (cur != null && cur.lastUs + gapUs < wmUs) {
      closed += SessionAgg(key, cur.n, cur.total, cur.startUs, cur.lastUs)
      cur = null
    }
    if (still.isEmpty && cur == null) (closed.toSeq, None, None)
    else {
      val wake = (Option(cur).map(c => c.lastUs / 1000L + gapMs) ++
        still.map(_._1 / 1000L).minOption).min
      (closed.toSeq, Some(SessBufState(still, Option(cur))), Some(wake))
    }
  }

  def sessionize(events: DataFrame, gapMs: Long, delay: String = "10 minutes"): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      // the watermarked ts column must reach the stateful operator
      // unchanged — projecting it away disables event-time timeouts
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessBufState, SessionAgg](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[SessBufState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(SessBufState(Nil, None))
          val incoming = rows.map { case (_, t, v) => (toUs(t), v) }.toSeq
          val (closed, next, wake) = foldSessions(key, prev, incoming, wmMs * 1000L, gapMs)
          next match {
            case Some(st) =>
              state.update(st)
              state.setTimeoutTimestamp(math.max(wake.get, wmMs + 1L))
            case None => state.remove()
          }
          closed.iterator
      }
  }

  /** [[sessionize]]'s exact semantics on Spark 4's `transformWithState`
    * — the successor arbitrary-state API (SPARK-40434): typed
    * per-key `ValueState` from the handle instead of one opaque
    * `GroupState` blob, explicit event-time timers (register/delete,
    * many per key) instead of the single timeout slot, and a separate
    * `handleExpiredTimer` path instead of `hasTimedOut` branching.
    * Both operators drive the SAME [[foldSessions]] fold, and the
    * StreamsSpec equivalence gate runs the same corpus through both —
    * the two APIs must return identical session rows. State layout
    * per key is identical (pending buffer + open session), so the
    * RocksDB sizing story in SCALE.md carries over unchanged. NOTE:
    * transformWithState requires a multi-column-family state store —
    * run under [[withRocksDbState]] (the default HDFS-backed provider
    * rejects it with STATE_STORE_MULTIPLE_COLUMN_FAMILIES). */
  class SessionProcessor(gapMs: Long)
      extends StatefulProcessor[Long, (Long, java.sql.Timestamp, Double), SessionAgg] {
    @transient private var buf: ValueState[SessBufState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      buf = getHandle.getValueState[SessBufState]("sess_buf",
        org.apache.spark.sql.Encoders.product[SessBufState], TTLConfig.NONE)
    private def run(key: Long, incoming: Seq[(Long, Double)], wmMs: Long): Iterator[SessionAgg] = {
      val prev = if (buf.exists()) buf.get() else SessBufState(Nil, None)
      val (closed, next, wake) = foldSessions(key, prev, incoming, wmMs * 1000L, gapMs)
      // one live timer per key: drop stale wake-ups before re-arming
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      next match {
        case Some(st) =>
          buf.update(st)
          getHandle.registerTimer(math.max(wake.get, wmMs + 1L))
        case None => buf.clear()
      }
      closed.iterator
    }
    override def handleInputRows(key: Long,
        rows: Iterator[(Long, java.sql.Timestamp, Double)],
        tv: TimerValues): Iterator[SessionAgg] =
      run(key, rows.map { case (_, t, v) => (toUs(t), v) }.toSeq,
        tv.getCurrentWatermarkInMs())
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionAgg] =
      run(key, Nil, tv.getCurrentWatermarkInMs())
  }

  def sessionizeTws(events: DataFrame, gapMs: Long, delay: String = "10 minutes"): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      .select(col("user_id"), col("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)]
      .groupByKey(_._1)
      .transformWithState(new SessionProcessor(gapMs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** One emitted CEP match: the maximal consecutive-click run (size +
    * start) immediately preceding a purchase — q_event_pattern's match
    * row, streaming-side. */
  case class PatternMatch(key: Long, startUs: Long, purchaseUs: Long, nClicks: Long)

  /** Per-key CEP state: the pending buffer (events the watermark has
    * not passed yet, so earlier events may still arrive) plus the
    * pattern automaton — the previous event's type and the current
    * click-run (start, length). Pending is bounded by the watermark
    * delay; the automaton is O(1) and persists for the key's lifetime
    * (adjacency spans arbitrary quiet gaps, unlike a session's
    * inactivity horizon). */
  case class PatBufState(pending: Seq[(Long, Long, String)],
                         prevType: String, runStartUs: Long, runN: Long)

  /** The one CEP fold (shared with the spec): in-watermark events join
    * the pending buffer, everything at/below the watermark folds in
    * event-time order (event_id breaks ts ties — the batch query's
    * total order) through the CLICK+ PURCHASE automaton; a purchase
    * whose previous folded event was a click emits a match. Returns
    * (matches, next state, wake-up ms for the event-time timer — None
    * when nothing is pending). */
  private[streaming] def foldPattern(key: Long, prev: PatBufState,
      incoming: Seq[(Long, Long, String)], wmUs: Long)
    : (Seq[PatternMatch], PatBufState, Option[Long]) = {
    // ts == wm is NOT late (the wm was derived from that event's own
    // batch); ts < wm is. But an event at EXACTLY the watermark must
    // not fold yet either: another event at the SAME ts is still
    // admissible in a later trigger, and folding the first now would
    // break the (ts, event_id) total order the adjacency automaton is
    // sensitive to (an equal-ts click arriving after its purchase
    // folded would emit/suppress the wrong match — foldSessions can
    // keep the <= cut because its aggregates are commutative at equal
    // ts). The == row waits in pending; the event-time timer fires
    // once the watermark moves strictly past it.
    val inWm = incoming.filter(_._1 >= wmUs)
    val (ready, still) = (prev.pending ++ inWm).partition(_._1 < wmUs)
    val out = scala.collection.mutable.ArrayBuffer.empty[PatternMatch]
    var (pt, rs, rn) = (prev.prevType, prev.runStartUs, prev.runN)
    for ((u, _, t) <- ready.sortBy(e => (e._1, e._2))) {
      if (t == "click") {
        if (pt == "click") rn += 1L else { rs = u; rn = 1L }
      } else if (t == "purchase" && pt == "click")
        out += PatternMatch(key, rs, u, rn)
      pt = t
    }
    (out.toSeq, PatBufState(still, pt, rs, rn), still.map(_._1 / 1000L).minOption)
  }

  /** Streaming sequence-pattern matching (the Flink-CEP / warehouse
    * MATCH_RECOGNIZE role) via flatMapGroupsWithState, EXACTLY matching
    * batch q_event_pattern for any arrival order within the watermark:
    * adjacency is an event-time-order property, so an event folds into
    * the automaton only once the watermark passes it — until then it
    * waits in the per-key pending buffer (same discipline as
    * [[sessionize]]). Matches are final on emission (append mode, no
    * retraction). The automaton is O(1) per key and persists — a
    * pattern can straddle any quiet gap — while the pending buffer is
    * bounded by the watermark delay; state size is keys × O(1), the
    * floor for adjacency-sensitive CEP.
    *
    * Input needs columns (user_id long, ts timestamp, event_id long,
    * event_type string). */
  def patternMatch(events: DataFrame, delay: String = "10 minutes"): Dataset[PatternMatch] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", delay)
      // the watermarked ts column must reach the stateful operator
      // unchanged — projecting it away disables event-time timeouts
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[PatBufState, PatternMatch](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (key, rows, state: GroupState[PatBufState]) =>
          val wmMs = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(PatBufState(Nil, "", 0L, 0L))
          val incoming = rows.map { case (_, t, eid, tp) => (toUs(t), eid, tp) }.toSeq
          val (matches, next, wake) = foldPattern(key, prev, incoming, wmMs * 1000L)
          state.update(next)
          wake.foreach(w => state.setTimeoutTimestamp(math.max(w, wmMs + 1L)))
          matches.iterator
      }
  }
}
