package graft.streaming

import graft.operators.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming corpus curation — the STATELESS half of the pipeline
  * family run over unbounded document streams. Quality gating and PII
  * scrubbing are pure map-side column logic, so the batch definitions
  * apply to a streaming DataFrame verbatim: one rule definition, two
  * execution modes, no semantic drift between the nightly batch job and
  * the near-line ingest path (batch/stream row-for-row agreement is
  * asserted in DedupSpec).
  *
  * Scale posture: no state, no shuffle — every micro-batch is a
  * narrow map over the source partitions, and the operators compose
  * before [[Dedup]]'s stateful stage (gate → scrub → dedup is the
  * canonical ingest order: cheap verdicts shrink the stream before
  * state is paid). The one stateful member, [[trendingTerms]], bounds
  * its per-window state by construction (Misra–Gries buffer, ≤ m
  * counters). */
object Curation {

  /** Quality verdict per document ([[Pipeline.qualityVerdict]]): the
    * row survives with a `verdict` column; route on it downstream
    * (keep / dead-letter by rule). */
  def withQualityVerdict(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("verdict", Pipeline.qualityVerdict(col(textCol)))

  /** Keep only documents passing the gate. */
  def qualityGate(docs: DataFrame, textCol: String): DataFrame =
    withQualityVerdict(docs, textCol)
      .filter(col("verdict") === "keep").drop("verdict")

  /** Trending terms per event-time window — the streaming face of
    * q64's bounded-memory heavy hitters: tokens explode map-side, the
    * Misra–Gries aggregator ([[graft.functions.HeavyHitters]]) runs
    * INSIDE a watermarked tumbling-window aggregation, and each
    * window's state is one ≤ m-counter buffer — bounded regardless of
    * how many distinct tokens the window saw (a full `groupBy(window,
    * token)` would hold the whole per-window vocabulary in the state
    * store). Candidates carry the N/(m+1) survival guarantee per
    * window; a consumer needing exact counts recounts the candidates
    * downstream, exactly like the batch twin. Append mode: a window's
    * candidate set finalizes when the watermark passes its end. */
  def trendingTerms(docs: DataFrame, textCol: String, eventTimeCol: String,
      windowLen: String, horizon: String, m: Int = 1024): DataFrame =
    docs
      .withColumn("token", explode(split(col(textCol), " ")))
      .withWatermark(eventTimeCol, horizon)
      .groupBy(window(col(eventTimeCol), windowLen))
      .agg(graft.functions.HeavyHitters.candidates(m, col("token")).as("candidates"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("candidates"))

  /** Redact emails/URLs in place and count what was removed per row —
    * the ONE shared definition with batch q48
    * ([[Pipeline.piiRedact]]/[[Pipeline.piiCount]]), map-side,
    * stream-safe. A null text row counts 0 and stays null. */
  def piiScrub(docs: DataFrame, textCol: String): DataFrame =
    docs
      .withColumn("n_pii",
        coalesce(Pipeline.piiCount(col(textCol)), lit(0)))
      .withColumn(textCol, Pipeline.piiRedact(col(textCol)))

  /** Markup/boilerplate extraction at ingest — the streaming face of
    * batch q112, sharing its derivations verbatim
    * ([[Pipeline.markupCleanDoc]] / [[Pipeline.markupLineKeep]]): each
    * arriving page row gains `text` (kept lines tag-stripped,
    * space-joined), `n_lines`, `n_dropped_lines`, and
    * `extracted_chars`, so the raw markup can be dropped before any
    * stateful stage pays for it. STATELESS: pure map-side column
    * logic over whatever the higher-order functions see per row —
    * append mode, no watermark, no state beyond source offsets. This
    * is the FIRST gate of the canonical ingest order (extract → gate →
    * scrub → dedup): it runs before [[qualityGate]] because every
    * quality heuristic assumes clean text. */
  def markupExtract(pages: DataFrame, htmlCol: String): DataFrame = {
    val lines = split(col(htmlCol), "\n")
    pages
      .withColumn("text", Pipeline.markupCleanDoc(col(htmlCol)))
      .withColumn("n_lines", size(lines))
      .withColumn("n_dropped_lines",
        size(filter(lines, l => !Pipeline.markupLineKeep(l))))
      .withColumn("extracted_chars",
        aggregate(
          transform(filter(lines, l => Pipeline.markupLineKeep(l)),
            l => length(Pipeline.markupLineClean(l)).cast("long")),
          lit(0L), (acc, x) => acc + x))
      .drop(htmlCol)
  }

  /** Eval-set DECONTAMINATION at ingest — the streaming face of batch
    * q49 / q113-stage-4, from the one shared verdict definition
    * ([[Pipeline.contaminationPredicate]]): drop every arriving
    * document sharing at least one word-8-gram with the eval set.
    * `evalGrams` is the [[Pipeline.wordGramHashes]] artifact a nightly
    * batch persists (one `h` long column, bounded by the benchmarks —
    * it does not grow with the crawl). STATELESS by construction: the
    * verdict is one map-side column expression (Bloom prune per gram,
    * then an exact codegen'd binary search over the sorted eval hash
    * set riding the plan as a literal), so the stage adds zero state,
    * zero exchanges, and no per-micro-batch join — the eval set is
    * compiled in at composition time, exactly like a stream-static
    * broadcast side, and a new eval snapshot means re-composing the
    * query (the same contract as every static-side snapshot).
    * Batch/stream verdict agreement is asserted in DedupSpec. */
  def decontamGate(docs: DataFrame, textCol: String,
      evalGrams: DataFrame): DataFrame =
    docs.filter(!Pipeline.contaminationPredicate(evalGrams)(col(textCol)))

  /** The canonical ingest chain COMPOSED — the streaming face of the
    * batch curation funnel's front half (q113 stages 0–4): markup
    * extraction → quality gate → PII scrub → eval decontamination →
    * normalization-aware dedup, as ONE transform a crawl ingest binds
    * to its page stream. Every stage is the already-proven
    * shared-definition face ([[markupExtract]] / [[qualityGate]] /
    * [[piiScrub]] / [[decontamGate]] / [[Dedup.dedupNormalized]]), in
    * the canonical order: extraction first because every quality
    * heuristic assumes clean text, the gate before the scrub so dead
    * documents never pay regex work, the scrub before dedup so
    * redacted variants collapse, decontamination before dedup so
    * contaminated pages never cost state. `evalGrams` (the
    * [[Pipeline.wordGramHashes]] artifact) enables the
    * decontamination stage; None composes the historical 4-stage
    * chain.
    *
    * Statefulness: the first FOUR stages are pure map-side column
    * logic (zero state — decontamination's eval set rides the plan as
    * a literal), so the composition holds exactly ONE watermark-bounded
    * stateful operator PER ENABLED DEDUP STAGE: the canonical-digest
    * state always (one 16-byte digest per kept in-horizon document),
    * plus the near-dup signature state when `nearDup` is on — two
    * state operators total, spec-asserted, both RocksDB-backed like
    * every dedup gate. Append mode end to end. At 100 TB ingest this
    * is the order that minimizes both state and compute: markup (the
    * bulkiest bytes) drops at the first map, gated documents never
    * reach the state store.
    *
    * `nearDup` (VERDICT r17 §next-1) closes the last q113 stage
    * without a streaming face in the composition: with it off, a
    * lightly-edited re-crawl page sails through the canonical digest
    * and waits for the nightly batch funnel (q113 stage 3, LSH+verify)
    * — with it on, the page collapses onto the original's
    * [[Dedup.nearDupSignature]] AT INGEST. The stage sits after the
    * exact stage (exact collapse is free of collision risk, so the
    * signature state only ever holds canonical-distinct survivors);
    * `nearDupHistory` ([[Dedup.historicalNearSignatures]]) is its
    * stateless history bootstrap, exactly as `history` is the exact
    * stage's; `nearDupBits` is the signature-WIDTH knob (q142 measures
    * the 16-bit key's false-collapse curve, q143 prices width against
    * edited-copy recall — fix the width from that table before
    * enabling the stage on a vocabulary-concentrated corpus).
    *
    * `nearDupBands` (VERDICT r18 §next-1) composes the BANDED recall
    * lever into the gate: at bands > 1 the near stage becomes
    * [[Dedup.dedupNearBanded]] — `nearDupBits` is then the PER-BAND
    * width, the stage holds one watermark-bounded state operator PER
    * BAND (1 + bands total for the composition, spec-asserted), and
    * `nearDupHistory` must be the per-band artifact
    * ([[Dedup.historicalNearBandKeys]] at the same config; each near
    * stage checks its history's shape and stamp as it composes, before
    * any data flows). q144's
    * knob table prices every (bands, bandBits) point — q143 showed
    * the single-signature gate is a low-recall instrument at every
    * width, so a deployment that wants edited-copy recall at ingest
    * reads q144 and turns THIS knob. When q144 on YOUR corpus shows
    * every collapse config paying structural false drops (the driver
    * corpus does), the precision-exact alternative is the VERIFIED
    * gate ([[graft.streaming.Dedup.nearVerifiedVerdicts]] — LSH
    * candidates + exact in-state Jaccard, zero false collapse by
    * construction); it runs as its own stream (fMGWS cannot chain
    * after this composition's stateful stages) and emits verdicts
    * rather than a filtered stream. */
  def ingestGate(pages: DataFrame, htmlCol: String, eventTimeCol: String,
      horizon: String, evalGrams: Option[DataFrame] = None,
      history: Option[DataFrame] = None, nearDup: Boolean = false,
      nearDupHistory: Option[DataFrame] = None,
      nearDupBits: Int = 16, nearDupBands: Int = 1): DataFrame = {
    require(nearDup || nearDupHistory.isEmpty,
      "nearDupHistory bootstraps the near-dup stage - enable nearDup")
    require(nearDupBands >= 1, "nearDupBands >= 1")
    // fail in THIS vocabulary, at composition: with bands > 1,
    // nearDupBits is the PER-BAND width and the default 16 no longer
    // fits 2+ bands in portableHashMod's 31-bit range (review r19 —
    // dedupNearBanded's own require names parameters the caller
    // never passed)
    require(nearDupBands == 1 || nearDupBands * nearDupBits <= 31,
      s"nearDupBands ($nearDupBands) * nearDupBits ($nearDupBits - the " +
        "PER-BAND width when banded) must fit 31 bits; the banded " +
        "default pairing is nearDupBands = 2, nearDupBits = 15")
    // `history` ([[Dedup.historicalDigests]] of the already-ingested
    // batch corpus) bootstraps the dedup stage: content the corpus
    // already holds drops at a stateless stream-static anti-join, so a
    // FRESH stream doesn't re-admit history while its state store
    // warms up; stream-internal duplicates still hit the same
    // watermark-bounded state
    val exact = Dedup.dedupNormalized(ingestFront(pages, htmlCol, evalGrams),
      "text", eventTimeCol, horizon, history)
    if (!nearDup) exact
    else if (nearDupBands == 1)
      Dedup.dedupNearSignature(exact, "text", eventTimeCol, horizon,
        nearDupHistory, nearDupBits)
    else Dedup.dedupNearBanded(exact, "text", eventTimeCol, horizon,
      nearDupBands, nearDupBits, nearDupHistory)
  }

  /** The stateless front half both ingest gates share: markup
    * extraction → quality gate → PII scrub → optional eval
    * decontamination, pure map-side column logic (zero state). */
  private def ingestFront(pages: DataFrame, htmlCol: String,
      evalGrams: Option[DataFrame]): DataFrame = {
    val scrubbed =
      piiScrub(qualityGate(markupExtract(pages, htmlCol), "text"), "text")
    evalGrams.fold(scrubbed)(decontamGate(scrubbed, "text", _))
  }

  /** The canonical ingest chain composed onto the VERIFIED near-dup
    * gate (VERDICT r19 §next-6): the same stateless front half as
    * [[ingestGate]] — markup extraction → quality gate → PII scrub →
    * optional eval decontamination — feeding
    * [[Dedup.nearVerifiedVerdicts]], the precision-exact dedup answer
    * q144's knob table points corpora like the driver's to (every
    * signature-collapse config pays structural false drops there;
    * verification pays none by construction). Returns the VERDICT
    * stream, not a filtered document stream: fMGWS is the
    * composition's single stateful operator and Spark supports no
    * stateful chaining after it — which is also why there is no
    * separate exact-dedup stage here: an identical in-horizon copy
    * has Jaccard 1 and drops at verification in every band it probes,
    * so the verified gate subsumes the exact stage within its bucket
    * recall (a deployment wanting belt-and-braces exact dedup runs
    * [[ingestGate]]'s digest stage in its OWN stream downstream of
    * the kept ids).
    *
    * Consume with [[Dedup.verifiedKeeps]] per micro-batch
    * (`foreachBatch { (b, _) => val keeps = Dedup.verifiedKeeps(b)
    * ... }`), joining kept ids back to the batch's source-of-record —
    * the packaged any-band reduction, first-drop-wins provenance
    * (CurationSpec runs the E2E from pages to kept shards).
    * `history` ([[Dedup.historicalVerifiedKeepers]] at the same
    * config) bootstraps the keeper state so batch 1 already drops
    * near-dups of the resident corpus. */
  def ingestGateVerified(pages: DataFrame, htmlCol: String,
      eventTimeCol: String, horizonMs: Long, idCol: String = "doc_id",
      evalGrams: Option[DataFrame] = None, bands: Int = 1,
      rowsPerBand: Int = 4, bucketCap: Int = 64,
      history: Option[DataFrame] = None)
      : org.apache.spark.sql.Dataset[Dedup.NearVerifiedVerdict] =
    Dedup.nearVerifiedVerdicts(ingestFront(pages, htmlCol, evalGrams),
      idCol, "text", eventTimeCol, horizonMs, bands, rowsPerBand,
      bucketCap, history)

  /** Stateless temperature-mix gate — the streaming face of q123:
    * keep a document when its [[Pipeline.mixKey]] micro-draw falls
    * below its language's keep rate. `keepRateMicro` is the artifact
    * a nightly batch derives (q123's `keep_rate_micro` column — rates
    * come from corpus counts, which a stream cannot know), riding the
    * plan as ONE literal map; a language absent from the map keeps
    * everything (rate 10^6), the conservative default for a
    * never-before-seen stratum. Zero state, zero exchanges, and the
    * SAME membership draw as batch, so ingest-time mix decisions are
    * reproducible by a batch re-mix (parity asserted in ExportSpec). */
  def mixGate(docs: DataFrame, idCol: String, langCol: String,
      keepRateMicro: Map[String, Long]): DataFrame =
    docs.filter(Pipeline.mixKey(col(idCol)) <
      coalesce(element_at(typedLit(keepRateMicro), col(langCol)),
        lit(1000000L)))

  /** The ENTIRE ingest-to-export chain composed — crawl page in,
    * shard-routed training document out: [[ingestGate]] (markup →
    * quality → PII → optional decontamination → dedup) → [[mixGate]]
    * (optional, rates permitting) → [[Export.shardAssign]]. Stage
    * order follows the batch funnel (q113): mixing AFTER dedup —
    * rates derive from the deduped corpus, and mixing earlier would
    * let a mixed-out first arrival resurrect its duplicate — and the
    * shard route last, on exactly the documents a trainer will read.
    * Mix and route are both stateless map logic, so the composition
    * still holds exactly one stateful operator per enabled dedup stage
    * (the canonical digests; plus the near-dup signatures when
    * `nearDup` is on); bind the result to a `partitionBy("shard")`
    * sink and the stream writes training shards directly. */
  def ingestToShards(pages: DataFrame, htmlCol: String,
      eventTimeCol: String, horizon: String,
      evalGrams: Option[DataFrame] = None,
      mixRates: Option[Map[String, Long]] = None,
      idCol: String = "doc_id", langCol: String = "lang",
      numShards: Int = 8, history: Option[DataFrame] = None,
      nearDup: Boolean = false,
      nearDupHistory: Option[DataFrame] = None,
      nearDupBits: Int = 16, nearDupBands: Int = 1): DataFrame = {
    val gated = ingestGate(pages, htmlCol, eventTimeCol, horizon, evalGrams,
      history, nearDup, nearDupHistory, nearDupBits, nearDupBands)
    val mixed = mixRates.fold(gated)(mixGate(gated, idCol, langCol, _))
    Export.shardAssign(mixed, idCol, "text", numShards)
  }

  /** Windowed OUT-OF-VOCABULARY rate against a STATIC baseline
    * vocabulary — the near-line tripwire for the batch drift report
    * (q115): the full total-variation distance needs both complete
    * distributions and stays a batch job, but the share of arriving
    * token instances the baseline vocabulary has never seen is
    * computable per event-time window with ONE watermarked windowed
    * aggregation, and a rising OOV share is the earliest signal that
    * the crawl drifted and the q100 merges / q58-q70 LMs / q54 mix
    * need a refit. `vocab` is the artifact a nightly batch persists
    * (e.g. crawl-1's distinct tokens); the join is stream-static,
    * left to the planner (broadcast when the vocabulary fits); state
    * is one count pair per open window, bounded by the watermark.
    * Append mode: a window's row finalizes when the watermark passes
    * its end. */
  def windowedOovRate(docs: DataFrame, textCol: String,
      eventTimeCol: String, windowLen: String, horizon: String,
      vocab: DataFrame): DataFrame =
    docs.withColumn("token", explode(split(col(textCol), " ")))
      .join(vocab.select(col("token")).distinct()
        .withColumn("known", lit(true)), Seq("token"), "left")
      .withWatermark(eventTimeCol, horizon)
      .groupBy(window(col(eventTimeCol), windowLen))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("known").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("n_tokens"), col("n_oov"),
        round(col("n_oov").cast("double") / col("n_tokens"), 6)
          .as("oov_share"))

  /** Score arriving documents against a STATIC bigram-LM snapshot —
    * the near-line face of q70: the LM (`(bg, logp)`, the artifact
    * [[Pipeline.bigramLm]] derives and a nightly batch job would
    * persist) joins the stream's exploded bigram instances as a
    * stream-static equi-join. The planner is left free to pick the
    * join: a broadcast when the snapshot fits (routing-table case), a
    * per-micro-batch shuffled join when a web-scale vocabulary
    * doesn't — either way NO streaming state is involved in the
    * scoring itself. Bigrams unseen by the LM take `oovLogp` (the
    * caller passes the batch model's unseen-pair floor, e.g.
    * `ln(1/V)`). The per-document mean then aggregates on the
    * stream's own doc key — update output mode, one state row per
    * in-flight document, the [[Similarity.nearestQuery]] contract.
    * Output: `(docIdCol, n_bigrams, avg_logprob)` rounded to 6 like
    * every cross-engine log in the batch family. */
  def scoreBigramsAgainstLm(docs: DataFrame, textCol: String,
      docIdCol: String, lm: DataFrame, oovLogp: Double): DataFrame =
    docs
      .select(col(docIdCol), explode(graft.functions.TextFunctions
        .wordShingleMultiset(split(col(textCol), " "), 2)).as("bg"))
      .join(lm.select(col("bg"), col("logp")), Seq("bg"), "left")
      .withColumn("logp", coalesce(col("logp"), lit(oovLogp)))
      .groupBy(col(docIdCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("logp")), 6).as("avg_logprob"))

  /** Windowed Count-Min sketch per event-time window — the streaming
    * face of q73's frequency estimation and the second member of the
    * bounded-sketch streaming pair ([[trendingTerms]] finds the heavy
    * keys, this answers point-frequency probes). Tokens explode
    * map-side into their d=4 cells (the ONE shared hash family,
    * [[Pipeline.cmsCells]] — stream and batch sketches agree
    * cell-for-cell, asserted in DedupSpec), and the watermarked
    * tumbling-window count aggregation holds at most d·width counter
    * rows per window — bounded regardless of the window's vocabulary,
    * where a `groupBy(window, token)` would hold every distinct token
    * in the state store. Append mode: a window's sketch finalizes when
    * the watermark passes its end; probe it downstream with
    * [[cmsProbe]] (or any min-over-cells consumer). Occupied cells
    * only: absent (j, b) rows are zero by construction. */
  def windowedCmsSketch(docs: DataFrame, textCol: String,
      eventTimeCol: String, windowLen: String, horizon: String,
      width: Long = 1024L): DataFrame =
    docs
      .select(col(eventTimeCol),
        explode(split(col(textCol), " ")).as("token"))
      .select(col(eventTimeCol),
        explode(Pipeline.cmsCells(col("token"), width)).as("c"))
      .withWatermark(eventTimeCol, horizon)
      .groupBy(window(col(eventTimeCol), windowLen),
        col("c.j").as("j"), col("c.b").as("b"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("j"), col("b"), col("n"))

  /** Probe a FINALIZED window sketch (the batch side of the streaming
    * pair): min over the probe token's d cells = its CMS estimate for
    * that window — never an undercount, the q73 contract. `sketch` is
    * [[windowedCmsSketch]] output for one window (or any (j, b, n)
    * relation); `probes` carries one `token` row per probe. */
  def cmsProbe(sketch: DataFrame, probes: DataFrame,
      width: Long = 1024L): DataFrame =
    probes
      .select(col("token"), explode(Pipeline.cmsCells(col("token"), width)).as("c"))
      .select(col("token"), col("c.j").as("j"), col("c.b").as("b"))
      .join(sketch.select(col("j"), col("b"), col("n")), Seq("j", "b"), "left")
      // a probe whose cell nobody touched has a zero bucket — and a
      // zero-able min means the token provably never occurred
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .groupBy(col("token")).agg(min(col("n")).as("n_est"))

  /** Running priority sample per stratum — the streaming face of
    * q74's Duffield–Lund–Thorup sampling: the SAME division-only
    * priority (`w·2⁶⁰/(h+1)`, [[Pipeline.q74PrioritySample]]'s
    * arithmetic) feeds the bounded [[graft.functions.TopK]] aggregator
    * in an update-mode streaming aggregation, so each stratum's state
    * is ONE (k+1)-item buffer at any stream length — a continuously
    * maintained weight-proportional sample with the τ estimator always
    * one read away. Emits `(stratum, topk)` upserts; element k+1 (when
    * present) is τ, elements 1..k the current sample — batch/stream
    * agreement on a shared fixture is asserted in DedupSpec. */
  def runningPrioritySample(docs: DataFrame, strataCol: String,
      idCol: String, weightCol: String, k: Int): DataFrame = {
    val h = graft.functions.TextFunctions.portableHash(
      concat(lit("prio:"), col(idCol).cast("string")))
    docs
      .select(col(strataCol), col(idCol),
        (col(weightCol).cast("double") * lit(1152921504606846976L).cast("double") /
          (h + lit(1L)).cast("double")).as("pri"))
      .groupBy(col(strataCol))
      .agg(graft.functions.TopK.topK(k + 1, col(idCol), col("pri")).as("topk"))
  }

  /** Model-based quality score per document — the streaming face of
    * q75's hashed-feature classifier, from the ONE shared definition
    * ([[Pipeline.classifierFeatures]]/[[Pipeline.classifierScore]]):
    * adds `clf_score` (exact int64 sum of the document's feature-bucket
    * weights; null for null text) and `clf_kept` (`score >= threshold`,
    * false for null). The model is a plan literal — O(buckets),
    * vocabulary-independent — so the stream pays one map-side array
    * fold per row: stateless, shuffle-free, composes BEFORE the
    * stateful dedup stages like [[qualityGate]] and
    * [[withRepetitionVerdict]]. Batch/stream row-for-row agreement
    * asserted in DedupSpec. */
  def withClassifierScore(docs: DataFrame, textCol: String,
      threshold: Long = 0L): DataFrame =
    docs
      .withColumn("feats",
        Pipeline.classifierFeatures(split(col(textCol), " ")))
      .withColumn("clf_score", Pipeline.classifierScore(col("feats")))
      .withColumn("clf_kept",
        coalesce(col("clf_score") >= threshold, lit(false)))
      .drop("feats")

  /** Windowed equi-width histogram — the streaming face of q82's
    * numeric binning: values floor-divide into fixed-width integer
    * buckets (the caller supplies the already-integer value column,
    * q82's exact-cents convention) inside a watermarked tumbling
    * window. State per window is bounded by the VALUE RANGE (≤
    * range/width counter rows), not the stream — the
    * [[windowedCmsSketch]] bounded-key-space argument applied to
    * numeric profiling. Append mode: a window's histogram finalizes
    * when the watermark passes its end; batch/stream bucket-for-bucket
    * parity asserted in DedupSpec. */
  def windowedHistogram(rows: DataFrame, valueCol: String,
      eventTimeCol: String, windowLen: String, horizon: String,
      width: Long): DataFrame =
    rows
      .select(col(eventTimeCol), expr(s"$valueCol div $width").as("bucket"))
      .withWatermark(eventTimeCol, horizon)
      .groupBy(window(col(eventTimeCol), windowLen), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("bucket"), col("n"))

  /** Windowed approximate-distinct — the streaming face of q36's HLL
    * (distinct users per event type): per (event-time window, group)
    * `approx_count_distinct`, append mode, a window's estimate
    * finalizing when the watermark passes its end. State per (window,
    * group) is ONE HLL sketch of 2^p registers fixed by `rsd` — never
    * the key set — which is the entire point at a 100 TB user
    * population: exact windowed distinct holds every key in state,
    * this holds ~kilobytes per group at any cardinality.
    *
    * HLL registers are max-merged, so the estimate is a DETERMINISTIC
    * function of the window's value SET — delivery order, batching,
    * and partial-merge shape cannot move it. DedupSpec pins the
    * streamed estimate to the batch `approx_count_distinct` estimate
    * on identical rows EXACTLY (not within-tolerance), alongside
    * q36's 5%-of-exact accuracy contract. */
  def windowedApproxDistinct(rows: DataFrame, keyCol: String,
      groupCol: String, eventTimeCol: String, windowLen: String,
      horizon: String, rsd: Double = 0.02): DataFrame =
    rows
      .withWatermark(eventTimeCol, horizon)
      .groupBy(window(col(eventTimeCol), windowLen), col(groupCol))
      .agg(approx_count_distinct(col(keyCol), rsd).as("n_approx"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col(groupCol), col("n_approx"))

  /** Running per-source quota — the streaming face of q79's
    * anti-domination cap: each source's k best documents by the SAME
    * shared classifier score ([[Pipeline.classifierFeatures]]/
    * [[Pipeline.classifierScore]] — gate, cap, and batch query share
    * one model), continuously maintained through the bounded
    * [[graft.functions.TopK]] aggregator in an update-mode
    * aggregation. State per source is ONE k-item buffer at any stream
    * length (the [[runningPrioritySample]] shape); emits `(source,
    * topk)` upserts whose elements are (doc_id, score) ordered score
    * desc / id asc — the latest row per source IS the current kept
    * set, batch agreement asserted in DedupSpec. */
  def runningSourceQuota(docs: DataFrame, textCol: String,
      sourceCol: String, idCol: String, k: Int): DataFrame =
    docs
      .withColumn("feats",
        Pipeline.classifierFeatures(split(col(textCol), " ")))
      .withColumn("clf_score",
        Pipeline.classifierScore(col("feats")).cast("double"))
      .groupBy(col(sourceCol))
      .agg(graft.functions.TopK.topK(k, col(idCol), col("clf_score")).as("topk"))

  /** Repetition verdict per document — the streaming face of q68's
    * Gopher duplicated-3-gram rule, from the ONE shared definition
    * ([[Pipeline.repetitionColumns]]): adds `rep_frac` (duplicated
    * 3-gram occurrence fraction; 0 for sub-3-token or null docs) and
    * `rep_flagged` (the integer-exact ≥ 0.15 cut). Stateless map-side
    * column math like the quality gate — composes BEFORE the stateful
    * dedup stages (boilerplate-heavy docs are dropped before they cost
    * state). Batch/stream row-for-row agreement asserted in DedupSpec. */
  def withRepetitionVerdict(docs: DataFrame, textCol: String): DataFrame = {
    val (g, dup, flag) = Pipeline.repetitionColumns(col(textCol))
    docs
      .withColumn("rep_frac",
        when(g > 0L, dup.cast("double") / g).otherwise(lit(0.0)))
      .withColumn("rep_flagged", coalesce(flag, lit(false)))
  }
}
