package graft.streaming

import graft.expressions.DedupFunctions.{minhashSigNative, shingleHashSetSorted}
import graft.functions.TextFunctions.{canonicalText, md5BandBucket, portableHashMod, simhash16}
import graft.operators.Multimodal
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Streaming deduplication through the state store — the streaming twin
  * of the batch L1/L2 dedup family (q23 exact digest dedup, q28 SimHash
  * near-dup), with the same portable md5-derived keys.
  *
  * The reference holds exactly this shape of keyed first/last-value
  * state in its receive path (last-write-wins frame register,
  * `src/receiver/main.cpp:36`); here the key is a content signature and
  * the policy is KEEP-FIRST: every document whose signature was already
  * seen inside the watermark horizon is dropped. Every signature gate
  * below is one configuration of [[keepFirst]] — a key expression (the
  * batch operators' own derivation), its column name, and an optional
  * history — and every history artifact carries its config through
  * one [[Stamped]] rule.
  *
  * Scale posture (100 TB ingest):
  *  - the signature is computed map-side (codegen'd md5 / simhash over
  *    token hashes); the only shuffle is the state-store exchange on
  *    the signature itself, so dedup state partitions across executors
  *    like any keyed aggregate;
  *  - state is BOUNDED by the watermark: the keep-first stage
  *    evicts a signature once the watermark passes its first-seen event
  *    time plus the horizon. Unbounded-lookback dedup over an infinite
  *    stream is impossible in finite state — the horizon IS the dedup
  *    contract, and a re-arrival after eviction is re-admitted
  *    (asserted in DedupSpec). Full-corpus dedup remains the batch
  *    operator's job (q23/q50);
  *  - state beyond executor heap goes to the RocksDB provider
  *    ([[StateStores.withRocksDB]]) — exactly-once across restarts via
  *    the checkpoint, asserted in DedupSpec.
  */
object Dedup {

  /** THE keep-first stage every signature gate is a configuration of:
    * key each row (`key`, as column `keyName`), drop the rows whose key
    * `history` holds — a STATELESS stream-static left-anti join, so
    * history rides the plan (broadcast when it fits; a production
    * deployment hands it a key table at rest) and never enters the
    * store — then keep the first row per key within the watermark
    * horizon. `history` is one column named `keyName`, bound at
    * composition time like every static side. One stateful operator
    * per call; each gate keeps its own key name, so its state schema —
    * and every checkpoint written under it — stays put. */
  private def keepFirst(docs: DataFrame, key: Column, keyName: String,
      eventTimeCol: String, horizon: String,
      history: Option[DataFrame] = None): DataFrame = {
    val keyed = docs.withColumn(keyName, key)
    history.fold(keyed)(keyed.join(_, Seq(keyName), "left_anti"))
      .withWatermark(eventTimeCol, horizon)
      .dropDuplicatesWithinWatermark(keyName)
      .drop(keyName)
  }

  /** A CONFIG-STAMPED history artifact: what it is, the function that
    * derives it, the key columns a gate reads, and the stamp columns
    * every row carries. Keys from one config point are meaningless at
    * another, so the derive step writes the stamp ([[write]]), a gate
    * checks it against its own knobs at composition time, and an
    * append continues at the stamped config ([[check]]). */
  private final case class Stamped(what: String, derive: String,
      keys: Seq[String], stamp: Seq[String]) {

    /** `rows` with `values` written into the stamp columns. */
    def write(rows: DataFrame, values: Int*): DataFrame =
      stamp.zip(values).foldLeft(rows) { case (d, (c, v)) =>
        d.withColumn(c, lit(v))
      }

    /** THE stamp-reading check. Columns first, so an unstamped artifact
      * gets the re-derive message rather than an AnalysisException;
      * then ONE small job reads the stamp — one row's (`limit(1)`), or,
      * when `extra` aggregates are asked for, the stamp's max with
      * them appended. A gate passes the config it runs: a different
      * stamp fails, and an empty artifact (an empty batch corpus) is
      * vacuously fine — None. An append passes `gate = None`: an empty
      * artifact has no stamp to continue and fails, so an append always
      * gets the stamp row. */
    def check(h: DataFrame, gate: Option[Seq[Int]],
        extra: Column*): Option[Row] = {
      require(keys.forall(h.columns.contains),
        s"$what must carry (${keys.mkString(", ")}) - derive it with $derive")
      require(stamp.forall(h.columns.contains),
        s"$what predates config stamping - re-derive it with $derive " +
          s"(rows carry ${stamp.mkString(", ")})")
      val cfg = stamp.map(col)
      val row = (if (extra.isEmpty) h.select(cfg: _*).limit(1)
        else h.agg(max(cfg.head), cfg.tail.map(c => max(c)) ++ extra: _*))
        .collect().headOption.filterNot(_.isNullAt(0))
      def show(v: Seq[Int]) =
        stamp.zip(v).map { case (c, x) => s"$c = $x" }.mkString("(", ", ", ")")
      val got = row.map(r => stamp.indices.map(r.getInt))
      gate match {
        case None => require(got.isDefined, s"cannot append to an EMPTY " +
          s"$what - derive the founding wave with $derive")
        case Some(g) => got.foreach(s => require(s == g,
          s"$what was derived at ${show(s)} but the gate runs ${show(g)} " +
            "- an artifact from one config never matches another's"))
      }
      row
    }
  }

  private val SigHistory = Stamped("near-dup history",
    "historicalNearSignatures", Seq("near_sig"), Seq("bits"))
  private val BandHistory = Stamped("banded near-dup history",
    "historicalNearBandKeys", Seq("band", "near_band"),
    Seq("bands", "band_bits"))
  private val KeeperHistory = Stamped("verified-gate history",
    "historicalVerifiedKeepers", Seq("band", "bucket", "doc_id", "hs", "tsm"),
    Seq("bands", "rows_per_band", "bucket_cap"))

  /** Exact streaming dedup: keep the first document per md5 content
    * digest seen within the watermark horizon (streaming q23). */
  def dedupExact(docs: DataFrame, textCol: String, eventTimeCol: String,
      horizon: String): DataFrame =
    keepFirst(docs, md5(col(textCol).cast("binary")), "digest",
      eventTimeCol, horizon)

  /** The canonical md5 digest — [[dedupNormalized]]'s key and its
    * history's rows. */
  private def canonicalDigest(text: Column): Column =
    md5(canonicalText(text).cast("binary"))

  /** Normalization-aware streaming dedup — q91's canonicalize-then-
    * dedup as an ingest gate: keep the first document per CANONICAL
    * digest, so case/punctuation/whitespace variants of already-seen
    * content are dropped at arrival, before they cost downstream
    * compute. The canonical form is THE shared
    * [[graft.functions.TextFunctions.canonicalText]] derivation — a
    * batch q91 run and this gate collapse the identical variants
    * (parity asserted in DedupSpec). Same watermark-bounded RocksDB
    * state discipline as [[dedupExact]]: one 16-byte digest per kept
    * document inside the horizon.
    *
    * `history` ([[historicalDigests]]) BOOTSTRAPS the gate from batch
    * history — the operational gap a fresh stream has: its state store
    * starts empty, so the first arrival of content the BATCH corpus
    * already holds would be admitted and re-ingested. The fix is
    * Spark-first composition, not custom state surgery: the stateless
    * anti-join of [[keepFirst]] drops historical duplicates map-side,
    * and the watermark-bounded stateful stage then handles only
    * STREAM-INTERNAL duplicates, exactly as before. State cost is
    * unchanged (one digest per kept in-horizon doc — history never
    * enters the store); the history snapshot is bound at composition
    * time, the same contract as every static side
    * ([[Curation.decontamGate]]'s eval set). */
  def dedupNormalized(docs: DataFrame, textCol: String,
      eventTimeCol: String, horizon: String,
      history: Option[DataFrame] = None): DataFrame =
    keepFirst(docs, canonicalDigest(col(textCol)), "digest", eventTimeCol,
      horizon, history.map(_.select(col("digest"))))

  /** The historical-digest relation for [[dedupNormalized]]'s
    * `history`: one distinct canonical md5 per document of an
    * already-ingested batch corpus — the artifact a nightly job
    * persists beside the corpus (same derivation as the gate, so batch
    * and stream agree digest-for-digest). */
  def historicalDigests(corpus: DataFrame, textCol: String): DataFrame =
    corpus.select(canonicalDigest(col(textCol)).as("digest")).distinct()

  /** Near-dup streaming dedup: keep the first document per 16-bit
    * SimHash signature (frequency-weighted token votes — streaming
    * q28): token-level near-copies collapse onto the same signature
    * without any pairwise comparison, the only shape that works on an
    * unbounded stream. */
  def dedupSimhash(docs: DataFrame, textCol: String, eventTimeCol: String,
      horizon: String): DataFrame =
    keepFirst(docs,
      simhash16(transform(split(col(textCol), " "), t => portableHashMod(t))),
      "simhash", eventTimeCol, horizon)

  /** The INGEST-GATE near-dup signature: 16-bit SimHash
    * (frequency-weighted token votes, [[dedupSimhash]]'s collapse
    * mechanism) over the CANONICAL token stream — canonicalization
    * first, so the signature is insensitive to the case/punctuation
    * noise the exact stage already collapses and votes only on
    * content tokens. ONE derivation shared by the streaming gate
    * stage, its history bootstrap, and the batch parity checks
    * (DedupSpec), the [[graft.functions.TextFunctions.canonicalText]]
    * discipline. */
  private[graft] def nearDupSignature(text: Column): Column =
    nearDupSignatureAt(text, 16)

  /** [[nearDupSignature]] at a chosen WIDTH — the gate's capacity
    * knob, priced by q143's width table (wider = fewer structural
    * false collapses on vocabulary-concentrated corpora, weaker
    * lightly-edited-copy recall; 16 is the q28-aligned default, 31 is
    * the [[graft.functions.TextFunctions.portableHashMod]] ceiling).
    * Same canonical-token vote fold at every width
    * ([[graft.expressions.SimhashBits]]). */
  private[graft] def nearDupSignatureAt(text: Column, bits: Int): Column =
    graft.expressions.BpeFunctions.simhashBits(transform(
      split(canonicalText(text), " "), t => portableHashMod(t)), bits)

  /** The historical near-dup signatures of an already-ingested batch
    * corpus — the [[historicalDigests]] analog for the near-dup gate
    * stage: one distinct [[nearDupSignature]] per corpus document,
    * the artifact a nightly job persists beside the corpus so a FRESH
    * stream drops paraphrases of history statelessly. The rows CARRY
    * their width (`bits` stamp): signatures from one width are
    * meaningless at another, and the gate verifies the artifact
    * matches its own knob at composition time instead of anti-joining
    * keys that can never match. */
  def historicalNearSignatures(corpus: DataFrame,
      textCol: String, bits: Int = 16): DataFrame =
    SigHistory.write(
      corpus.select(nearDupSignatureAt(col(textCol), bits).as("near_sig"))
        .distinct(), bits)

  /** Incremental maintenance for the single-signature history — the
    * [[historicalVerifiedKeepersAppend]] discipline on the anti-join
    * artifact, where it is simpler still: the artifact is a SET of
    * keys, so appending a wave IS deriving over the union
    * (spec-asserted equal, row for row). Width comes from the
    * artifact's own stamp — an append can never silently mix widths —
    * and only the NEW wave is signed; the existing corpus is never
    * re-read. */
  def historicalNearSignaturesAppend(history: DataFrame,
      newDocs: DataFrame, textCol: String): DataFrame = {
    val bits = SigHistory.check(history, None).get.getInt(0)
    history.unionByName(historicalNearSignatures(newDocs, textCol, bits))
      .distinct()
  }

  /** NEAR-DUP dedup stage for the composed ingest gate (VERDICT r17
    * §next-1 — the last q113 stage without a streaming face in the
    * composition): keep the first document per [[nearDupSignature]]
    * within the horizon, optionally bootstrapped from batch history
    * ([[historicalNearSignatures]] at the SAME `bits`, checked at
    * composition time) via [[keepFirst]]'s stateless anti-join — the
    * [[dedupNormalized]] bootstrap verbatim, on the near-dup key. A
    * lightly-edited re-crawl of an already-seen page (the copies the
    * canonical digest structurally misses) collapses onto the
    * original's signature and drops AT INGEST instead of waiting for
    * the nightly batch funnel's LSH+verify stage (q113 stage 3) to
    * catch it.
    *
    * Signature-collapse semantics, inherited from [[dedupSimhash]]:
    * collapse needs no pairwise comparison (the only shape an
    * unbounded stream admits), and the 16-bit space is the capacity
    * knob — size the horizon so distinct in-horizon documents stay
    * small against the MEASURED collision curve (q142, the audit for
    * exactly this key: on vocabulary-concentrated corpora collisions
    * are structural, far above the birthday bound — run the audit on
    * your corpus before enabling the stage), or a collision drops a
    * distinct document; pairwise-VERIFIED near-dup (and the
    * recall/precision audit) stays the batch operator's job
    * (q24/q113/q131). State is one
    * signature per kept in-horizon document, watermark-evicted,
    * RocksDB-backed like every dedup gate; history rides the plan,
    * never the store. */
  def dedupNearSignature(docs: DataFrame, textCol: String,
      eventTimeCol: String, horizon: String,
      history: Option[DataFrame] = None, bits: Int = 16): DataFrame = {
    history.foreach(SigHistory.check(_, Some(Seq(bits))))
    keepFirst(docs, nearDupSignatureAt(col(textCol), bits), "near_sig",
      eventTimeCol, horizon, history.map(_.select(col("near_sig"))))
  }

  /** The banded signature's width, checked once for every banded
    * derivation: `bands` slices of `bandBits` bits must fit
    * portableHashMod's 31-bit hash range. */
  private def bandedWidth(bands: Int, bandBits: Int): Int = {
    require(bands >= 1 && bandBits >= 1 && bands * bandBits <= 31,
      "bands * bandBits must fit portableHashMod's 31-bit hash range")
    bands * bandBits
  }

  /** Band `b` of a banded signature: its `bandBits`-bit slice — the one
    * slice arithmetic the gate and its history share. */
  private def bandSlice(sig: Column, b: Int, bandBits: Int): Column =
    shiftright(sig, b * bandBits).bitwiseAND(lit((1L << bandBits) - 1))

  /** The historical BAND KEYS of an already-ingested batch corpus —
    * [[historicalNearSignatures]]' analog for the BANDED gate stage
    * (VERDICT r18 §next-1: the banded lever had no history bootstrap):
    * one distinct `(band, near_band)` row per corpus document per
    * band, derived through the identical slice arithmetic the gate
    * applies ([[bandSlice]]), so a FRESH stream drops a lightly
    * edited copy of history at whichever band survives the edit —
    * statelessly, before the state store warms up. The artifact a
    * nightly batch persists beside the corpus; its size is
    * `bands · |distinct keys|`, bounded by `bands · 2^bandBits`. The
    * rows CARRY their config (`bands`, `band_bits` stamp): band keys
    * from one (bands, bandBits) point are meaningless at another, and
    * the gate verifies the artifact matches its own knobs at
    * composition time instead of anti-joining keys that can never
    * match. */
  def historicalNearBandKeys(corpus: DataFrame, textCol: String,
      bands: Int = 2, bandBits: Int = 15): DataFrame = {
    val sig = nearDupSignatureAt(col(textCol), bandedWidth(bands, bandBits))
    BandHistory.write(
      corpus.select(posexplode(array((0 until bands).map(
          bandSlice(sig, _, bandBits)): _*)).as(Seq("band", "near_band")))
        .distinct(), bands, bandBits)
  }

  /** [[historicalNearSignaturesAppend]]'s banded twin: fold one new
    * wave of documents into an existing band-key artifact — config
    * from the artifact's own stamp, set-union semantics, so the
    * append equals a from-scratch derivation over the union row for
    * row (spec-asserted); only the new wave is signed. */
  def historicalNearBandKeysAppend(history: DataFrame,
      newDocs: DataFrame, textCol: String): DataFrame = {
    val cfg = BandHistory.check(history, None).get
    history.unionByName(historicalNearBandKeys(newDocs, textCol,
        cfg.getInt(0), cfg.getInt(1)))
      .distinct()
  }

  /** BANDED near-dup dedup — the RECALL lever q143's width table
    * shows the single-signature gate lacks (edited-copy recall ≤ 0.5
    * at every width on the driver corpus): compute one
    * `bands·bandBits`-wide signature and drop a document when ANY
    * band (a `bandBits`-bit slice) was already seen — the LSH OR-
    * banding construction (q131's knob) applied to the streaming
    * gate. A light edit that flips bits in one band still collapses
    * through the other(s): with per-band match probability p, banded
    * recall is 1 − (1 − p)^bands, bought with ~bands× the false-
    * collapse rate and `bands` state operators (one [[keepFirst]] per
    * band, spec-asserted). The (bands, bandBits) point is PRICED by
    * q144's knob table (false collapse at the full-corpus horizon vs
    * planted edited-copy recall, per config — bands = 1 reconciles
    * with q143's width rows); fix the config from that table before
    * enabling.
    *
    * Registration semantics, stated honestly: band b's state
    * registers the band-b keys of documents that SURVIVED bands
    * 0..b−1 (a doc dropped at an earlier band never registers its
    * later bands). Every kept document registers ALL its bands, so
    * arrivals always test against the full band set of every keeper;
    * what is NOT registered is the unmatched bands of already-dropped
    * duplicates — the same non-transitivity every LSH gate accepts.
    * Defaults: 2 bands × 15 bits (the portableHashMod ceiling is
    * bands·bandBits ≤ 31).
    *
    * `history` ([[historicalNearBandKeys]] at the SAME (bands,
    * bandBits), checked at composition time) bootstraps every band:
    * band b's arrivals anti-join the history's band-b keys STATELESSLY
    * before its stateful stage — history rides the plan (broadcast
    * when it fits), never the store, exactly the [[dedupNormalized]]
    * bootstrap. */
  def dedupNearBanded(docs: DataFrame, textCol: String,
      eventTimeCol: String, horizon: String, bands: Int = 2,
      bandBits: Int = 15, history: Option[DataFrame] = None): DataFrame = {
    val width = bandedWidth(bands, bandBits)
    history.foreach(BandHistory.check(_, Some(Seq(bands, bandBits))))
    val signed = docs.withColumn("near_sig_full",
      nearDupSignatureAt(col(textCol), width))
    (0 until bands).foldLeft(signed) { (d, b) =>
      keepFirst(d, bandSlice(col("near_sig_full"), b, bandBits),
        s"near_band_$b", eventTimeCol, horizon,
        history.map(_.filter(col("band") === b)
          .select(col("near_band").as(s"near_band_$b"))))
    }.drop("near_sig_full")
  }

  /** One registered document in a verified-gate bucket: id, sorted
    * distinct shingle hashes (the verification payload), event-time
    * millis (the eviction key). */
  case class NearVerifiedEntry(docId: Long, hs: Array[Long], tsm: Long)

  /** Per-bucket state of the verified gate: registered keepers, FIFO
    * up to the cap. */
  case class NearVerifiedState(entries: List[NearVerifiedEntry])

  /** One (document, band) row entering the verified gate. */
  case class NearBandDoc(band: Int, bucket: Long, docId: Long,
    hs: Seq[Long], ts: java.sql.Timestamp)

  /** One verdict per (document, band): `kept = false` means this
    * band's state held a VERIFIED (exact-Jaccard) near-duplicate —
    * `dup_of` names it. A document is a verified near-dup of history
    * iff ANY of its band verdicts says `kept = false`. */
  case class NearVerifiedVerdict(doc_id: Long, band: Int,
    event_ms: Long, kept: Boolean, dup_of: Long)

  /** Exact t = 1/2 Jaccard verification over two SORTED DISTINCT hash
    * arrays — the integer form `3·|∩| ≥ |A| + |B|` (q131's exact
    * predicate) via a two-pointer merge. */
  private[graft] def verifiedHalfJaccard(a: Array[Long],
      b: Seq[Long]): Boolean = {
    var i = 0; var j = 0; var inter = 0L
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    3L * inter >= a.length.toLong + b.length.toLong
  }

  /** THE verified-gate registration fold, shared by the streaming
    * group function ([[processNearVerifiedBucket]]) and the batch
    * history bootstrap ([[historicalVerifiedKeepers]]) — one
    * definition, so a bootstrapped stream holds exactly the keeper
    * state the corpus streamed in arrival order would have built:
    * arrivals (sorted (tsm, id) — keep-first is deterministic across
    * any batching) verify against the registered keepers; a match
    * drops with the keeper named, a miss registers (FIFO-capped). */
  private[graft] def foldVerifiedArrivals(entries0: List[NearVerifiedEntry],
      rows: Seq[NearBandDoc], cap: Int)
      : (List[NearVerifiedEntry], Seq[NearVerifiedVerdict]) = {
    var entries = entries0
    val out = Seq.newBuilder[NearVerifiedVerdict]
    rows.sortBy(r => (r.ts.getTime, r.docId)).foreach { r =>
      val tsm = r.ts.getTime
      entries.find(e => verifiedHalfJaccard(e.hs, r.hs)) match {
        case Some(keeper) =>
          out += NearVerifiedVerdict(r.docId, r.band, tsm,
            kept = false, keeper.docId)
        case None =>
          entries = (entries :+
            NearVerifiedEntry(r.docId, r.hs.toArray, tsm)).takeRight(cap)
          out += NearVerifiedVerdict(r.docId, r.band, tsm,
            kept = true, -1L)
      }
    }
    (entries, out.result())
  }

  /** The fMGWS group function behind [[nearVerifiedVerdicts]]: per
    * (band, bucket), run [[foldVerifiedArrivals]] over the batch's
    * arrivals, evict keepers the watermark has passed by the
    * horizon. */
  private[graft] def processNearVerifiedBucket(horizonMs: Long, cap: Int)(
      key: (Int, Long), rows: Iterator[NearBandDoc],
      state: org.apache.spark.sql.streaming.GroupState[NearVerifiedState])
      : Iterator[NearVerifiedVerdict] = {
    val wm = try state.getCurrentWatermarkMs() catch { case _: Exception => 0L }
    def live(es: List[NearVerifiedEntry]) = es.filter(_.tsm + horizonMs > wm)
    def rearm(es: List[NearVerifiedEntry]): Unit =
      if (es.isEmpty) state.remove()
      else {
        state.update(NearVerifiedState(es))
        try state.setTimeoutTimestamp(
          math.max(es.map(_.tsm).min + horizonMs, wm + 1L))
        catch { case _: UnsupportedOperationException => () } // batch mode
      }
    if (state.hasTimedOut) {
      rearm(live(state.getOption.map(_.entries).getOrElse(Nil)))
      Iterator.empty
    } else {
      val (entries, out) = foldVerifiedArrivals(
        live(state.getOption.map(_.entries).getOrElse(Nil)),
        rows.toSeq, cap)
      rearm(entries)
      out.iterator
    }
  }

  /** The verified gate's keyed projection — THE batch derivations,
    * map-side, shared by the gate stream and the history bootstrap:
    * the sorted distinct 3-shingle hash set (q131's shingleHashSets,
    * [[graft.expressions.DedupFunctions.shingleHashSetSorted]]), its
    * 16-hash MinHash
    * ([[graft.expressions.DedupFunctions.minhashSigNative]], the same
    * universal hashes minhashSigs aggregates), and the md5 band
    * buckets ([[graft.functions.TextFunctions.md5BandBucket]], q131's
    * slice-join-hash) over the FIRST bands·rowsPerBand hashes.
    * Documents with no shingle (null, or under 3 tokens) have no key
    * and never enter the gate. One output row per (document, band):
    * `(band, bucket, docId, hs, ts)`, [[NearBandDoc]]'s exact shape
    * (the stream adds its watermark before binding the encoder). */
  private[graft] def verifiedBandKeyed(docs: DataFrame, idCol: String,
      textCol: String, eventTimeCol: String, bands: Int,
      rowsPerBand: Int): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1 && bands * rowsPerBand <= 16,
      "bands * rowsPerBand must fit the 16-hash MinHash signature")
    docs
      .select(col(idCol).cast("long").as("docId"),
        col(eventTimeCol).cast("timestamp").as("ts"),
        shingleHashSetSorted(split(col(textCol), " "), 3).as("hs"))
      .filter(size(col("hs")) > 0)
      .withColumn("msig", minhashSigNative(col("hs"), 16))
      .select(col("docId"), col("hs"), col("ts"),
        posexplode(array((0 until bands).map(b =>
            md5BandBucket(col("msig"), lit(b), rowsPerBand)): _*))
          .as(Seq("band", "bucket")))
      .select(col("band").cast("int").as("band"), col("bucket"),
        col("docId"), col("hs"), col("ts"))
  }

  /** One wave of corpus documents keyed for the verified gate, every
    * row stamped at the wave's snapshot instant `asOfMs`. */
  private def keyedWave(docs: DataFrame, idCol: String, textCol: String,
      asOfMs: Long, bands: Int, rowsPerBand: Int)
      : org.apache.spark.sql.Dataset[NearBandDoc] = {
    import docs.sparkSession.implicits._
    verifiedBandKeyed(
      docs.withColumn("__gate_ts", timestamp_millis(lit(asOfMs))),
      idCol, textCol, "__gate_ts", bands, rowsPerBand).as[NearBandDoc]
  }

  /** Per-bucket keepers as the stamped verified-history artifact. */
  private def keeperArtifact(
      keepers: org.apache.spark.sql.Dataset[(Int, Long, Long, Seq[Long], Long)],
      bands: Int, rowsPerBand: Int, cap: Int): DataFrame =
    KeeperHistory.write(keepers.toDF("band", "bucket", "doc_id", "hs", "tsm"),
      bands, rowsPerBand, cap)

  /** The verified gate's HISTORY artifact (VERDICT r19 §next-1 — the
    * one dedup stage without a bootstrap: a restarted or
    * newly-deployed gate re-admitted every document the corpus
    * already held until the horizon refilled): the keeper state
    * `(band, bucket, doc_id, hs, tsm)` a batch pass over an
    * already-ingested corpus derives — THE shared derivations
    * ([[verifiedBandKeyed]] keys, [[foldVerifiedArrivals]]
    * registration in id order, FIFO-capped), so feeding it through
    * fMGWS initial state leaves the gate in exactly the state the
    * corpus streamed through in id order would have left it
    * (spec-asserted parity). Rows CARRY their config (`bands`,
    * `rows_per_band`, `bucket_cap` stamp) and the gate verifies the
    * artifact matches its own knobs at composition time — the
    * [[historicalNearBandKeys]] stamp discipline.
    *
    * `asOfMs` stamps every keeper's event-time (the corpus snapshot
    * instant) and is deliberately REQUIRED, with no default: history
    * keepers obey the SAME watermark eviction as streamed ones — they
    * verify arrivals until the stream's watermark passes
    * `asOfMs + horizon`, then evict. A stale or zero stamp under
    * real epoch-ms event times means the first watermark advance
    * silently evicts the whole bootstrap (the inert-bootstrap class
    * the config stamp cannot catch, because the config matches) —
    * pass the snapshot's own event-time instant, in the stream's
    * event-time unit. That is the honest bounded-state contract (a
    * keeper held forever is unbounded state by another name);
    * re-derive the artifact at the next corpus snapshot, exactly as a
    * nightly job refreshes every other history relation. Cost: one
    * corpus pass, map-side keys, one exchange on (band, bucket);
    * state size is the gate's own bound (≤ cap keepers' hash sets per
    * touched bucket). */
  def historicalVerifiedKeepers(corpus: DataFrame, idCol: String,
      textCol: String, asOfMs: Long, bands: Int = 1, rowsPerBand: Int = 4,
      bucketCap: Int = 64): DataFrame = {
    import corpus.sparkSession.implicits._
    keeperArtifact(keyedWave(corpus, idCol, textCol, asOfMs, bands,
        rowsPerBand).groupByKey(r => (r.band, r.bucket))
      .flatMapGroups { (key: (Int, Long), rows: Iterator[NearBandDoc]) =>
        val (entries, _) = foldVerifiedArrivals(Nil, rows.toSeq, bucketCap)
        entries.iterator.map(e =>
          (key._1, key._2, e.docId, e.hs.toSeq, e.tsm))
      }, bands, rowsPerBand, bucketCap)
  }

  /** INCREMENTAL maintenance of the verified-history artifact — the
    * index-append discipline ([[graft.operators.Pipeline.indexAppend]]
    * / `invIndexAppend`) applied to [[historicalVerifiedKeepers]]: a
    * nightly refresh folds ONE new wave of documents into the
    * existing artifact instead of re-deriving the world. Config
    * (bands, rowsPerBand, cap) comes from the artifact's own stamp —
    * an append can never silently run at a different geometry — and
    * the output carries the same stamp.
    *
    * Exactness: per (band, bucket), the resident keepers load in
    * registration order and the new wave folds ON TOP through the
    * gate's own [[foldVerifiedArrivals]] — a new doc that exactly
    * half-Jaccard-matches a resident keeper does NOT register
    * (exactly as the streamed gate would drop it), and the FIFO cut
    * continues across the wave boundary (an overflowing bucket
    * forgets its oldest keeper, whichever wave registered it). For
    * that continuity to equal a from-scratch derivation over the
    * full corpus history, waves must append in STRICT event order:
    * `asOfMs` must be > every resident keeper's stamp (required,
    * checked against the artifact in the same one-job stamp read; a
    * same-instant wave is registration-order-ambiguous and must
    * re-derive).
    *
    * Cost: keying is map-side over the NEW wave only; the resident
    * artifact (the gate's own bounded state shape, ≤ cap keepers per
    * touched bucket) rides one cogroup exchange on (band, bucket).
    * The existing corpus is never re-read, let alone re-shingled. */
  def historicalVerifiedKeepersAppend(history: DataFrame,
      newDocs: DataFrame, idCol: String, textCol: String,
      asOfMs: Long): DataFrame = {
    val cfg = KeeperHistory.check(history, None,
      max(col("tsm").cast("long"))).get
    val (bands, rowsPerBand, cap, maxTsm) = (cfg.getInt(0),
      cfg.getInt(1), cfg.getInt(2), cfg.getLong(3))
    // STRICTLY after (review r20): at asOfMs == maxTsm a from-scratch
    // derivation interleaves the waves by docId at the tie while the
    // append folds the new wave on top — same-instant waves are
    // order-ambiguous, so they must re-derive instead
    require(asOfMs > maxTsm,
      s"append wave asOfMs ($asOfMs) does not strictly follow the " +
        s"artifact's newest keeper ($maxTsm) - same-instant waves are " +
        "registration-order-ambiguous; re-derive with " +
        "historicalVerifiedKeepers instead")
    import history.sparkSession.implicits._
    val keyed = keyedWave(newDocs, idCol, textCol, asOfMs, bands, rowsPerBand)
    keeperArtifact(residentVerifiedEntries(history).groupByKey(_._1)
      .cogroup(keyed.groupByKey(r => (r.band, r.bucket))) {
        (key: (Int, Long),
            hstates: Iterator[((Int, Long), NearVerifiedState)],
            nrows: Iterator[NearBandDoc]) =>
          val entries0 = hstates.toSeq.headOption
            .map(_._2.entries).getOrElse(Nil)
          val (entries, _) = foldVerifiedArrivals(entries0, nrows.toSeq, cap)
          entries.iterator.map(e =>
            (key._1, key._2, e.docId, e.hs.toSeq, e.tsm))
      }, bands, rowsPerBand, cap)
  }

  /** The ONE resident-artifact decoder behind the gate's initial
    * state and [[historicalVerifiedKeepersAppend]]'s fold base: one
    * `NearVerifiedState` per (band, bucket), entries in registration
    * order ((tsm, docId) — cross-wave ties are excluded by the
    * append's strict event-order guard, and within one wave the
    * founding derivation itself registered in docId order). */
  private def residentVerifiedEntries(h: DataFrame)
      : org.apache.spark.sql.Dataset[((Int, Long), NearVerifiedState)] = {
    val spark = h.sparkSession
    import spark.implicits._
    h.select(col("band").cast("int").as("band"), col("bucket"),
        col("doc_id").cast("long").as("docId"), col("hs"),
        col("tsm").cast("long").as("tsm"))
      .as[(Int, Long, Long, Seq[Long], Long)]
      .groupByKey(r => (r._1, r._2))
      .mapGroups { (key: (Int, Long),
          rows: Iterator[(Int, Long, Long, Seq[Long], Long)]) =>
        (key, NearVerifiedState(rows
          .map(r => NearVerifiedEntry(r._3, r._4.toArray, r._5))
          .toList.sortBy(e => (e.tsm, e.docId))))
      }
  }

  /** VERIFIED streaming near-dup — the answer to q144's honest
    * finding: on vocabulary-concentrated corpora EVERY
    * signature-collapse config (any width, any banding) pays a
    * near-total false-collapse ceiling, because collapse trusts the
    * signature. This gate doesn't: candidates come from an LSH band
    * bucket (q131's md5-band-hash over the 16-hash MinHash
    * signature — the portable-at-any-r batch derivation, map-side
    * per row), and a
    * candidate only DROPS after exact t = 1/2 Jaccard verification
    * against the registered keeper's sorted shingle-hash set (q131's
    * integer `3·|∩| ≥ |A|+|B|` predicate) — q113 stage 3's
    * LSH+verify semantics AT INGEST, precision-exact by construction
    * (every drop names a true ≥ 1/2-Jaccard keeper in `dup_of`).
    *
    * Emits one [[NearVerifiedVerdict]] per (document, band): a doc is
    * a verified dup iff ANY band verdict has `kept = false` (bands
    * are OR-recall, exactly q131's knob — recall per band ≈ J^r, so
    * more bands of fewer rows buy recall and cost only CANDIDATE
    * probes, never false drops). With bands > 1 a doc dropped by one
    * band may still register in another's state (the groups process
    * independently) — registration redundancy, not a correctness
    * leak: every future match is verified regardless of which keeper
    * it hits.
    *
    * State posture, stated honestly: this gate holds REAL payload —
    * per (band, bucket), up to `bucketCap` keepers' sorted hash sets
    * (~8 bytes per distinct shingle per keeper), watermark-evicted at
    * the horizon and FIFO-evicted at the cap (an overflowing bucket
    * forgets its oldest keeper and may re-admit that keeper's late
    * dups — the capacity trade, sized by q131's bucket-occupancy
    * shape). That is the price of verification an unbounded stream
    * can pay ONLY because LSH bounds each arrival's comparisons to
    * its bucket's ≤ cap keepers — never all-pairs, never a corpus
    * join. The single stateful operator is
    * `flatMapGroupsWithState` with event-time timeouts (chaining
    * more stateful ops after fMGWS is unsupported by Spark — which
    * is exactly why verdicts, not a filtered stream, are the output:
    * the any-band reduction is the consumer's per-batch map,
    * q113-funnel style).
    *
    * Defaults: 1 band × 4 rows (the q24/q131 production slice —
    * catch heavy near-dups at J^4 per-band recall); bands·rowsPerBand
    * ≤ 16 (the signature width). q147 is THIS gate's knob table:
    * exact-truth recall and candidate precision per (bands,
    * rowsPerBand) prefix-band config, measured by the q131 harness on
    * the identical bucket derivation — read it, fix the config, size
    * `bucketCap` from its candidate volume (q149 prices the cap
    * itself: FIFO-eviction recall loss and keeper-state bytes per
    * (config, cap) at the corpus' real bucket skew).
    *
    * `history` ([[historicalVerifiedKeepers]] at the SAME (bands,
    * rowsPerBand, bucketCap)) closes the cold-start gap every other
    * dedup stage already closed (VERDICT r19 §next-1): the corpus'
    * keeper state loads through fMGWS INITIAL STATE, so batch 1
    * already verifies arrivals against every resident document — a
    * planted near-dup of history drops immediately, keeper-named,
    * with zero warm-up. Unlike the anti-join bootstraps, this history
    * DOES enter the store — verification needs the keepers' hash sets
    * — which is exactly why the artifact is the gate's own bounded
    * state shape (≤ cap keepers per bucket) and why it carries the
    * config stamp the gate verifies at composition time. Watermark
    * eviction applies to history keepers at their stamped `asOfMs`
    * exactly as to streamed ones. */
  def nearVerifiedVerdicts(docs: DataFrame, idCol: String,
      textCol: String, eventTimeCol: String, horizonMs: Long,
      bands: Int = 1, rowsPerBand: Int = 4, bucketCap: Int = 64,
      history: Option[DataFrame] = None)
      : org.apache.spark.sql.Dataset[NearVerifiedVerdict] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val keyed = verifiedBandKeyed(docs, idCol, textCol, eventTimeCol,
        bands, rowsPerBand)
      .withWatermark("ts", s"$horizonMs milliseconds")
      .as[NearBandDoc]
    history.foreach(KeeperHistory.check(_,
      Some(Seq(bands, rowsPerBand, bucketCap))))
    val grouped = keyed.groupByKey(r => (r.band, r.bucket))
    history match {
      case None =>
        grouped.flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Append,
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(
          processNearVerifiedBucket(horizonMs, bucketCap))
      case Some(h) =>
        // the artifact's rows fold into one NearVerifiedState per
        // (band, bucket) via the ONE resident decoder shared with the
        // append (review r20) — registration order ((tsm, id)), so
        // FIFO continuity across the initial-state boundary is exact
        val initial = residentVerifiedEntries(h)
          .groupByKey(_._1).mapValues(_._2)
        grouped.flatMapGroupsWithState(
          org.apache.spark.sql.streaming.OutputMode.Append,
          org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
          initial)(processNearVerifiedBucket(horizonMs, bucketCap))
    }
  }

  /** The PACKAGED any-band reduction over [[nearVerifiedVerdicts]]
    * output (VERDICT r19 §next-6 — every consumer re-implemented the
    * per-batch map and could get it wrong, e.g. keeping a doc one
    * band dropped): one row per document — `kept` iff NO band
    * verdict dropped it, `dup_of` from the FIRST dropping band
    * (lowest band index — first-drop-wins provenance, deterministic
    * at any verdict arrival order), `-1` when kept. A plain bounded
    * aggregation: run it on a batch of verdicts, or per micro-batch
    * inside `foreachBatch` (fMGWS cannot chain further stateful ops —
    * the reason verdicts, not a filtered stream, are the gate's
    * output). */
  def verifiedKeeps(verdicts: DataFrame): DataFrame =
    verdicts.groupBy(col("doc_id"))
      .agg(max(col("event_ms")).as("event_ms"),
        min(when(!col("kept"), struct(col("band"), col("dup_of"))))
          .as("fd"))
      .select(col("doc_id"), col("event_ms"),
        col("fd").isNull.as("kept"),
        coalesce(col("fd.dup_of"), lit(-1L)).as("dup_of"))

  /** Embedding near-dup streaming dedup: keep the first document per
    * sign-random-projection bucket (streaming q30, completing the
    * batch/stream dedup matrix: exact, SimHash, embedding). The same
    * hyperplane matrix as the batch family
    * ([[graft.operators.Pipeline.srpBucket]]), so a batch job and the
    * ingest stream agree bucket-for-bucket at equal bits.
    *
    * Like [[dedupSimhash]], this is SIGNATURE-COLLAPSE dedup, not
    * pairwise verification: two cosine-θ near-dups share all `bits`
    * hyperplane signs w.p. (1 − θ/π)^bits (≥ 0.95 at 16 bits for the
    * 0.99-cosine dups q30 targets), and collapse requires no join — the
    * only shape that works record-at-a-time on an unbounded stream.
    * Pairwise-verified dedup (and multi-probe recall recovery) stays
    * the batch operator's job (q30/q51).
    *
    * Batch q30 derives its bit count from the corpus size in-plan; an
    * unbounded stream HAS no corpus count, so `bits` is this operator's
    * capacity knob: size it so the expected distinct-document volume
    * per watermark horizon stays well under 2^bits (16 bits ≈ 65k
    * buckets per horizon window; state is one signature per kept doc,
    * evicted at the horizon like the exact twin). */
  def dedupEmbedding(docs: DataFrame, embCol: String, eventTimeCol: String,
      horizon: String, bits: Int = 16): DataFrame =
    keepFirst(docs, graft.operators.Pipeline.srpBucket(
        transform(col(embCol), x => x.cast("double")), bits),
      "srp_sig", eventTimeCol, horizon)

  /** PASSAGE-level streaming dedup (streaming q56): explode each
    * arriving document into non-overlapping `chunkTokens`-token chunks
    * and keep the FIRST occurrence of each chunk within the horizon —
    * the granularity that catches partially-copied documents (quoted
    * passages, boilerplate headers) a whole-document digest misses.
    * Returns the surviving CHUNKS (all input columns + `chunk_idx`,
    * `chunk`); documents shorter than one chunk produce no output,
    * exactly as in the batch operator. The state key is the FULL md5
    * of the chunk, not batch q56's 31-bit oracle-portable hash: a
    * 31-bit key space starts silently dropping distinct chunks as
    * false-positive dups at ~50k in-horizon chunks (birthday bound) —
    * a real hazard at the ingest volumes this operator is pitched for,
    * and the stream side has no DuckDB-portability reason to truncate.
    * Batch/stream chunk AGREEMENT is unaffected: both derive the chunk
    * text identically, and md5 collisions are cryptographically
    * negligible (the same contract as [[dedupExact]]).
    *
    * Scale posture: chunking and hashing are map-side (the toks
    * projection guards the nested-HOF recompute trap exactly as the
    * batch plan does); state is one key per distinct in-horizon chunk
    * — larger than document-level state by the chunks-per-doc factor,
    * which is why the horizon (and RocksDB) matter more here. */
  def dedupPassages(docs: DataFrame, textCol: String, eventTimeCol: String,
      horizon: String, chunkTokens: Int = 16): DataFrame = {
    val chunks = docs.withColumn("toks", split(col(textCol), " "))
      // filter BEFORE sequence: sequence(1, 0) DESCENDS, not empties
      .filter(size(col("toks")) >= chunkTokens)
      .select(col("*"), posexplode(transform(
        sequence(lit(1), (size(col("toks")) / chunkTokens).cast("int")),
        i => array_join(
          slice(col("toks"), (i - 1) * chunkTokens + 1, lit(chunkTokens)), " ")))
        .as(Seq("chunk_idx", "chunk")))
    keepFirst(chunks, md5(col("chunk").cast("binary")), "chunk_h",
      eventTimeCol, horizon).drop("toks")
  }

  /** CONTENT-DEFINED streaming passage dedup (streaming q72): chunk
    * boundaries follow the content, not token offsets
    * ([[graft.operators.Pipeline.cdcChunkExplode]] — the one shared
    * derivation), so a re-arriving passage is caught even when a new
    * prefix or inserted sentence has shifted it — the copies the
    * fixed-grid twin ([[dedupPassages]]) structurally misses. State
    * key is the full chunk md5 (the [[dedupPassages]] collision
    * rationale); everything before the state exchange is map-side
    * array math, stream-safe by construction. */
  def dedupPassagesCdc(docs: DataFrame, textCol: String, eventTimeCol: String,
      horizon: String, cutMod: Int = 8): DataFrame =
    keepFirst(graft.operators.Pipeline.cdcChunkExplode(docs, textCol, cutMod),
      md5(col("chunk").cast("binary")), "chunk_h", eventTimeCol, horizon)

  /** EXACT image dedup at ingest — streaming q97's `exact` face: keep
    * the first media row per payload byte digest within the horizon.
    * No decode anywhere: the digest is pure column math over the
    * binary payload (codegen'd md5), so the gate costs the same as
    * [[dedupExact]] regardless of media size or codec. */
  def dedupImageExact(files: DataFrame, payloadCol: String,
      eventTimeCol: String, horizon: String): DataFrame =
    keepFirst(files, md5(col(payloadCol)), "media_digest", eventTimeCol,
      horizon)

  /** The decoding media gates' key: `tag:` + the shared decode's
    * signature, computed inside a UDF — not a Column expression,
    * because no Catalyst builtin decodes media; this is the streaming
    * seam of the batch `mapPartitions` decode, one row in, one short
    * signature out, payload never shuffled. A payload no codec accepts
    * degrades to byte-exact dedup — the `raw:` key is its md5 hex
    * ([[graft.operators.Multimodal.md5Hex]], the batch exact faces'
    * digest) — instead of every such row colliding on one null
    * signature. */
  private def decodedOrRaw(payload: Column, tag: String)(
      decode: Array[Byte] => Option[String]): Column =
    udf { (p: Array[Byte]) =>
      decode(p).fold("raw:" + Multimodal.md5Hex(p))(s"$tag:" + _)
    }.apply(payload)

  /** PERCEPTUAL image dedup at ingest — streaming q97's `near` face as
    * signature-collapse (the [[dedupSimhash]] acceptance: two
    * perceptual copies share the full 56-bit dHash — q97's measured
    * d = 0 mass — and collapse with no pairwise comparison, the only
    * shape an unbounded stream admits; Hamming 1–3 recovery stays the
    * batch operator's banded join). The signature is THE shared
    * derivation ([[graft.operators.Multimodal.perceptualDHash]]:
    * decode → 8×8 bilinear raster → dHash), so the gate and a batch
    * q97 run agree hash-for-hash; undecodable payloads take the
    * [[decodedOrRaw]] byte-exact key. */
  def dedupImagePerceptual(files: DataFrame, payloadCol: String,
      eventTimeCol: String, horizon: String): DataFrame =
    keepFirst(files, decodedOrRaw(col(payloadCol), "ph")(
        Multimodal.perceptualDHash(_).map(_.toString)),
      "img_sig", eventTimeCol, horizon)

  /** GAIN-INVARIANT audio dedup at ingest — streaming q98's robust face
    * as signature-collapse on THE shared derivation
    * ([[graft.operators.Multimodal.audioFingerprint]]: decode →
    * 16-segment energy profile → 31 comparison bits), so the gate and a
    * batch q98 run agree bit-for-bit: a loudness-changed copy arriving
    * within the horizon collapses structurally (positive gain moves no
    * comparison). Same UDF seam and degrade contract as
    * [[dedupImagePerceptual]] ([[decodedOrRaw]]). */
  def dedupAudioGain(files: DataFrame, payloadCol: String,
      eventTimeCol: String, horizon: String): DataFrame =
    keepFirst(files, decodedOrRaw(col(payloadCol), "af")(
        Multimodal.audioFingerprint(_).map(_.toString)),
      "audio_sig", eventTimeCol, horizon)

  /** FRAME-SET video dedup at ingest — the streaming face of q99's
    * signature relation: each container decodes through THE shared
    * derivation ([[graft.operators.Multimodal.frameKeys]]) and
    * collapses on its SORTED distinct frame-key set, so re-encoded,
    * re-ordered, or duplicate-frame re-packagings of the same footage
    * dedup with no pairwise comparison. TRIM containment (a strict
    * subset of frames) is deliberately NOT a stream-gate shape — it
    * needs the batch operator's key-blocked join (q99's `near` face);
    * this gate is the exact/set face an unbounded stream admits (the
    * [[dedupSimhash]] acceptance). Malformed containers degrade to the
    * byte-exact `raw:` key ([[decodedOrRaw]]). */
  def dedupVideoFrameSet(files: DataFrame, payloadCol: String,
      eventTimeCol: String, horizon: String): DataFrame =
    keepFirst(files, decodedOrRaw(col(payloadCol), "vf")(
        Multimodal.frameKeys(_).map(_.sorted.mkString(","))),
      "video_sig", eventTimeCol, horizon)
}
