package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout utilities for repeated-join workloads: bucketing
  * co-locates both sides of an equi-join on the join key at WRITE
  * time, so every subsequent join/aggregation on that key runs with
  * ZERO shuffle — the 100 TB answer to "lineitem ⋈ orders on every
  * query": pay the orderkey exchange once, at ingest, not per query.
  *
  * (Bucketed tables go through the session catalog — Spark's bucketing
  * metadata lives in the table definition, not the files.)
  */
object Layout {

  /** Write `df` as a bucketed, sorted managed table.
    *
    * r21 (guide §6 small files): the write first CLUSTERS rows by the
    * bucket hash into `numBuckets` partitions — `repartition(n, col)`
    * and Spark's bucket spec share the Murmur3 hash, so every output
    * task holds whole buckets and writes ONE file per bucket it owns
    * (≤ numBuckets files total) instead of tasks × buckets tiny files
    * (P scan partitions × B buckets = up to P·B files per build — the
    * dominant cost of every index build AND of each later bucketed
    * scan's file opens). Bucket contents, sort order, and every serve
    * plan are unchanged; the added exchange is the standard
    * write-clustering trade a 100 TB ingest wants anyway. `mode`
    * Append adds files to an existing table, whose bucket spec must
    * equal this one ([[appendBucketed]]). */
  def writeBucketed(df: DataFrame, table: String, key: String,
      numBuckets: Int, mode: SaveMode = SaveMode.Overwrite): Unit =
    df.repartition(numBuckets, col(key))
      .write
      .mode(mode)
      .bucketBy(numBuckets, key)
      .sortBy(key)
      .saveAsTable(table)

  /** Append `df` to a table [[writeBucketed]] wrote, at the TABLE's
    * bucket count read from the catalog, not the session's: Spark
    * rejects an append whose bucket spec differs from the table's, so
    * an index built under one shuffle parallelism stays appendable
    * under another. */
  def appendBucketed(df: DataFrame, table: String, key: String): Unit =
    writeBucketed(df, table, key, bucketCount(df.sparkSession, table),
      SaveMode.Append)

  /** Bucket count of the bucketed managed table `table`, from the
    * session catalog. */
  def bucketCount(spark: SparkSession, table: String): Int = {
    val id = spark.sessionState.sqlParser.parseTableIdentifier(table)
    spark.sessionState.catalog.getTableMetadata(id).bucketSpec
      .getOrElse(throw new IllegalArgumentException(s"$table is not bucketed"))
      .numBuckets
  }

  /** Bucket count of a banked index built now: the session's shuffle
    * parallelism (`spark.sql.shuffle.partitions`, which
    * [[graft.Sessions.sqlConf]] sets to the core count). The serve
    * plans keep their index scans BUCKETED — the exchange-free joins
    * and aggregations on the bucket key need it — so a scan runs one
    * task per bucket: at this count one scan is one task wave, and the
    * build writes one file per core instead of a fixed count sized
    * for some other machine. Appends keep the table's own count
    * ([[appendBucketed]]). */
  def indexBuckets(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** True when the executed plan of `df` contains any shuffle exchange
    * — the property bucketing is meant to eliminate. */
  def hasShuffle(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Exchange hashpartitioning")

  /** Persist an IVF index AT REST (VERDICT r11 §next-2): the
    * fine-cluster MEMBERSHIP `(vec_id, e, cluster, mask)` as a table
    * bucketed AND sorted on `cluster`, plus the bounded ROUTING
    * relation `(label, cvec, mask)` — one row per coarse centroid —
    * as `<name>_routing`. Real IVF systems persist the index once and
    * serve every query from it; the in-session `.persist` the ANN
    * queries use is only the single-session analog. Bucketing is the
    * point: every serve-time join or aggregation on `cluster` reads
    * co-located, pre-sorted buckets with ZERO exchange (proven in
    * LayoutSpec), and at 100 TB the nprobe cluster lookup touches
    * only the matching buckets' files instead of shuffling the corpus.
    *
    * Routing is tiny by construction (≤ 64 coarse centroids — the
    * same corpus-scaled cap as the build) and is what serve-time needs
    * to assign an EXTERNAL query vector: nearest centroid by the
    * argmax key + the centroid's sub-bucket mask. */
  def writeIvfIndex(members: DataFrame, routing: DataFrame, name: String,
      numBuckets: Int): Unit = {
    dropManagedTable(members.sparkSession, name)
    dropManagedTable(members.sparkSession, name + "_routing")
    writeBucketed(members, name, "cluster", numBuckets)
    routing.write.mode(SaveMode.Overwrite).saveAsTable(name + "_routing")
  }

  /** The two relations of a persisted IVF index: (members, routing). */
  def readIvfIndex(spark: SparkSession, name: String): (DataFrame, DataFrame) =
    (spark.table(name), spark.table(name + "_routing"))

  /** Persist an INVERTED (postings) index AT REST — [[writeIvfIndex]]'s
    * posture applied to text retrieval: the postings relation
    * `(t, doc_id, dl, tf)` as a table bucketed AND sorted on the term
    * `t`, plus the one-row corpus-statistics relation `(nn, avgdl)` as
    * `<name>_stats`. Tokenization and term counting are INGEST work,
    * paid once per corpus version; serve-time ranked retrieval reads
    * only the query terms' postings — the sorted bucketed column turns
    * the term predicate into row-group pruning, and any per-term
    * aggregation (document frequency) runs with ZERO exchange on the
    * bucketed key. At 100 TB the difference is re-tokenizing the
    * corpus per query vs reading a few thousand postings rows. */
  def writeInvertedIndex(postings: DataFrame, stats: DataFrame,
      name: String, numBuckets: Int): Unit = {
    dropManagedTable(postings.sparkSession, name)
    dropManagedTable(postings.sparkSession, name + "_stats")
    writeBucketed(postings, name, "t", numBuckets)
    stats.write.mode(SaveMode.Overwrite).saveAsTable(name + "_stats")
  }

  /** Persist a PRODUCT-QUANTIZATION index AT REST — [[writeIvfIndex]]'s
    * posture applied to compressed ANN serving: the code relation
    * `(vec_id, codes: array<int>, qerr_micro)` — 4 small ints per
    * vector instead of 512 bytes of raw doubles, the whole point of PQ
    * at 100 TB — plus the bounded codebook `(label, cvec)` (≤16 seed
    * rows) as `<name>_codebook` and the one-row stats sidecar
    * `(n, build_n, sum_qerr_micro, build_sum_qerr_micro)` as
    * `<name>_stats`. No bucketing: ADC serving SCANS the code relation
    * by design (that scan is 128× smaller than the raw corpus — the
    * compression IS the pruning); queries broadcast. Encoding is
    * INGEST work, paid once per corpus version; serve pays only table
    * lookups. */
  def writePqIndex(codes: DataFrame, codebook: DataFrame,
      stats: DataFrame, name: String): Unit = {
    val spark = codes.sparkSession
    Seq(name, name + "_codebook", name + "_stats")
      .foreach(dropManagedTable(spark, _))
    codes.write.mode(SaveMode.Overwrite).saveAsTable(name)
    codebook.write.mode(SaveMode.Overwrite).saveAsTable(name + "_codebook")
    stats.write.mode(SaveMode.Overwrite).saveAsTable(name + "_stats")
  }

  /** Persist a bounded codebook relation `(label, cvec)` ALONE — for
    * codebooks whose code relation is not worth resting (q109's
    * residual codes are per-cell basis-dependent and a cheap map-side
    * fold; the expensive artifact is the Lloyd TRAINING, which this
    * banks once per corpus). */
  def writeCodebook(codebook: DataFrame, name: String): Unit = {
    dropManagedTable(codebook.sparkSession, name)
    codebook.write.mode(SaveMode.Overwrite).saveAsTable(name)
  }

  /** The learned BPE merge table AT REST (VERDICT r17 §next-2 — the
    * last trained artifact without a persisted form): one row per
    * merge, `(it, lhs, rhs, pair_count, tokens_after)`, replayed in
    * `it` order by every apply site. Train-once discipline: the
    * learner is deterministic per corpus (count-desc-then-lexicographic
    * argmax), so the stored table equals a retrain bit-exactly
    * (LayoutSpec) and banking changes no oracle row. One file — the
    * table is ≤|vocabulary| rows of strings, driver-bounded by
    * construction. */
  def writeMerges(spark: SparkSession,
      merges: Seq[(Int, String, String, Long, Long)], name: String): Unit = {
    dropManagedTable(spark, name)
    import spark.implicits._
    merges.toDF("it", "lhs", "rhs", "pair_count", "tokens_after")
      .coalesce(1).write.mode(SaveMode.Overwrite).saveAsTable(name)
  }

  /** The banked merge table, in learned (`it`) order — the exact shape
    * [[writeMerges]] stored. */
  def readMerges(spark: SparkSession,
      name: String): Seq[(Int, String, String, Long, Long)] =
    spark.table(name).orderBy(col("it")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getLong(4))).toSeq

  /** The three relations of a persisted PQ index:
    * (codes, codebook, stats). */
  def readPqIndex(spark: SparkSession,
      name: String): (DataFrame, DataFrame, DataFrame) =
    (spark.table(name), spark.table(name + "_codebook"),
      spark.table(name + "_stats"))

  /** Replace a one-row stats sidecar table in place (the incremental
    * stats update of [[graft.operators.Pipeline.invIndexAppend]]). */
  def replaceStats(stats: DataFrame, name: String): Unit = {
    // materialize BEFORE dropping: the new row is derived FROM the
    // table being replaced (read-modify-write), and saveAsTable plans
    // lazily — dropping first would have the write read a dead table
    val rows = stats.collect().toSeq
    val fresh = stats.sparkSession.createDataFrame(
      stats.sparkSession.sparkContext.parallelize(rows, 1), stats.schema)
    dropManagedTable(stats.sparkSession, name)
    fresh.write.mode(SaveMode.Overwrite).saveAsTable(name)
  }

  /** One-row corpus-FINGERPRINT sidecar of a banked artifact (ADVICE
    * r15): `(n_rows, content_hash, content_sum)` of the corpus the
    * artifact was built from, at `<name>_fingerprint`. The
    * build-if-absent sites compare the live corpus against it and
    * rebuild on mismatch — a regenerated corpus retrains instead of
    * silently serving stale codes. See
    * [[graft.operators.Pipeline.corpusFingerprint]] for the hash
    * discipline (the sum accumulator is ADVICE r17's fix for XOR's
    * pairwise duplicate cancellation). */
  def writeFingerprint(spark: SparkSession, name: String,
      fp: (Long, Long, Long)): Unit = {
    dropManagedTable(spark, name + "_fingerprint")
    import spark.implicits._
    Seq(fp).toDF("n_rows", "content_hash", "content_sum")
      .write.mode(SaveMode.Overwrite).saveAsTable(name + "_fingerprint")
  }

  /** The stored corpus fingerprint of a banked artifact — None when
    * the artifact predates fingerprinting, does not exist, or was
    * written by the pre-triple (two-column) format (all mean
    * "rebuild"). */
  def readFingerprint(spark: SparkSession,
      name: String): Option[(Long, Long, Long)] = {
    if (!spark.catalog.tableExists(name + "_fingerprint")) None
    else {
      val t = spark.table(name + "_fingerprint")
      if (t.columns.length < 3) None
      else t.collect().headOption
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    }
  }

  /** Drop `name` AND scrub its warehouse directory: the default
    * in-memory catalog forgets table METADATA at session end but the
    * warehouse directory survives, and `saveAsTable` onto a non-empty
    * location it doesn't own throws — a fresh session rebuilding the
    * index must not trip over the previous session's files. */
  private def dropManagedTable(spark: SparkSession, name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS `$name`")
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), name.toLowerCase)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(dir)) { fs.delete(dir, true); () }
  }

  /** Write `df` hive-partitioned by `partitionCols`: predicates on
    * those columns become PARTITION PRUNING — whole directories never
    * enter the scan, the coarse-grained skip that makes "one day out
    * of three years" queries read 0.1% of a 100 TB table. Pair with a
    * time/tenant column of bounded cardinality; never partition by a
    * high-cardinality key (millions of directories kill the metastore
    * and the filesystem before the first byte is read).
    *
    * `maxRecordsPerFile` bounds file size so a skewed partition splits
    * instead of producing one giant file; the `repartition` on the
    * partition columns maps each output directory to one task,
    * avoiding the small-files explosion (every task otherwise writes a
    * file into every partition it touches). */
  /** The q122 export MATERIALIZED — write a corpus as training shards
    * at rest: every row keyed by [[Pipeline.shardKey]], routed to
    * `shard = key mod numShards`, and written under
    * `path/shard=N/` with rows ORDERED by the (key, id) shuffle order
    * — a sequential read of a shard file replays exactly the
    * permutation [[Pipeline.q122ShardManifest]]'s order checksum
    * certifies (tied together in ExportSpec: read-back positions
    * recompute the manifest checksum bit-for-bit).
    *
    * `repartition(col("shard"))` hash-partitions on the VALUE, so a
    * shard never splits across tasks (distinct shards may share a
    * task; the partitionBy writer still emits one file per shard) and
    * the task-local (key, id) sort is therefore a correct per-shard
    * order. One hash exchange + in-partition sort + write — the same
    * plan shape as the manifest query, which is the point: computing
    * the manifest and writing the shards share one shuffle at 100 TB. */
  def writeShards(docs: DataFrame, idCol: String,
      path: String, numShards: Int = 8,
      manifestTextCol: Option[String] = None): Unit = {
    writeShardsOrdered(docs, idCol, path, numShards, Seq.empty)
    // optional manifest SIDECAR (`<path>/_manifest`): the q122 rows
    // for the export just written — the artifact [[appendShards]]
    // merges against, so an append never re-reads the world to learn
    // per-shard counts and checksums
    manifestTextCol.foreach { textCol =>
      Pipeline.shardManifestOf(docs, idCol, textCol, numShards)
        .withColumn("n_shards", lit(numShards))
        .coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(path + "/_manifest")
      // wave sidecar: the founding write is wave 0 — see [[appendShards]]
      writeWaves(docs.sparkSession, path,
        listShardFiles(docs.sparkSession, path).map((0, _)))
    }
  }

  /** Per-export-path append locks (ADVICE r18): two same-JVM callers
    * mutating one export's sidecars serialize — the read-modify-write
    * manifest merge is not otherwise atomic. CROSS-PROCESS writers are
    * the caller's contract: an export has a SINGLE writer (the
    * streaming writer's foreachBatch is serial by construction; a
    * deployment with several batch jobs appending to one export must
    * serialize them externally, e.g. via its scheduler). */
  private val exportLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def withExportLock[T](path: String)(body: => T): T =
    exportLocks.computeIfAbsent(path, _ => new Object)
      .synchronized(body)

  /** The parquet part files of every `shard=N/` directory under an
    * export, as bare file names (Spark part names carry a job UUID, so
    * names are globally unique), with modification times. */
  private[graft] def listShardFiles(spark: SparkSession,
      path: String): Seq[String] = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("shard="))
      .flatMap(d => fs.listStatus(d.getPath).toSeq)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .sortBy(s => (s.getModificationTime, s.getPath.getName))
      .map(_.getPath.getName)
  }

  /** Found the `_waves` sidecar (overwrite): one `(wave, file)` row
    * per part file, the at-rest record of per-file APPEND ORDER
    * (ADVICE r18 — replay order used to be recoverable only from
    * mtime, ambiguous for the streaming writer's sub-second
    * micro-batches on 1s-granularity filesystems). Replay of a shard
    * = its files in wave order (one file per shard per wave), rows in
    * file order — exactly the permutation the manifest checksum
    * certifies. */
  private def writeWaves(spark: SparkSession, path: String,
      rows: Seq[(Int, String)]): Unit = {
    import spark.implicits._
    rows.toDF("wave", "file").coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path + "/_waves")
  }

  /** APPEND one wave's rows to the `_waves` sidecar — an append-only
    * log, so a long-lived streaming export pays O(batch) bookkeeping
    * per micro-batch instead of rewriting the whole sidecar (review
    * r19: the rewrite was O(total files) per batch, quadratic over
    * the export's life, and its Overwrite window was the one moment a
    * concurrent reader could catch the sidecar missing). */
  private def appendWaves(spark: SparkSession, path: String,
      rows: Seq[(Int, String)]): Unit = {
    import spark.implicits._
    if (rows.nonEmpty)
      rows.toDF("wave", "file").coalesce(1)
        .write.mode(SaveMode.Append).parquet(path + "/_waves")
  }

  /** The `(wave, file)` append-order sidecar of an export — empty for
    * exports predating the sidecar (callers fall back to mtime). */
  def readWaves(spark: SparkSession, path: String): Seq[(Int, String)] = {
    val p = new org.apache.hadoop.fs.Path(path + "/_waves")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else spark.read.parquet(path + "/_waves").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)
  }

  /** INCREMENTAL shard export (VERDICT r17 §next-7 — production
    * appends a day's new documents to an existing export instead of
    * re-exporting the world): `newDocs` route to their shards by the
    * SAME hash membership as the original export
    * ([[graft.operators.Pipeline.shardKey]] mod `numShards` — so a
    * half-then-half append lands every document in exactly the shard
    * a full export would, ExportSpec), lay down as one appended file
    * per touched shard in the same (shard, key, id) task order, and
    * the manifest sidecar MERGES commutatively: per touched shard,
    * counts and token totals add, the order-sensitive checksum gains
    * `Σ (n_old + i)·(key mod P) mod P` over the appended rows in
    * their within-file order (positions continue where the resident
    * rows end), and untouched shards' rows — including an epoch-0
    * append's checksums — are byte-identical. Replay contract of an
    * appended shard: files in append order (resident first), rows in
    * file order; the merged checksum certifies exactly that
    * permutation, recomputable from the bytes at rest (ExportSpec).
    * Append order is RECORDED at rest (ADVICE r18): every wave's part
    * files land in the `_waves` sidecar with a monotone wave counter,
    * so replay order is derivable from the manifest directory alone —
    * never from mtime, which sub-second micro-batches make ambiguous.
    * Concurrency (ADVICE r18): same-JVM appends (and compactions) on
    * one path serialize on a per-path lock; across processes an export
    * has a SINGLE writer by contract — the read-modify-write sidecar
    * merge cannot be made atomic against writers this module can't
    * see, so a multi-job deployment serializes appends externally.
    *
    * Scale posture: the append pays ONE hash exchange + in-partition
    * sort over the NEW documents only (the writeShards plan on the
    * delta) plus a ≤numShards-row manifest merge — cost proportional
    * to the day's ingest, never the corpus. Plain (key, id) order
    * only: a curriculum export re-sorts within shards by tier, which
    * an append cannot preserve file-locally — re-export (q137's
    * writeShardsOrdered) is the curriculum path. */
  def appendShards(newDocs: DataFrame, idCol: String, textCol: String,
      path: String, numShards: Int = 8): Unit = withExportLock(path) {
    val spark = newDocs.sparkSession
    val P = graft.functions.TextFunctions.P
    // bootstrap: an export IS a sequence of appends — with no sidecar
    // AND no resident data (fresh path, e.g. the first micro-batch of
    // the streaming writer), the resident manifest is empty and this
    // append FOUNDS the export. A path that holds shard data but no
    // sidecar (a manifest-less writeShards, a curriculum export) must
    // fail loudly instead of silently founding a delta-only manifest
    // that ignores every resident row (review r18).
    val manifestPath = new org.apache.hadoop.fs.Path(path + "/_manifest")
    val rootPath = new org.apache.hadoop.fs.Path(path)
    val fs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old =
      if (fs.exists(manifestPath)) {
        val m = spark.read.parquet(path + "/_manifest")
        // the resident modulus is the append's contract: a mismatched
        // numShards would route documents to shards a full export
        // would never place them in (review r18)
        if (m.columns.contains("n_shards")) {
          val resident = m.select(col("n_shards")).head().getInt(0)
          require(resident == numShards,
            s"export at $path was written with $resident shards; " +
              s"appendShards was called with $numShards")
        }
        m.select("shard", "n_docs", "n_tokens", "order_checksum",
          "head_doc_id")
      } else {
        require(!fs.exists(rootPath) ||
          fs.listStatus(rootPath).forall(
            _.getPath.getName.startsWith("_")),
          s"export at $path holds shard data but no _manifest sidecar " +
            "- write it with writeShards(manifestTextCol = Some(...)) " +
            "or compact first; appending blindly would found a " +
            "delta-only manifest that ignores every resident row")
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType.fromDDL(
            "shard INT, n_docs BIGINT, n_tokens BIGINT, " +
              "order_checksum BIGINT, head_doc_id BIGINT"))
      }
    // wave accounting (ADVICE r18): the sidecar is the resident-file
    // record (O(batch) appends — no per-batch relisting of history);
    // a pre-sidecar export's residents seed waves 0..k−1 in mtime
    // order, one-time best effort — every later wave is exact
    val known = readWaves(spark, path)
    val (seedRows, nextWave) =
      if (known.nonEmpty) (Seq.empty[(Int, String)], known.map(_._1).max + 1)
      else {
        val resident = listShardFiles(spark, path)
        (resident.zipWithIndex.map { case (f, i) => (i, f) },
          resident.length)
      }
    // delta rows at rest: the writeShards plan over the new docs only
    newDocs.withColumn("sk", Pipeline.shardKey(col(idCol)))
      .withColumn("shard", pmod(col("sk"), lit(numShards.toLong)).cast("int"))
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("sk"), col(idCol))
      .write.mode(SaveMode.Append).partitionBy("shard").parquet(path)
    // one post-write listing finds this wave's files; files the
    // sidecar doesn't know (a prior crash-before-sidecar append) join
    // this wave rather than staying unattributed — the manifest still
    // doesn't count their rows, so the reconcile audit flags them
    val knownFiles = (known.map(_._2) ++ seedRows.map(_._2)).toSet
    val appended = listShardFiles(spark, path).filterNot(knownFiles)
    appendWaves(spark, path, seedRows ++ appended.map((nextWave, _)))
    // manifest merge: delta positions continue after the resident rows
    val delta = newDocs
      .select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_toks"),
        Pipeline.shardKey(col(idCol)).as("sk"))
      .withColumn("shard", pmod(col("sk"), lit(numShards.toLong)).cast("int"))
      .withColumn("pos0", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
          .orderBy(col("sk"), col("doc_id"))))
      .join(old.select(col("shard"), col("n_docs").as("old_n")),
        Seq("shard"), "left")
      .withColumn("pos", col("pos0") + coalesce(col("old_n"), lit(0L)))
      .withColumn("term", pmod(col("pos") * pmod(col("sk"), lit(P)), lit(P)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("d_docs"), sum(col("n_toks")).as("d_tokens"),
        (sum(col("term").cast("decimal(38,0)")) % lit(P)).cast("long")
          .as("d_checksum"),
        max(when(col("pos0") === 1, col("doc_id"))).as("d_head"))
    val merged = old.join(delta, Seq("shard"), "full_outer")
      .select(col("shard"),
        (coalesce(col("n_docs"), lit(0L)) + coalesce(col("d_docs"), lit(0L)))
          .as("n_docs"),
        (coalesce(col("n_tokens"), lit(0L)) + coalesce(col("d_tokens"), lit(0L)))
          .as("n_tokens"),
        pmod(coalesce(col("order_checksum"), lit(0L))
          + coalesce(col("d_checksum"), lit(0L)), lit(P)).as("order_checksum"),
        coalesce(col("head_doc_id"), col("d_head")).as("head_doc_id"))
      .orderBy(col("shard"))
    // read-modify-write: materialize BEFORE overwriting the source
    // (the replaceStats discipline — the plan reads the table being
    // replaced)
    val rows = merged.collect().toSeq
    spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), merged.schema)
      .withColumn("n_shards", lit(numShards))
      .write.mode(SaveMode.Overwrite).parquet(path + "/_manifest")
  }

  /** COMPACT an appended export back to the canonical one-file-per-
    * shard, (key, id)-ordered form — the lifecycle closer for
    * [[appendShards]]: many append waves accumulate one file per
    * touched shard per wave (a small-files problem at daily cadence),
    * and the streaming writer's documented replay window can
    * double-append a batch whose files committed but whose manifest
    * didn't. Compaction repairs both: rows DEDUPLICATE by id (an
    * append never legitimately re-adds an id — [[appendShards]]' hash
    * membership is id-determined), the survivors re-export through
    * the [[writeShards]] plan, and the sidecar resets to the full
    * re-export's manifest (order checksums return to q122's
    * (key, id) form — exactly the q141 `checksum_full` column).
    * The rewrite stages beside the export and swaps in via two CHECKED
    * renames (ADVICE r18: never delete the live export before its
    * replacement is in place — Hadoop rename reports failure by
    * returning false, and an unchecked delete-then-rename destroys the
    * export on any rename failure): live moves aside, the compacted
    * copy installs, only then does the old copy delete. A crash
    * between the renames leaves the full export at
    * `<path>.compact.old` — recoverable, never destroyed.
    * Cost: one full read + the writeShards exchange — the operation a
    * deployment schedules weekly against daily appends. */
  def compactShards(spark: SparkSession, path: String, idCol: String,
      textCol: String, numShards: Int = 8): Unit = withExportLock(path) {
    // the resident sidecar's modulus wins over the parameter: a
    // compaction preserves the export's hash membership by definition
    // (review r18 — nothing else at rest records the shard count)
    val manifestPath = new org.apache.hadoop.fs.Path(path + "/_manifest")
    val mfs = manifestPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val shards =
      if (!mfs.exists(manifestPath)) numShards
      else {
        val m = spark.read.parquet(path + "/_manifest")
        if (m.columns.contains("n_shards"))
          m.select(col("n_shards")).head().getInt(0)
        else numShards
      }
    val resident = spark.read.parquet(path)
      .drop("shard", "sk").dropDuplicates(idCol)
    // the rewrite streams corpus→tmp distributed (no driver
    // materialization — the staging dir is DIFFERENT from the read
    // target, so the lazy read is safe until the swap below)
    val tmp = path + ".compact.tmp"
    writeShards(resident, idCol, tmp, shards, Some(textCol))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val live = new org.apache.hadoop.fs.Path(path)
    val staged = new org.apache.hadoop.fs.Path(tmp)
    val aside = new org.apache.hadoop.fs.Path(path + ".compact.old")
    if (fs.exists(aside)) fs.delete(aside, true)
    require(fs.rename(live, aside),
      s"compactShards: could not move the live export aside ($path); " +
        "nothing was modified")
    require(fs.rename(staged, live),
      s"compactShards: could not install the compacted copy at $path; " +
        s"the original export is intact at $aside")
    fs.delete(aside, true)
    ()
  }

  /** STANDING manifest-vs-bytes reconcile audit (VERDICT r18 §next-4):
    * recompute every shard's counts, token totals, and order-sensitive
    * checksum FROM THE BYTES AT REST — replay order from the `_waves`
    * sidecar (mtime fallback for pre-sidecar exports), positions
    * continuing across waves exactly as [[appendShards]] lays them
    * down — and join the `_manifest` sidecar, flagging divergence as
    * columns:
    *
    *  - `counts_equal` / `checksum_equal`: false when bytes exist the
    *    manifest doesn't count (replay window (a) — crash after the
    *    parquet commit, before the manifest);
    *  - `ids_unique`: false when a batch replayed into BOTH bytes and
    *    manifest (replay window (b) — crash after the manifest, before
    *    the deliverOnce marker): counts and checksums reconcile
    *    CLEANLY there, and distinct-id comparison is the only catch
    *    (ADVICE r18) — an append never legitimately re-adds an id.
    *
    * Any false flag → run [[compactShards]] (dedup by id + canonical
    * re-export + fresh manifest), then this audit returns all-true.
    * This is the query a deployment SCHEDULES between appends and
    * trainer reads; q146 is its oracle face (the planted replay
    * fixture, cross-engine certified). Cost: one full read of the
    * export + one shard exchange — the audit's price is a scan, never
    * a rewrite. */
  def reconcileShards(spark: SparkSession, path: String, idCol: String,
      textCol: String): DataFrame = withExportLock(path) {
    // the whole audit runs UNDER the per-path lock and returns a
    // ≤numShards-row snapshot: a same-JVM append racing the audit
    // could otherwise interleave between the sidecar reads and the
    // byte scan (half-written waves/manifest read as spurious flags —
    // review r19); cross-process, the single-writer contract plus
    // scheduling the audit between appends is the deployment's job
    val P = graft.functions.TextFunctions.P
    val waves = readWaves(spark, path) match {
      case w if w.nonEmpty => w
      case _ => listShardFiles(spark, path).zipWithIndex
        .map { case (f, i) => (i, f) } // legacy: mtime order, one file/wave
    }
    // the file→wave map rides a BROADCAST join against the sidecar
    // relation, not a typedLit plan literal (ADVICE r19: one literal
    // entry per part file grows unboundedly with wave count on a
    // long-lived daily-append export — plan serialization must not
    // scale with the export's age; a join side scales for free).
    // ONE row per file NAME (min wave): one partitionBy write lands
    // the same part-file name in every shard directory it touches, so
    // the sidecar holds that name once per shard — and the legacy
    // mtime fallback above assigns those occurrences DIFFERENT wave
    // indices. As a map literal the duplicates collapsed silently; as
    // a join side any surviving duplicate would multiply every row of
    // that file (inflating counts/checksums into a false audit flag),
    // so collapse to the earliest wave per name before broadcasting.
    import spark.implicits._
    val waveRel = broadcast(waves.map { case (w, f) => (f, w) }
      .groupMapReduce(_._1)(_._2)(math.min).toSeq
      .toDF("file_name", "wave"))
    val rows = spark.read.parquet(path)
      .withColumn("file_name",
        element_at(split(input_file_name(), "/"), -1))
      .join(waveRel, Seq("file_name"), "left")
      // a file the sidecar doesn't know (replay window (a): bytes
      // committed, crash before the wave/manifest write) sorts LAST —
      // it is by construction the latest append
      .withColumn("wave", coalesce(col("wave"), lit(Int.MaxValue)))
      .drop("file_name")
      .withColumn("pos", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("shard"))
          .orderBy(col("wave"), col("sk"), col(idCol))))
    val bytes = rows
      .withColumn("term", pmod(col("pos") * pmod(col("sk"), lit(P)), lit(P)))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs_bytes"),
        countDistinct(col(idCol)).as("n_distinct_ids"),
        sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens_bytes"),
        (sum(col("term").cast(org.apache.spark.sql.types.DecimalType(38, 0)))
          % lit(P)).cast("long").as("checksum_bytes"))
    val manifest = spark.read.parquet(path + "/_manifest")
      .select(col("shard"), col("n_docs").as("n_docs_manifest"),
        col("n_tokens").as("n_tokens_manifest"),
        col("order_checksum").as("checksum_manifest"))
    val audit = manifest.join(bytes, Seq("shard"), "full_outer")
      .select(col("shard"), col("n_docs_manifest"), col("n_docs_bytes"),
        col("n_distinct_ids"), col("n_tokens_manifest"),
        col("n_tokens_bytes"), col("checksum_manifest"),
        col("checksum_bytes"),
        (col("n_docs_manifest") <=> col("n_docs_bytes") &&
          col("n_tokens_manifest") <=> col("n_tokens_bytes"))
          .as("counts_equal"),
        (col("checksum_manifest") <=> col("checksum_bytes"))
          .as("checksum_equal"),
        (col("n_distinct_ids") <=> col("n_docs_bytes")).as("ids_unique"))
      .orderBy(col("shard"))
    // snapshot while still under the lock: the result is ≤ numShards
    // rows, and a lazy plan would re-read the export after release
    val snapshot = audit.collect()
    spark.createDataFrame(
      java.util.Arrays.asList(snapshot: _*), audit.schema)
  }

  /** [[writeShards]] with CURRICULUM columns leading the within-shard
    * order (q137's export materialized): rows lay down as
    * (shard, curriculum…, key, id). An empty `curriculum` is exactly
    * [[writeShards]]' shuffled order; a length tier (or any integer
    * difficulty proxy) makes the bytes at rest easy-first per shard —
    * the trainer reads the curriculum by reading the file. Same
    * one-exchange plan; the partition column still LEADS the task
    * sort so the partitionBy writer adds no unstable re-sort (the
    * ordering bug this module documents). */
  def writeShardsOrdered(docs: DataFrame, idCol: String, path: String,
      numShards: Int, curriculum: Seq[Column]): Unit =
    docs.withColumn("sk", Pipeline.shardKey(col(idCol)))
      .withColumn("shard", pmod(col("sk"), lit(numShards.toLong)).cast("int"))
      .repartition(col("shard"))
      // shard LEADS the sort: the partitionBy writer requires ordering
      // by the partition column and would insert its own UNSTABLE sort
      // otherwise, destroying the (key, id) order this write exists to
      // lay down; with the child already ordered (shard, key, id) the
      // required ordering is satisfied as a prefix and no sort is added
      .sortWithinPartitions(
        (col("shard") +: curriculum) ++ Seq(col("sk"), col(idCol)): _*)
      .write.mode(SaveMode.Overwrite)
      .partitionBy("shard").parquet(path)

  def writePartitioned(df: DataFrame, path: String,
      partitionCols: Seq[String], maxRecordsPerFile: Long = 5000000L): Unit =
    df.repartition(partitionCols.map(df.col): _*)
      .write
      .mode(SaveMode.Overwrite)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** Scale a numeric column into the `[0, 2^bits)` grid cell index for
    * [[zValue]]: `floor((c − min) · 2^bits / (max − min + 1))` —
    * integer-exact for long inputs, monotone, total over the declared
    * range. Bounds come from the caller (table statistics at ingest
    * time), not a data pass. */
  def rangeBucket(c: Column, min: Long, max: Long, bits: Int): Column =
    // Column./ is double division; the cast truncates the non-negative
    // quotient = floor. Deterministic in-engine (layout is not an
    // oracle-shared surface, so no cross-engine float contract needed).
    ((c - lit(min)).cast("double") * lit((1L << bits).toDouble) /
      lit((max - min + 1).toDouble)).cast("long")

  /** Interleave the low `bits` of two grid indices into a Z-value
    * (Morton code): bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Sorting by this single long clusters rows so that ranges on
    * EITHER dimension map to contiguous-ish runs — the property that
    * turns parquet row-group min/max stats into row-group PRUNING for
    * two-dimensional predicates. Pure long arithmetic, codegen'd —
    * 2·bits shift/mask terms OR-folded. */
  def zValue(a: Column, b: Column, bits: Int): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)

  /** Three-way Morton interleave: bit i of `a` lands at 3i, of `b` at
    * 3i+1, of `c` at 3i+2 — [[zValue]]'s curve in three dimensions
    * (bits ≤ 21 keeps the code in 63 bits). The marginal locality per
    * dimension is thinner than 2-D (each dimension owns a third of the
    * low bits, so same-granularity pruning needs coarser ranges or
    * more row groups) — that trade is the reason to stop at the
    * dimensions queries actually filter on, not a reason to stay at
    * two when they filter on three. */
  def zValue3(a: Column, b: Column, c: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 21, "bits in [1, 21]: 3·bits must fit a long")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 3 * i)
        .bitwiseOR(shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 3 * i + 1))
        .bitwiseOR(shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), 3 * i + 2))
    }.reduce(_ bitwiseOR _)
  }

  /** [[writeZOrdered]] on THREE dimensions — range predicates on any
    * of the three prune row groups via min/max stats. */
  def writeZOrdered3(df: DataFrame, path: String,
      a: (String, Long, Long), b: (String, Long, Long),
      c: (String, Long, Long), bits: Int = 16,
      blockSize: Option[Long] = None): Unit = {
    val z = zValue3(
      rangeBucket(df.col(a._1), a._2, a._3, bits),
      rangeBucket(df.col(b._1), b._2, b._3, bits),
      rangeBucket(df.col(c._1), c._2, c._3, bits), bits)
    val w = df.withColumn("_z", z)
      .repartitionByRange(col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite)
    blockSize.fold(w)(s => w.option("parquet.block.size", s)).parquet(path)
  }

  /** Write `df` Z-ordered on two numeric dimensions — the multi-column
    * answer where [[writeBucketed]]'s single-key sort stops: a file
    * sorted only by `a` prunes row groups for predicates on `a` and
    * reads EVERYTHING for predicates on `b`; Z-ordering gives both
    * dimensions locality, so min/max stats skip row groups for ranges
    * on either (the OPTIMIZE-ZORDER idea, expressed as a plain sorted
    * parquet write). `repartitionByRange` on the Z-value keeps the
    * curve contiguous ACROSS files too — file-level pruning first,
    * row-group pruning inside. `blockSize` bounds the row-group size
    * (the pruning granule): smaller groups prune finer but carry more
    * footer overhead — at 100 TB leave the 128 MB default; tests
    * shrink it to get many groups from small fixtures. */
  def writeZOrdered(df: DataFrame, path: String,
      a: (String, Long, Long), b: (String, Long, Long), bits: Int = 16,
      blockSize: Option[Long] = None): Unit = {
    val z = zValue(
      rangeBucket(df.col(a._1), a._2, a._3, bits),
      rangeBucket(df.col(b._1), b._2, b._3, bits), bits)
    val w = df.withColumn("_z", z)
      .repartitionByRange(col("_z"))
      .sortWithinPartitions(col("_z"))
      .drop("_z")
      .write.mode(SaveMode.Overwrite)
    blockSize.fold(w)(s => w.option("parquet.block.size", s)).parquet(path)
  }

  /** The partition filters the scan of `df` actually prunes with —
    * empty means every predicate arrives too late (post-scan) and the
    * full directory tree is listed and read. */
  def partitionFilters(df: DataFrame): String = {
    val plan = df.queryExecution.executedPlan.toString
    plan.linesIterator.find(_.contains("PartitionFilters:")).getOrElse("").trim
  }
}
