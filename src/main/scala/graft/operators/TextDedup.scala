package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftvec.TextHashExpr
import org.apache.spark.storage.StorageLevel

import graft.functions.TextAnalysis

/** Near-duplicate document detection — the LLM-training-pipeline dedup
  * family: MinHash + banded LSH, SimHash with exact-recall banding, and
  * the relational exact-Jaccard baseline.
  *
  * Every hash is deterministic integer arithmetic (polynomial rolling
  * hash mod 1e9+7, affine permutations, 31-chains), so a DuckDB oracle
  * reproduces byte-identical signatures — and results are invariant
  * across partitionings, retries, and cluster sizes.
  *
  * All shingle handling is hash-space: the codegen'd `ShingleHashes`
  * expression hashes n-gram windows straight off the token array (no
  * shingle strings ever materialize), and joins/intersections key on
  * 8-byte longs, not n-gram text. (Distinct hashes stand in for
  * distinct shingles; with P≈1e9 both engines see the same rare
  * collisions, so results still agree bit-for-bit.)
  *
  * Scale design: no operator here ever forms an all-pairs cross product.
  *  - MinHash: shuffle on (band, bandValue) — candidates only.
  *  - SimHash: pigeonhole banding (maxHamming+1 bands ⇒ a qualifying
  *    pair always shares a band ⇒ EXACT recall), shuffle on band value.
  *  - Exact Jaccard: shuffle on shingle hash (equi-join), never on pairs.
  */
object TextDedup {

  val P: Long = TextAnalysis.FingerprintMod

  /** Threshold-tuned LSH band count for an h-hash signature — the ONE
    * home for the policy LeakSafeSplit introduced: the band S-curve
    * threshold sits near (1/b)^(1/r) with r = h/bands, so low Jaccard
    * thresholds need narrow bands or candidate recall collapses (at
    * h=16, 4 bands centers ~0.71 — screening at threshold 0.5 with it
    * silently misses most true pairs). With h=16: threshold ≥ 0.65 →
    * 4 bands (r=4), ≥ 0.35 → 8 (r=2), else 16 (r=1 — every shared
    * minhash is a candidate).
    */
  def bandsFor(threshold: Double): Int =
    if (threshold >= 0.65) 4
    else if (threshold >= 0.35) 8
    else 16

  /** Deterministic affine MinHash coefficients (a odd, in [1,P); b in [0,P)). */
  def minhashCoeffs(h: Int, seed: Long = 42L): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(h) {
      val a = (math.abs(rnd.nextLong()) % (P - 1)) | 1L
      val b = math.abs(rnd.nextLong()) % P
      (a, b)
    }
  }

  /** doc → (id, distinct shingle hashes); empty-shingle docs dropped. */
  def withShingleHashes(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      array_distinct(TextHashExpr.shingleHashes(
        TextAnalysis.tokens(col(textCol)), n)).as("__shh"))
      .filter(size(col("__shh")) > 0)

  /** Band value: 31-chain fold over one signature band (r entries).
    * Public so [[ParagraphIndex]]'s per-row stream probe computes the
    * SAME band keys as the batch banding — one home, in lockstep.
    */
  def bandValue(sig: Column, j: Int, r: Int): Column =
    aggregate(slice(sig, j * r + 1, r), lit(0L), (acc, x) => acc * 31 + x)

  /** The `bands` [[bandValue]]s of a frame's `__sig` column, for
    * [[Banding.explode]]: ONE home for the MinHash band keys keeps the
    * pair join, the streaming suppressor, the on-disk index and the
    * DuckDB band mirror in lockstep.
    */
  private def sigBands(h: Int, bands: Int): Seq[Column] = {
    require(h % bands == 0, s"h $h not divisible by bands $bands")
    (0 until bands).map(j => bandValue(col("__sig"), j, h / bands))
  }

  /** Candidate pairs sharing at least one MinHash band. */
  def minhashCandidatePairs(df: DataFrame, idCol: String, textCol: String,
      n: Int, h: Int, bands: Int, seed: Long = 42L): DataFrame =
    candidatePairsFromBase(
      withShingleHashes(df, idCol, textCol, n), idCol, h, bands, seed)

  /** One (id[, carry...], band, value) row per signature band — the
    * bucketing primitive shared by the pair join and the streaming
    * near-dup suppressor. Pure scan-time expressions.
    */
  def bandedSignatures(df: DataFrame, idCol: String, textCol: String,
      n: Int, h: Int, bands: Int, seed: Long = 42L,
      carry: Seq[String] = Nil): DataFrame = {
    val keep = Seq(col(idCol)) ++ carry.map(col)
    val sig = df
      .select(keep :+ array_distinct(TextHashExpr.shingleHashes(
        TextAnalysis.tokens(col(textCol)), n)).as("__shh"): _*)
      .filter(size(col("__shh")) > 0)
      .withColumn("__sig",
        TextHashExpr.minhashSignature(col("__shh"), minhashCoeffs(h, seed)))
    Banding.explode(sig, idCol +: carry, sigBands(h, bands))
  }

  /** Candidate pairs from a precomputed (id, shingle hashes) table
    * (the unverified-candidates entry point, [[minhashCandidatePairs]]).
    */
  private def candidatePairsFromBase(base: DataFrame, idCol: String,
      h: Int, bands: Int, seed: Long): DataFrame = {
    val sig = base
      .select(col(idCol).as("__id"), col("__shh"))
      .withColumn("__sig", TextHashExpr.minhashSignature(col("__shh"), minhashCoeffs(h, seed)))
    Banding.selfPairs(Banding.explode(sig, Seq("__id"), sigBands(h, bands)), Nil)
      .distinct()
  }

  /** MinHash+LSH near-dup: banded candidates verified with the exact
    * distinct-shingle Jaccard (jac = |∩| / (n1+n2-|∩|)).
    *
    * FUSED band + verify (one join instead of three): the shingle
    * array rides THROUGH the band explode, so a banded collision row
    * already carries both sides' shingle sets and the exact-Jaccard
    * verify is a scan expression over the join output. The two verify
    * joins — and the candidate-distinct exchange that fed them — are
    * gone; the persisted shingle table is read exactly twice (the two
    * sides of the band self-join) instead of four times. A pair
    * colliding in k bands is verified k times (k ≤ bands, same
    * deterministic jaccard each time) and collapsed by the final
    * distinct — same pair set, same values as the unfused shape. The
    * trade: band-join shuffle rows widen by one shingle array per side
    * (bands copies per doc), bounded by bands × corpus bytes, against
    * which two full-table shuffle joins over the candidate space
    * disappear.
    *
    * Ids are assumed unique and non-NULL: rows sharing an id never
    * pair with each other and a NULL id never pairs
    * ([[Banding.selfPairs]]), and if two rows shared an id, one
    * `(id1, id2)` could come back once per distinct jaccard of the
    * rows behind it.
    *
    * The shingle-hash table still feeds two consumers racing within
    * the one banded self-join job, so it stays persisted
    * MEMORY_AND_DISK (one scan+tokenize+hash pass instead of two).
    * Unbounded-corpus callers should checkpoint the table instead.
    */
  def minhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, h: Int = 16, bands: Int = 0,
      seed: Long = 42L): DataFrame = {
    // bands = 0 → threshold-tuned (see bandsFor): a fixed default of 4
    // centered the candidate S-curve at ~0.71, silently missing most
    // true pairs for the common threshold 0.5
    val b = if (bands > 0) bands else bandsFor(threshold)
    val sh = graft.core.CacheBin.trackEager(
      withShingleHashes(df, idCol, textCol, n)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val sig = sh
      .select(col(idCol).as("__id"), col("__shh"))
      .withColumn("__sig",
        TextHashExpr.minhashSignature(col("__shh"), minhashCoeffs(h, seed)))
    val banded = Banding.explode(sig, Seq("__id", "__shh"), sigBands(h, b))
    Banding.selfPairs(banded, Seq("__shh"))
      .withColumn("__i", size(array_intersect(col("__shh1"), col("__shh2"))))
      .withColumn("jaccard",
        col("__i").cast("double") /
          (size(col("__shh1")) + size(col("__shh2")) - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
      .distinct()
  }

  /** Incremental (continuous-ingestion) dedup: drop incoming documents
    * that are near-duplicates of the EXISTING corpus. One-sided banded
    * join — incoming band rows only ever meet corpus band rows, so the
    * shuffle is (incoming + corpus) band rows keyed on (band, value),
    * never a growing pair space — then the exact distinct-shingle
    * Jaccard verify. Returns the surviving incoming rows unchanged.
    *
    * This is the batch shape of the streaming suppressor
    * (`StreamDedup`): at 100 TB the corpus side is the materialized
    * band table maintained across ingests (write `bandedSignatures`
    * partitioned by band once, scan it per batch), which this method's
    * join accepts unchanged.
    */
  def minhashDedupAgainst(incoming: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String, threshold: Double,
      n: Int = 3, h: Int = 16, bands: Int = 0, seed: Long = 42L): DataFrame = {
    val bandsN = if (bands > 0) bands else bandsFor(threshold)
    // FUSED band + verify (see minhashNearDupPairs): the shingle arrays
    // ride the one-sided band join, so each side's scan+tokenize+hash
    // subtree is evaluated exactly ONCE in the whole plan — the two
    // eager persist pins (two dedicated materialization jobs) and the
    // two verify joins of the unfused shape are gone with it. A
    // (in, co) pair colliding in k bands is verified k times (same
    // deterministic jaccard) and collapsed by the final distinct on
    // the incoming id — identical drop set either way.
    def bandsOf(df0: DataFrame, as: String, shAs: String) = {
      val sig = withShingleHashes(df0, idCol, textCol, n)
        .select(col(idCol).as(as), col("__shh").as(shAs))
        .withColumn("__sig",
          TextHashExpr.minhashSignature(col(shAs), minhashCoeffs(h, seed)))
      Banding.explode(sig, Seq(as, shAs), sigBands(h, bandsN))
    }
    val drops = bandsOf(incoming, "__in", "__s1")
      .join(bandsOf(corpus, "__co", "__s2"), Seq("band", "val"))
      .withColumn("__i", size(array_intersect(col("__s1"), col("__s2"))))
      .filter(col("__i").cast("double") /
        (size(col("__s1")) + size(col("__s2")) - col("__i")).cast("double") >= threshold)
      .select(col("__in").as(idCol)).distinct()
    incoming.join(drops, Seq(idCol), "left_anti")
  }

  /** Materialize the dedup index for screen-once/ingest-many reuse
    * (the [[minhashDedupAgainst]] corpus side, made durable — the
    * dedup analog of [[IvfIndex.buildIndex]]):
    *
    *  - `path/bands`: one `(id, band, val)` row per signature band,
    *    written `partitionBy(band)` so a band's bucket files co-locate;
    *  - `path/shingles`: `(id, __shh)` — the distinct-shingle hash
    *    arrays the exact-Jaccard verify needs;
    *  - `path/meta`: one row of `(n, h, bands, seed)` — screening and
    *    appends read their hash parameters from here, so an index can
    *    never be probed with a mismatched signature scheme.
    *
    * At 100 TB the accepted-corpus band table is maintained across
    * ingests by [[appendToDedupIndex]]; each batch screens against the
    * files instead of re-hashing the whole history.
    */
  // bands cannot auto-tune here: the screening threshold is chosen at
  // dedupAgainstIndex time, after the index is built. Pass
  // bands = bandsFor(intended screening threshold) — the stored meta
  // then pins it for every screen and append. The default 4 suits
  // thresholds >= 0.65; screening a 4-band index at 0.5 loses most
  // candidate recall (see bandsFor).
  def writeDedupIndex(docs: DataFrame, idCol: String, textCol: String,
      path: String, n: Int = 3, h: Int = 16, bands: Int = 4,
      seed: Long = 42L): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    writeIndexRows(docs, idCol, textCol, path, n, h, bands, seed,
      mode = "overwrite")
    Seq((n, h, bands, seed)).toDF("n", "h", "bands", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
  }

  private[graft] def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int, Int, Long) = {
    val m = spark.read.parquet(s"$path/meta").head()
    (m.getInt(0), m.getInt(1), m.getInt(2), m.getLong(3))
  }

  private def writeIndexRows(docs: DataFrame, idCol: String,
      textCol: String, path: String, n: Int, h: Int, bands: Int,
      seed: Long, mode: String): Unit = {
    val sh = withShingleHashes(docs, idCol, textCol, n)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // no eager pin: the two writes below are sequential jobs — the
      // first (bands) materializes the cache via its range-sampling
      // pass, the second (shingles) reads it warm; a dedicated count
      // was one extra full scan+hash pass per index write
      val sig = sh.withColumn("__sig",
        TextHashExpr.minhashSignature(col("__shh"), minhashCoeffs(h, seed)))
      // value-sorted band layout: each band directory's row groups
      // cover tight `val` ranges, so the screen's probe-value pushdown
      // skips row groups whose band-value range contains no incoming
      // signature (the shingle table's id-sorted discipline, applied
      // to the candidate side)
      Banding.explode(sig, Seq(idCol), sigBands(h, bands))
        .repartitionByRange(col("band"), col("val"))
        .sortWithinPartitions(col("band"), col("val"))
        .write.mode(mode).partitionBy("band").parquet(s"$path/bands")
      // id-sorted, range-partitioned layout: every shingle row group
      // covers a TIGHT id range, so the screen's candidate-id pushdown
      // (dedupAgainstIndex) skips row groups on parquet min/max stats
      // instead of scanning the whole corpus per delta. Appends keep
      // the property per file generation (daily ids are monotone).
      sh.repartitionByRange(col(idCol)).sortWithinPartitions(idCol)
        .write.mode(mode).parquet(s"$path/shingles")
    } finally sh.unpersist()
  }

  /** Append newly-accepted documents to an existing index (run after
    * [[dedupAgainstIndex]] admits a batch): hash parameters come from
    * the stored meta; band rows land as new files inside the existing
    * `band=` directories and shingle rows append alongside.
    */
  def appendToDedupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, accepted: DataFrame, idCol: String,
      textCol: String): Unit = {
    assertNotCompacting(spark, path) // appends mid-swap would be lost
    val (n, h, bands, seed) = readIndexMeta(spark, path)
    writeIndexRows(accepted, idCol, textCol, path, n, h, bands, seed,
      mode = "append")
  }

  /** Small-file hygiene for an appended index: every
    * [[appendToDedupIndex]] lands one more file generation per band
    * directory, and screening then pays a parquet footer read per file.
    * Rewrites both tables size-targeted — band rows range-partitioned
    * on (band, val) so each rewritten file covers a contiguous value
    * range (min/max footer pruning for the screen's band join) — then
    * swaps the directories. Concurrency is governed by the
    * [[CompactionLeaseFile]] lease: a second compactor, screener, or
    * appender on the same path fails fast while the lease is live
    * instead of racing the swap; run it between ingest batches like
    * any table maintenance.
    *
    * Also folds replay duplicates: a crash-replayed ingest batch
    * re-appends its band and shingle rows verbatim (see
    * [[graft.streaming.IngestDedup.admitBatch]]), which screening
    * tolerates but each probe then pays for twice. Both tables are
    * exact-ROW distinct'd — an id re-ingested with new text owns two
    * legitimate shingle arrays the screen verifies against, so
    * compaction must never collapse per id.
    */
  /** Repair an index left mid-[[compactDedupIndex]] by a crash. Each
    * table is in one of the recoverable states the crash-safe swap can
    * produce; roll forward when the compacted table already replaced
    * nothing (live missing, `__compact` complete — swap only runs
    * after a fully-successful write), roll back when the swap never
    * started, and clear leftovers otherwise. Idempotent and cheap (a
    * handful of existence checks) — callers on the read path invoke it
    * before planning against the files.
    */
  def recoverDedupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    Seq(s"$path/bands", s"$path/shingles").foreach { dst =>
      val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(conf)
      val dstP = new org.apache.hadoop.fs.Path(dst)
      val oldP = new org.apache.hadoop.fs.Path(dst + "__old")
      val tmpP = new org.apache.hadoop.fs.Path(dst + "__compact")
      if (!fs.exists(dstP)) {
        if (fs.exists(tmpP)) { // crashed between the two renames
          fs.rename(tmpP, dstP)
          fs.delete(oldP, true)
        } else if (fs.exists(oldP)) { // crashed before the forward rename
          fs.rename(oldP, dstP)
        }
      } else {
        // completed swap that missed its cleanup, or a partial
        // compacted write abandoned before the swap
        fs.delete(oldP, true)
        fs.delete(tmpP, true)
      }
      ()
    }
  }

  /** Writer-exclusion lease for index compaction. The swap in
    * [[compactDedupIndex]] is crash-safe for ONE writer; nothing in
    * the directory protocol alone stops a second job on the same
    * index path from compacting concurrently, or from screening
    * mid-swap and planning against a half-swapped directory. The
    * lease is a create-if-absent marker file (`compact.lease`,
    * holding the owner's unique token): atomic creation is the mutex,
    * a live lease makes every other compactor/screener/appender fail
    * fast with a clear error, and a lease older than `staleMs`
    * (crashed owner) is taken over — [[recoverDedupIndex]] heals
    * whatever the dead owner left behind.
    *
    * Takeover of a stale lease is itself race-free: contenders first
    * win an atomic create-if-absent TAKEOVER LOCK, and only the lock
    * holder may delete the stale lease — after re-checking under the
    * lock that it is still stale — so two contenders can never both
    * "win" and a FRESH lease another takeover just created is never
    * deleted (the lease file itself is never renamed; only a crashed
    * contender's stale LOCK is cleared by rename-to-tombstone).
    * Long compactions do not go falsely stale: the
    * owner renews (touches) its lease on a daemon heartbeat at
    * staleMs/3, verifying its own token is still in the file first —
    * and re-verifies ownership immediately before each directory swap,
    * so an owner that WAS taken over (e.g. a machine pause longer than
    * staleMs) aborts before touching the live tables.
    */
  val CompactionLeaseFile = "compact.lease"
  val DefaultLeaseStaleMs: Long = 30L * 60 * 1000

  private def leasePath(path: String) =
    new org.apache.hadoop.fs.Path(s"$path/$CompactionLeaseFile")

  private def leaseFs(spark: org.apache.spark.sql.SparkSession, path: String) =
    leasePath(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Age of a live lease on `path`, if any (None = no lease — including
    * one that vanishes between the existence check and the stat, which
    * happens for real under takeover contention).
    */
  private def leaseAgeMs(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[Long] =
    fileAgeMs(leaseFs(spark, path), leasePath(path))

  private def fileAgeMs(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[Long] =
    try Some(System.currentTimeMillis() - fs.getFileStatus(p).getModificationTime)
    catch { case _: java.io.FileNotFoundException => None }

  /** The owner token stored in the lease file, if the file exists and
    * is readable (None = no lease, or vanished mid-read).
    */
  private def leaseOwner(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[String] = {
    val lp = leasePath(path)
    val fs = leaseFs(spark, path)
    try {
      val in = fs.open(lp)
      try {
        val bytes = new java.io.ByteArrayOutputStream()
        val buf = new Array[Byte](256)
        var n = in.read(buf)
        while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
        Some(new String(bytes.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
      } finally in.close()
    } catch { case _: java.io.IOException => None }
  }

  /** Acquire the compaction lease or throw; returns the owner token to
    * renew/verify/release with. A fresh lease (age <= staleMs) rejects
    * this writer. A stale one is taken over under the TAKEOVER LOCK
    * (atomic create-if-absent): only the lock holder deletes the stale
    * lease, after re-checking staleness under the lock, then
    * re-contends creation — the lease file is never renamed.
    *
    * Two races the r12 rename-to-tombstone protocol lost — both
    * caught by LeaseStressSpec racing real threads, both closed here:
    *
    *  1. Creation with overwrite = false is the atomic arbiter on
    *     HDFS-class filesystems, but Hadoop's LOCAL filesystem
    *     implements it as exists-then-create — two contenders hitting
    *     the gap both "win". For the file scheme, creation goes
    *     through NIO's O_CREAT|O_EXCL instead, which the kernel
    *     arbitrates. Losing the create race throws either way.
    *  2. Rename-based takeover is ABA-prone: the lease observed stale
    *     can be REPLACED between the staleness check and the rename
    *     (a faster contender completed its whole takeover in that
    *     window), and the rename then steals the new owner's FRESH
    *     lease — restoring it correctly is itself racy when a third
    *     contender creates yet another lease meanwhile. So takeover
    *     does not rename the live lease at all: contenders first
    *     create-if-absent a TAKEOVER LOCK (same atomic primitive),
    *     and only the lock holder may delete the stale lease — after
    *     RE-checking under the lock that it is still stale. The live
    *     lease file is therefore only ever deleted (a) by its owner's
    *     release or (b) under the lock after a stale re-check. A
    *     crashed lock holder's stale lock is cleared by atomic RENAME
    *     to a contender-unique tombstone (one winner; losers throw),
    *     never by delete — a pending delete issued against a lock
    *     observed stale can land arbitrarily later on a successor's
    *     FRESH lock and put two contenders inside the critical
    *     section. The rename's own ABA window (the winner stalls and
    *     renames a refreshed lock) is closed by the tombstone's
    *     preserved mtime: a fresh-aged tombstone is renamed straight
    *     back and the contender backs off.
    *
    * A plain filesystem has no compare-and-swap, so no lock protocol
    * on it is airtight against arbitrary stalls; the residual
    * compound-failure windows (micro-second interleavings stacked on
    * restore failures) all degrade to the same bounded outcome — the
    * robbed writer aborts at its heartbeat / pre-swap ownership
    * verify, wasting one compaction, corrupting nothing.
    */
  val TakeoverLockFile = s"$CompactionLeaseFile.takeover"

  /** Atomic create-if-absent with `content`; false = lost the race.
    * NIO O_EXCL for local paths (Hadoop's local create(overwrite =
    * false) is exists-then-create — NOT atomic); fs.create for
    * HDFS-class schemes where the namenode arbitrates.
    */
  private def createExclusive(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path, content: String): Boolean =
    if (fs.getScheme == "file") {
      val nioPath = java.nio.file.Paths.get(p.toUri.getPath)
      try {
        java.nio.file.Files.createFile(nioPath)
        java.nio.file.Files.write(nioPath,
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        true
      } catch { case _: java.io.IOException => false }
    } else {
      val out =
        try fs.create(p, false)
        catch { case _: java.io.IOException => return false }
      try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      true
    }

  private[graft] def acquireCompactionLease(
      spark: org.apache.spark.sql.SparkSession, path: String,
      staleMs: Long): String = {
    val lp = leasePath(path)
    val fs = leaseFs(spark, path)
    val token = java.util.UUID.randomUUID().toString
    leaseAgeMs(spark, path).foreach { age =>
      if (age <= staleMs)
        throw new IllegalStateException(
          s"dedup index $path is being compacted by another writer " +
            s"(lease age ${age}ms <= stale threshold ${staleMs}ms)")
      // stale: take it over UNDER THE TAKEOVER LOCK
      val lockP = new org.apache.hadoop.fs.Path(s"$path/$TakeoverLockFile")
      fileAgeMs(fs, lockP).foreach { lockAge =>
        if (lockAge <= staleMs)
          throw new IllegalStateException(
            s"lost the stale-lease takeover race on $path " +
              "(another contender holds the takeover lock)")
        // crashed lock holder: exactly ONE contender may clear the
        // stale lock — arbitrated by an atomic RENAME to a
        // contender-unique tombstone, never a delete. A pending
        // delete is an unbounded-delay weapon: issued against a lock
        // observed stale, it can land arbitrarily later and destroy a
        // SUCCESSOR's fresh lock, putting two contenders inside the
        // critical section (where the lease re-check + delete then
        // kills a fresh lease). A rename moves only the single file
        // version it wins; the loser's rename fails (source gone).
        val tomb = new org.apache.hadoop.fs.Path(
          s"$path/$TakeoverLockFile.$token.stale")
        if (!fs.rename(lockP, tomb))
          throw new IllegalStateException(
            s"lost the stale-lease takeover race on $path " +
              "(another contender cleared the stale lock)")
        // anti-ABA: if this contender stalled between the staleness
        // read and the rename, the renamed file may be a successor's
        // FRESH lock (rename preserves mtime, so the tombstone's age
        // tells). Restore it atomically and back off; if a third
        // contender already re-created the lock the restore fails and
        // the robbed holder aborts at its under-lock stale re-check /
        // pre-swap ownership verify — the documented second line.
        if (fileAgeMs(fs, tomb).exists(_ <= staleMs)) {
          fs.rename(tomb, lockP)
          throw new IllegalStateException(
            s"lost the stale-lease takeover race on $path " +
              "(the takeover lock was refreshed mid-clear)")
        }
        fs.delete(tomb, false) // this contender's own tombstone
      }
      if (!createExclusive(fs, lockP, token))
        throw new IllegalStateException(
          s"lost the stale-lease takeover race on $path")
      try {
        // re-check under the lock: the lease may have been replaced by
        // a fresh one before we locked
        fileAgeMs(fs, lp) match {
          case Some(a) if a <= staleMs =>
            throw new IllegalStateException(
              s"lost the stale-lease takeover race on $path " +
                "(the lease was refreshed mid-takeover)")
          case Some(_) => fs.delete(lp, false) // still stale: clear it
          case None => () // already cleared
        }
      } finally fs.delete(lockP, false)
    }
    if (!createExclusive(fs, lp, token))
      throw new IllegalStateException(
        s"lost the compaction-lease race on $path")
    token
  }

  /** Release the lease; when `owner` is non-empty, only if the lease
    * still carries this owner's token — a lease we lost to a stale
    * takeover belongs to the new owner and must not be deleted.
    */
  private[graft] def releaseCompactionLease(
      spark: org.apache.spark.sql.SparkSession, path: String,
      owner: String = ""): Unit = {
    if (owner.isEmpty || leaseOwner(spark, path).contains(owner)) {
      leaseFs(spark, path).delete(leasePath(path), false)
      ()
    }
  }

  /** Throw unless the lease on `path` still carries `owner`'s token —
    * the pre-swap guard: an owner paused past staleMs may have been
    * taken over, and must abort rather than race the new owner's swap.
    */
  private[graft] def verifyLeaseOwner(spark: org.apache.spark.sql.SparkSession,
      path: String, owner: String): Unit =
    if (!leaseOwner(spark, path).contains(owner))
      throw new IllegalStateException(
        s"compaction lease on $path was taken over by another writer " +
          "(this owner exceeded the stale threshold); aborting before the swap")

  /** Heartbeat that touches the lease's modification time every
    * `periodMs` so a long-running compaction never goes falsely stale,
    * verifying the token is still this owner's before each touch (a
    * taken-over owner stops renewing instead of resurrecting a lease
    * it no longer holds).
    */
  private[graft] final class LeaseRenewer(
      spark: org.apache.spark.sql.SparkSession, path: String,
      owner: String, periodMs: Long) extends Thread {
    setDaemon(true)
    setName(s"graft-lease-renew-${leasePath(path).getName}")
    @volatile private var stopped = false
    def shutdown(): Unit = { stopped = true; interrupt() }
    override def run(): Unit =
      try {
        while (!stopped) {
          Thread.sleep(periodMs)
          if (!stopped && leaseOwner(spark, path).contains(owner))
            leaseFs(spark, path)
              .setTimes(leasePath(path), System.currentTimeMillis(), -1)
        }
      } catch { case _: InterruptedException => () }
  }

  /** Fail fast when another job holds a live compaction lease —
    * called by the read/append paths so a job SCHEDULED while a
    * compaction runs is rejected up front instead of planning against
    * a mid-swap index. This is best-effort batch-boundary exclusion,
    * not a read lock: a compactor acquiring the lease AFTER this check
    * can still swap under an already-planned read, whose scan then
    * fails loudly on missing files and is safe to retry (the swap
    * never exposes a half-written table — [[recoverDedupIndex]]'s
    * states are whole directories). A stale lease does NOT block
    * reads: [[recoverDedupIndex]] makes the directories consistent
    * and the dead owner aborts its own swap via the pre-swap owner
    * re-check the moment a new writer takes over.
    */
  private def assertNotCompacting(spark: org.apache.spark.sql.SparkSession,
      path: String, staleMs: Long = DefaultLeaseStaleMs): Unit =
    leaseAgeMs(spark, path).foreach { age =>
      if (age <= staleMs)
        throw new IllegalStateException(
          s"dedup index $path is being compacted (lease age ${age}ms); " +
            "retry after the compaction finishes")
    }

  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytesPerFile: Long = 128L * 1024 * 1024,
      leaseStaleMs: Long = DefaultLeaseStaleMs): Unit = {
    val owner = acquireCompactionLease(spark, path, leaseStaleMs)
    val renewer =
      new LeaseRenewer(spark, path, owner, math.max(leaseStaleMs / 3, 1000L))
    renewer.start()
    try compactDedupIndexLocked(spark, path, targetBytesPerFile, owner)
    finally {
      renewer.shutdown()
      releaseCompactionLease(spark, path, owner)
    }
  }

  private def compactDedupIndexLocked(
      spark: org.apache.spark.sql.SparkSession,
      path: String, targetBytesPerFile: Long, owner: String): Unit = {
    import graft.catalog.Compaction
    recoverDedupIndex(spark, path)
    val conf = spark.sessionState.newHadoopConf()
    // crash-safe swap: the live directory is renamed aside BEFORE the
    // compacted one takes its place (never delete-then-rename — a
    // crash in that window loses the index). Every intermediate state
    // is recoverable by [[recoverDedupIndex]]: __old present ⇒ either
    // roll forward (live missing, __compact gone because the rename
    // completed) or roll back (rename never ran).
    def swap(dst: String, tmp: String): Unit = {
      verifyLeaseOwner(spark, path, owner) // abort if taken over while paused
      val fs = new org.apache.hadoop.fs.Path(dst).getFileSystem(conf)
      val dstP = new org.apache.hadoop.fs.Path(dst)
      val oldP = new org.apache.hadoop.fs.Path(dst + "__old")
      fs.rename(dstP, oldP)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), dstP)
      fs.delete(oldP, true)
      ()
    }
    // bands need the custom partitionBy(band) layout; shingles go
    // through the shared compactor's write half
    val bands = spark.read.parquet(s"$path/bands")
    val nb = Compaction.targetFileCount(bands, targetBytesPerFile)
    // value-sorted within partitions so compacted row groups keep the
    // tight `val` ranges the screen's probe-value pushdown prunes on
    bands.dropDuplicates()
      .repartitionByRange(nb, col("band"), col("val"))
      .sortWithinPartitions(col("band"), col("val"))
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands__compact")
    swap(s"$path/bands", s"$path/bands__compact")
    // exact-ROW distinct, like the band rows: an id re-ingested with
    // NEW text legitimately owns two shingle arrays in the index (the
    // screen verifies against both — see dedupAgainstIndex's re-ingest
    // note), so deduping on id alone would arbitrarily drop one
    // version and change admit decisions post-compaction. Only replay
    // duplicates (identical rows) fold.
    val sh = spark.read.parquet(s"$path/shingles")
    // cluster on the id (first column) so the compacted layout keeps
    // writeIndexRows' id-sorted row groups for the candidate pushdown
    Compaction.compactFrame(sh.dropDuplicates(),
      Compaction.targetFileCount(sh, targetBytesPerFile),
      s"$path/shingles__compact", clusterBy = Seq(sh.columns.head))
    swap(s"$path/shingles", s"$path/shingles__compact")
  }

  /** [[minhashDedupAgainst]] with the corpus side read from a
    * materialized index: drop incoming documents near-duplicating an
    * INDEXED document, return the survivors unchanged. Same one-sided
    * banded join + exact-Jaccard verify — the corpus contributes its
    * stored band rows and shingle arrays, never a re-hash.
    *
    * `excludeSelf` ignores index rows carrying the SAME id as the
    * incoming document — the replay guard for [[graft.streaming.IngestDedup]]:
    * a batch re-screened after its own rows were already admitted must
    * not be annihilated by its own index entries. (It also means a
    * re-ingest of an existing id is not dropped by its previous
    * version — id-identity dedup is a different, upstream concern.)
    */
  /** Largest candidate-id set the screen ships to the driver for the
    * verify-scan pushdown; above it the full-scan join runs unchanged.
    * Bounds BOTH driver traffic (~160 KB of longs) and the literal-set
    * size the filter plants in the plan (an isin this size becomes one
    * InSet probe at eval and a min/max range at the parquet layer —
    * never 20k codegen branches).
    */
  val CandidatePushdownCap: Int = 20000

  def dedupAgainstIndex(spark: org.apache.spark.sql.SparkSession,
      path: String, incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double, excludeSelf: Boolean = false): DataFrame = {
    assertNotCompacting(spark, path) // never plan against a mid-swap index
    recoverDedupIndex(spark, path) // heal a crashed compaction swap first
    val (n, h, bands, seed) = readIndexMeta(spark, path)
    // LAZY persist (track, not trackEager): this method's consumers are
    // strictly SEQUENTIAL jobs — the inB probe collect below is the
    // first and only materializer of inSh's cache, and the final drops
    // job reads it warm — so the eager pin's dedicated count pass was a
    // whole extra scan+tokenize+hash job per screen with no race to
    // prevent (trackEager exists for cached frames whose consumers race
    // WITHIN one job). Same reasoning for inB and cands below: each is
    // fully materialized by its own probe collect before any other
    // consumer plans against it.
    val inSh = graft.core.CacheBin.track(
      withShingleHashes(incoming, idCol, textCol, n)
        .persist(StorageLevel.MEMORY_AND_DISK))
    val inSig = inSh.select(col(idCol).as("__in"), col("__shh"))
      .withColumn("__sig",
        TextHashExpr.minhashSignature(col("__shh"), minhashCoeffs(h, seed)))
    val inBands = Banding.explode(inSig, Seq("__in"), sigBands(h, bands))
    val idxSh = spark.read.parquet(s"$path/shingles")
      .select(col(idCol).as("__co"), col("__shh").as("__s2"))
    // schema-explicit read: an index seeded from an empty corpus has a
    // bands directory with no files yet (a partitionBy write emits none
    // on zero rows) — with the schema given it reads as zero rows
    // instead of failing inference
    val bandsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(idCol,
        idxSh.schema("__co").dataType),
      org.apache.spark.sql.types.StructField("val",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("band",
        org.apache.spark.sql.types.IntegerType)))
    val idxBands0 = spark.read.schema(bandsSchema).parquet(s"$path/bands")
      .select(col(idCol).as("__co"), col("band"), col("val"))
    // Probe-value pushdown (the candidate-side twin of the shingle id
    // pushdown below): the incoming batch's distinct band VALUES are
    // bounded by |incoming| x bands, so when small enough to ship they
    // push into the band scan — with the value-sorted band layout,
    // row groups whose value range holds no incoming signature are
    // skipped on parquet stats. Past the cap the full band join runs
    // unchanged. inBands feeds this probe AND the candidate join —
    // persist it so signatures compute once (lazy: the probe's distinct
    // is shuffle-based, so its map side scans and caches every inB
    // partition before the candidate join plans against it).
    val inB = graft.core.CacheBin.track(
      inBands.persist(StorageLevel.MEMORY_AND_DISK))
    val probeVals = inB.select(col("val")).distinct()
      .limit(CandidatePushdownCap + 1).collect().map(_.get(0))
    val idxBands =
      if (probeVals.length <= CandidatePushdownCap)
        idxBands0.filter(col("val").isin(probeVals.toSeq: _*))
      else idxBands0
    val candsAll = inB.join(idxBands, Seq("band", "val"))
      .select(col("__in"), col("__co"))
    val cands0 = (if (excludeSelf) candsAll.filter(col("__in") =!= col("__co"))
      else candsAll).distinct()
    // consumed by the id-pushdown probe below AND the verify joins —
    // persist so the banded join runs once (lazy: the candIds probe's
    // distinct materializes the cache map-side)
    val cands = graft.core.CacheBin.track(
      cands0.persist(StorageLevel.MEMORY_AND_DISK))
    // Candidate-bounded verify read: the verify only ever needs the
    // CANDIDATES' corpus shingle rows, but a plain join still scans
    // every corpus row group. The candidate id set is bounded by the
    // banded-candidate count — for a daily delta against a big corpus
    // |cands| << |corpus| — so when it is small enough to ship, it
    // collects and pushes an id predicate into the corpus shingle
    // scan; with the index's id-sorted row groups (writeIndexRows),
    // parquet min/max stats skip everything outside the candidates'
    // id ranges and the read becomes candidate-bounded instead of
    // corpus-bounded. Past the cap the full-scan join runs unchanged
    // (driver traffic stays bounded by construction).
    val candIds = cands.select(col("__co")).distinct()
      .limit(CandidatePushdownCap + 1).collect().map(_.get(0))
    val idxShUsed =
      if (candIds.length <= CandidatePushdownCap)
        idxSh.filter(col("__co").isin(candIds.toSeq: _*))
      else idxSh
    val drops = cands
      .join(inSh.select(col(idCol).as("__in"), col("__shh").as("__s1")), "__in")
      .join(idxShUsed, "__co")
      .withColumn("__i", size(array_intersect(col("__s1"), col("__s2"))))
      .filter(col("__i").cast("double") /
        (size(col("__s1")) + size(col("__s2")) - col("__i")).cast("double") >= threshold)
      .select(col("__in").as(idCol)).distinct()
    incoming.join(drops, Seq(idCol), "left_anti")
  }

  /** The shared (`__id`, `__n`, `__h`) exploded-shingle table feeding
    * the Jaccard and containment self-joins, built so its expensive
    * subtree (scan → tokenize → hash) executes exactly ONCE with NO
    * cache: the trailing `repartition(__h)` inserts a shuffle exchange
    * that Spark's ReuseExchange/AQE stage reuse shares across both
    * self-join consumers (Catalyst shares exchange subtrees, not
    * arbitrary ones — measured at sf0.1 this matches a lazy persist's
    * wall time with zero BlockManager traffic and none of the
    * cache-population races a lazy persist suffers under concurrent
    * consumers). The join keys on `__h` anyway, so the exchange is the
    * join's own shuffle, not an extra pass.
    *
    * With `maxDocFreq` (the corpus-scale hot-key guard: a 3-gram of
    * "of the and"-class co-shingles millions of documents and makes
    * its hash group quadratic), document frequency comes from a
    * map-side-combining `groupBy(__h).count()` — NOT a window over the
    * zipf-skewed hash key, which would funnel every row of the hottest
    * hash onto one reducer with no partial aggregation, one stage
    * before the cap could drop them. The over-cap hash list is tiny by
    * construction (≤ distinct-shingles/cap entries), so it broadcasts
    * into a hash anti-join; per-doc sizes are then re-counted over the
    * surviving shingles with a window on `__id` (bounded per-doc group
    * — skew-safe) so both Jaccard/containment denominators reflect the
    * capped shingle space, which the oracles mirror bit-for-bit.
    */
  private[graft] def explodedShingleTable(df: DataFrame, idCol: String,
      textCol: String, n: Int, maxDocFreq: Option[Long]): DataFrame =
    maxDocFreq match {
      case None =>
        withShingleHashes(df, idCol, textCol, n)
          .select(col(idCol).as("__id"), size(col("__shh")).as("__n"),
            explode(col("__shh")).as("__h"))
          .repartition(col("__h"))
      case Some(cap) =>
        import org.apache.spark.sql.expressions.Window
        val ex = withShingleHashes(df, idCol, textCol, n)
          .select(col(idCol).as("__id"), explode(col("__shh")).as("__h"))
          .repartition(col("__h"))
        val hot = ex.groupBy(col("__h")).count()
          .filter(col("count") > cap).select(col("__h"))
        ex.join(broadcast(hot), Seq("__h"), "left_anti")
          .withColumn("__n", count(lit(1)).over(Window.partitionBy(col("__id"))))
          .select(col("__id"), col("__n"), col("__h"))
    }

  /** Relational exact n-gram Jaccard pairs: explode distinct shingle
    * hashes, equi-join on hash (only co-shingled pairs are ever formed),
    * count intersections. The exact baseline at any scale.
    *
    * Plan shape: per-doc shingle counts ride the exploded rows (a
    * `size()` before the explode), so there is NO separate sizes
    * aggregation and no post-join size lookups — one self-join, one
    * groupBy, and the scan+tokenize+hash subtree shared across both
    * join sides via exchange reuse (see [[explodedShingleTable]] for
    * the construction and the `maxDocFreq` hot-shingle cap).
    */
  def jaccardPairsExact(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3, maxDocFreq: Option[Long] = None): DataFrame = {
    val s = explodedShingleTable(df, idCol, textCol, n, maxDocFreq)
    s.as("a")
      .join(s.as("b"), col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("id1"), col("b.__id").as("id2"))
      .agg(count(lit(1)).as("__i"),
        max(col("a.__n")).as("__n1"), max(col("b.__n")).as("__n2"))
      .withColumn("jaccard",
        col("__i").cast("double") / (col("__n1") + col("__n2") - col("__i")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Containment dedup — the sub-document duplicate case symmetric
    * Jaccard misses: a short document fully quoted inside a long one
    * scores jac = |A|/|B| (tiny when sizes differ) but containment
    * |A∩B|/|A| = 1. Drops every document whose distinct-shingle set is
    * >= `threshold` contained in some OTHER document's, keeping the
    * larger side (shingle-count tie → smaller id survives, so exact
    * twins cannot annihilate each other). Returns survivors unchanged.
    *
    * Same relational shape as [[jaccardPairsExact]]: explode distinct
    * shingle hashes, equi-join on the hash (co-shingled pairs only,
    * never a cross product — see [[explodedShingleTable]] for the
    * shared construction and the `maxDocFreq` hot-shingle cap). The
    * pair join is UNDIRECTED (`a.__id < b.__id`): one aggregate row
    * `(i, na, nb)` per unordered pair carries both directions'
    * containment — half the join output and half the aggregation
    * state of the directed `=!=` form — and the two drop verdicts are
    * unfolded from it:
    *   drop a ⇔ i/na ≥ t ∧ nb > na           (b strictly larger)
    *   drop b ⇔ i/nb ≥ t ∧ na ≥ nb           (tie keeps smaller id a)
    * which is exactly the directed rule with `ida < idb` substituted.
    *
    * `maxDocFreq` DEFAULTS ON ([[DefaultContainmentDocFreqCap]]): the
    * uncapped pair space is the sweep's worst second-decade exponent
    * (0.94 — it grows with co-shingled mass), and at 100 TB the cap is
    * not optional, so the capped plan is the one a caller copies.
    * Threshold rule for choosing a cap: a shingle of document
    * frequency df forms up to df·(df−1)/2 pair rows, so the worst-case
    * join output is bounded by Σ_hot df² ≤ (#shingles)·cap — pick cap
    * so that bound fits the pair budget; semantically, a shingle in
    * more than `cap` documents is corpus boilerplate (template/header
    * n-grams) and certifies nothing about PAIRWISE containment, and
    * both containment denominators are recomputed over the capped
    * shingle space (the oracles mirror this bit-for-bit). The default
    * is a pure scale guard sized well above any organic document
    * frequency in the test corpora (max measured df at sf0.1 is 25),
    * so it does not bind there — `q_containment_dfcap` verifies a
    * BINDING cap's values against its own oracle.
    */
  val DefaultContainmentDocFreqCap = 10000L

  def containmentDropContained(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int = 3,
      maxDocFreq: Option[Long] = Some(DefaultContainmentDocFreqCap)): DataFrame = {
    val s = explodedShingleTable(df, idCol, textCol, n, maxDocFreq)
    val pairAgg = s.as("a")
      .join(s.as("b"), col("a.__h") === col("b.__h") && col("a.__id") < col("b.__id"))
      .groupBy(col("a.__id").as("__ida"), col("b.__id").as("__idb"))
      .agg(count(lit(1)).as("__i"),
        max(col("a.__n")).as("__na"), max(col("b.__n")).as("__nb"))
    val dropA = (col("__i").cast("double") / col("__na").cast("double") >= threshold) &&
      (col("__nb") > col("__na"))
    val dropB = (col("__i").cast("double") / col("__nb").cast("double") >= threshold) &&
      (col("__na") >= col("__nb"))
    val drops = pairAgg
      .select(explode(array(when(dropA, col("__ida")), when(dropB, col("__idb"))))
        .as(idCol))
      .filter(col(idCol).isNotNull)
      .distinct()
    df.join(drops, Seq(idCol), "left_anti")
  }

  val SimhashBits = 30 // polyHash < 1e9+7 < 2^30

  /** Per-document SimHash over distinct n-gram shingles: bit j is set
    * when the ±1 vote sum over shingle-hash bit j is positive. Shingle
    * units (vs raw tokens) keep the vote space wide enough that
    * unrelated documents land ~SimhashBits/2 apart.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val tok = withShingleHashes(df, idCol, textCol, n)
      .select(col(idCol), explode(col("__shh")).as("__h"))
    val sums = (0 until SimhashBits).map { j =>
      sum(when(shiftright(col("__h"), j).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"__b$j")
    }
    tok.groupBy(col(idCol))
      .agg(sums.head, sums.tail: _*)
      .select(col(idCol),
        (0 until SimhashBits).map { j =>
          when(col(s"__b$j") > 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _).as("simhash"))
  }

  /** SimHash near-dup with EXACT recall: maxHamming+1 bands (pigeonhole —
    * ≤ maxHamming differing bits cannot touch every band), candidates
    * verified by true Hamming distance.
    *
    * Bits are split by [[Banding.bitSlices]] (floor boundaries), so
    * every band covers at least one signature bit at any maxHamming ≤
    * SimhashBits-1. A ceil-width split would leave constant-zero bands
    * past bit 29 (maxHamming 6, 8, 10, ...) that put EVERY document in
    * one bucket — an all-pairs product.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, n: Int = 3): DataFrame = {
    val bands = maxHamming + 1
    require(bands <= SimhashBits,
      s"maxHamming $maxHamming needs $bands bands but only $SimhashBits bits exist")
    // no persist: simhash ends in a groupBy whose shuffle exchange
    // (carrying the 30 partial vote sums — the expensive explode+vote
    // subtree) is shared across both banded-join consumers by
    // ReuseExchange; only the cheap one-row-per-doc final agg + band
    // explode is evaluated per side. Plan-asserted in PlanAuditSpec.
    val sh = simhash(df, idCol, textCol, n).withColumnRenamed(idCol, "__id")
    val banded = Banding.explode(sh, Seq("__id", "simhash"),
      Banding.bitSlices(col("simhash"), SimhashBits, bands))
    Banding.selfPairs(banded, Seq("simhash"))
      .distinct()
      .withColumn("hamming",
        call_function("bit_count", col("simhash1").bitwiseXOR(col("simhash2"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id1"), col("id2"), col("hamming"))
  }
}
