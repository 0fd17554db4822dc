package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** The complete training-corpus preparation pipeline as ONE call — the
  * end-to-end path a 100 TB data-curation run actually executes, each
  * stage the engine's own oracle-verified operator:
  *
  *  0. URL/domain curation (`UrlOps` — canonical-URL exact dedup +
  *     per-domain caps, off unless a URL column is configured; the
  *     crawl-first volume cut, ahead of any content hashing);
  *  0b. byte repair (`TextAnalysis.fixText` — NFC + control strip +
  *     space collapse; off by default) and C4 line curation
  *     (`LineCuration.c4Clean` — line rules + document gate, off by
  *     default): both BEFORE any hashing, because two byte-distinct
  *     spellings of one NFC string would otherwise survive exact
  *     dedup, and chrome lines would dominate MinHash shingles;
  *  1. language allowlist + length floor + exact/near dedup
  *     (`CorpusClean.clean` — banded MinHash, no all-pairs stage),
  *     optionally followed by exact-window dedup (`WindowDedup` —
  *     Lee-et-al-style shared-window removal, off by default);
  *  1b. corpus-level exact line dedup (`LineCuration
  *     .stripDuplicateLines`, off by default) — shared chrome lines
  *     removed from every document before the token-window scrub;
  *  2. cross-document boilerplate removal (`Boilerplate.strip`);
  *  3. quality gates on the CLEANED text: heuristic quality score
  *     floor and bigram-LM floor (`TextAnalysis.qualityScore`,
  *     `TextScore.bigramLogProb`), optionally followed by a LEARNED
  *     gate — a `QualityClassifier` trained on a label column of the
  *     surviving docs, filtering on its micro score;
  *  4. benchmark decontamination (`Decontaminate`, 13-gram overlap);
  *  5. leakage-safe split assignment (`LeakSafeSplit` — near-dup
  *     clusters never straddle train/eval);
  *  6. per-source token-budget mixing of the TRAIN split
  *     (`RowOps.tokenBudgetSample`), optionally followed by a
  *     temperature-flattened ~ n^0.5 source rebalance
  *     (`TemperatureMix`);
  *  7. sequence packing into fixed-token bins (`SeqPack.packByBudget`)
  *     — optionally preceded by fixed-token chunking with overlap
  *     (`ChunkSplit`, chunks become the pack units) and
  *     data-constrained epoch repetition (`EpochBudget`, full epochs
  *     plus a hash-ordered partial), and followed by training-shard
  *     assignment (`TrainShards`).
  *
  * Output: one row per packed training document with `(idCol, split,
  * n_tokens, bin_id, bin_offset, clean_text)` plus the untouched
  * valid/test rows (bin columns null) — everything a tokenizer shard
  * writer needs downstream. With any modern-tail stage enabled the
  * train rows are pack UNITS instead: `(idCol, split, epoch,
  * chunk_idx, n_tokens, bin_id, bin_offset, shard, clean_text)`.
  *
  * Scale story = the composed operators' own stories (each documented
  * in SCALE.md); this class adds no shuffle of its own beyond the
  * stage handoffs.
  */
object CorpusPipeline {

  final case class Config(
      // a URL column turns on the crawl-first curation stage (UrlOps),
      // AHEAD of any content hashing: canonical-URL exact dedup
      // (keep-longest-text, ties to the smallest id), then — with
      // domainCap > 0 — at most domainCap docs per registered domain.
      // The cheapest 30-50% volume cut of a web crawl: it shuffles a
      // ~100-byte canonical key where every later stage shuffles
      // kilobytes of text.
      urlCol: Option[String] = None,
      domainCap: Int = 0,
      // byte repair before any hashing: NFC normalization (codegen'd
      // expression) + control-char strip + space/tab-run collapse —
      // per-row scalar folded into the first scan, zero extra cost
      fixText: Boolean = false,
      // PII scrub (emails/keys/SSNs/IPs/phones/digit runs -> typed
      // tags) in the same scan as byte repair; runs BEFORE hashing so
      // documents differing only in redacted PII dedup together
      redactPii: Boolean = false,
      // > 0 turns on C4 line curation with this per-line word floor:
      // keep lines ending in terminal punctuation with >= c4MinWords
      // words and no blocked phrase; DROP docs with < c4MinKeptLines
      // survivors or a doc-level block phrase (lorem ipsum / brace)
      c4MinWords: Int = 0,
      c4MinKeptLines: Int = LineCuration.DefaultMinKeptLines,
      // > 0 turns on corpus-level exact line dedup: a non-blank line
      // in >= this many DISTINCT documents is removed from every doc
      lineDedupMinDocFreq: Int = 0,
      langs: Seq[String] = Seq("en"),
      // a saved LangIdTrain model path RE-DERIVES the lang column from
      // the text (stateless scan expression) before the allowlist —
      // for corpora arriving WITHOUT trusted language labels
      langIdModelPath: Option[String] = None,
      minChars: Int = 100,
      jaccardThreshold: Double = 0.5,
      boilerWindow: Int = 5,
      boilerMinDocFreq: Int = 3,
      // 0 disables keep-first span dedup (Boilerplate.dedupSpans —
      // later occurrences of any >= spanDedupMinCount-repeated window
      // are stripped, the globally first kept)
      spanDedupWindow: Int = 0,
      spanDedupMinCount: Int = 2,
      // 0 disables exact-window dedup; Lee et al. use ~50-token
      // windows at web scale, pass a smaller n for short documents
      windowDedupN: Int = 0,
      minQuality: Double = 0.0,
      minAvgLogProb: Double = Double.NegativeInfinity,
      // Gopher repetition-filter gate on the cleaned text (dup-line /
      // top-n-gram / dup-n-gram char coverage; binds at the word floor)
      repetitionGate: Boolean = false,
      repetitionMinWords: Int = 50,
      // a label column on `docs` turns on the learned quality gate:
      // the classifier trains on the post-heuristic survivors and
      // drops docs scoring below minQualityMicro (micro units, [0,1e6])
      classifierLabel: Option[String] = None,
      minQualityMicro: Long = 0L,
      classifierBuckets: Int = 512,
      classifierIters: Int = 2,
      decontaminationNgram: Int = 13,
      // 0 = exact decontamination (shuffle join on shingle hashes);
      // > 0 = Bloom-filter decontamination with that many bits — the
      // zero-shuffle scan-predicate form for when the corpus side is
      // the 100 TB side (deterministic false positives only ever drop
      // MORE, never less — still benchmark-clean)
      bloomDecontaminationBits: Int = 0,
      // leak clustering runs BELOW the dedup threshold: docs similar
      // enough to correlate but distinct enough to survive dedup must
      // still share a split
      splitLeakThreshold: Double = 0.3,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05),
      trainBudgetPerSource: Long = Long.MaxValue,
      packTokens: Long = 2048L,
      // ---- modern train-split curation tail (all off by default; the
      // ---- legacy mix+pack output contract is unchanged when off) ----
      // > 0: temperature-flattened (~ n^0.5) rebalance of the train
      // split down to this many documents (TemperatureMix)
      temperatureMixDocs: Long = 0L,
      // > 0: split each surviving train doc into fixed-token chunks
      // with this window (ChunkSplit) — chunks become the pack units
      chunkTokens: Int = 0,
      chunkOverlap: Int = 0,
      // > 0: per-source token budget with repetition (EpochBudget):
      // full epochs up to epochMaxEpochs plus a hash-ordered partial
      epochBudgetPerSource: Long = 0L,
      epochMaxEpochs: Int = 4,
      // > 0: assign each packed bin to a training shard (TrainShards)
      nShards: Int = 0,
      // a saved unigram tokenizer artifact (TokenizerIO.saveUnigram)
      // makes every token count downstream of the split stage
      // MODEL-accurate instead of whitespace-approximate: n_tokens,
      // the per-source budgets, the temperature mix and the pack
      // budgets all then mean real model tokens — the same
      // train-once/count-everywhere seam as streaming ingest's
      // tokenizerPath (IngestDedup.start). Chunk SPLITTING
      // (chunkTokens) stays whitespace-positional — chunk boundaries
      // are defined on the text, not on piece ids.
      tokenizerPath: Option[String] = None)

  /** Unit-key radix for the chunked pack order: `doc_id * ChunkCap +
    * chunk_idx` must be collision-free, so a doc with >= ChunkCap
    * chunks fails loudly instead of silently interleaving.
    */
  val ChunkCap = 1L << 20

  /** One funnel row: documents (or pack units, for the last entries)
    * surviving a named stage.
    */
  final case class StageRows(stage: String, rows: Long)

  /** Run the full preparation over `docs` (needs idCol, textCol, a
    * lang column, and srcCol); `evalSet` is the benchmark to
    * decontaminate against (empty frame → stage is a no-op).
    */
  def prepare(docs: DataFrame, evalSet: DataFrame, cfg: Config = Config(),
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source",
      // UT1-style domain blocklist (one `domain` column): applied at
      // the head of the URL stage, before any content work
      blocklist: Option[DataFrame] = None): DataFrame =
    prepareImpl(docs, evalSet, cfg, idCol, textCol, srcCol, blocklist,
      report = None)

  /** [[prepare]] plus the per-stage survivor funnel — the
    * datasheets-for-datasets artifact a production curation run logs
    * (where did the volume go, which gate was the big cut). Counts for
    * enabled stages come from the already-materialized stage
    * boundaries (each is a cached-scan count, not a recompute of the
    * chain); unmaterialized intermediate counts (url, quality, mix)
    * cost one extra evaluation of that stage and are only paid here —
    * [[prepare]] itself stays count-free.
    */
  def prepareWithReport(docs: DataFrame, evalSet: DataFrame,
      cfg: Config = Config(),
      idCol: String = "doc_id", textCol: String = "text",
      srcCol: String = "source",
      blocklist: Option[DataFrame] = None): (DataFrame, Seq[StageRows]) = {
    val buf = scala.collection.mutable.ListBuffer.empty[StageRows]
    val out = prepareImpl(docs, evalSet, cfg, idCol, textCol, srcCol,
      blocklist, report = Some(buf))
    (out, buf.toList)
  }

  /** Stages 0-4 only — the CURATION half of the pipeline (URL stage,
    * byte repair, C4, language ID, dedup, line dedup, boilerplate,
    * quality gates, decontamination) WITHOUT the training-run tail
    * (split/mix/pack). This is the granularity the daily-delta mode
    * ([[prepareDelta]]) contracts against: `prepareDelta(new, arts)`
    * must equal `curate(old ++ new).filter(id > maxOldId)` under the
    * pinned keep-first rule. Output: the surviving docs with their
    * cleaned text, original columns preserved.
    */
  def curate(docs: DataFrame, evalSet: DataFrame, cfg: Config = Config(),
      idCol: String = "doc_id", textCol: String = "text",
      blocklist: Option[DataFrame] = None): DataFrame =
    curateImpl(docs, evalSet, cfg, idCol, textCol, blocklist, report = None)

  private def noteFn(
      report: Option[scala.collection.mutable.ListBuffer[StageRows]])(
      name: String, df: DataFrame): DataFrame = {
    report.foreach(_ += StageRows(name, df.count()))
    df
  }

  // Stage boundaries are materialized (eager localCheckpoint) ON
  // DEMAND: every join-back stage consumes its input >= 2 times (the
  // left side plus the operator output DERIVED FROM that same
  // input), so each such INPUT is flattened to a materialized scan
  // first — left unmaterialized, the previous stage's whole subtree
  // re-evaluates per consumer and the cost compounds
  // multiplicatively down the chain (measured 2x+ on the
  // full-pipeline bench entry). A stage's OUTPUT, by contrast, is
  // NOT eagerly materialized: whether it needs to be depends on the
  // NEXT consumer, which `flatten` decides — a filter-only handoff
  // (byte repair, quality gates, repetition gate) flows as cheap
  // re-scannable lineage, removing the redundant checkpoints the
  // r13 bench measured as the dominant cost of the all-stages-on
  // pipeline (~1.8x one-shot vs min-of-2). One flat one-row-per-doc
  // frame per materialized boundary is also the production shape at
  // 100 TB: a curation run writes its stage outputs (the checkpoint
  // is the in-session stand-in), and every stage plans against a
  // flat scan instead of a re-nested lineage. Checkpoints register
  // with CacheBin (trackCheckpoint — DataFrame.unpersist cannot
  // free a checkpoint's RDD blocks) so the caller's drain releases
  // them; left untracked, repeated prepare() calls in a long-lived
  // session would accumulate executor storage until GC happened to
  // collect the frames.
  private def stage(df: DataFrame): DataFrame =
    graft.core.CacheBin.trackCheckpoint(df.localCheckpoint(true))
  // `isFlat` = the frame is a materialized scan, or per-row work
  // over one — cheap to evaluate more than once, so a multi-consumer
  // stage can read it twice without a new checkpoint
  private def flatten(df: DataFrame, isFlat: Boolean): DataFrame =
    if (isFlat) df else stage(df)

  /** The materialized artifacts a daily-delta run reuses instead of
    * recomputing the corpus: the accepted-corpus dedup index
    * ([[TextDedup.writeDedupIndex]] / appended by each delta), the
    * corpus-level line-hash index ([[LineIndex]]), the optional fuzzy
    * paragraph band index ([[ParagraphIndex]]), and the frozen quality
    * model ([[QualityClassifier]] artifact — the delta twin of the
    * full run's train-on-survivors gate).
    */
  final case class DeltaArtifacts(
      dedupIndexPath: String,
      lineIndexPath: Option[String] = None,
      paragraphIndexPath: Option[String] = None,
      qualityModelPath: Option[String] = None,
      // append this delta's accepted docs to the dedup index so the
      // NEXT delta screens against them (the ingest-loop contract)
      appendAccepted: Boolean = true)

  /** Daily-DELTA curation: process only `newDocs` against the
    * materialized artifacts of the already-curated corpus instead of
    * recomputing everything — the shape a real 100 TB pipeline runs
    * (one full bootstrap, then deltas). Stages mirror [[curate]] in
    * the same order; the corpus-level stages read the artifacts:
    *
    *  - head stages (URL, byte repair, C4, language ID) — identical
    *    per-row work;
    *  - exact/near dedup WITHIN the delta first (keep-first by id),
    *    THEN the screen against the accepted corpus
    *    ([[TextDedup.dedupAgainstIndex]]) — this order matters: a
    *    delta doc that near-dups an old doc must still block its own
    *    later delta near-dups, exactly as it would in a full run;
    *  - line dedup within the delta plus the [[LineIndex]] strip;
    *    optional [[ParagraphIndex]] fuzzy strip (no full-run
    *    counterpart — production option);
    *  - boilerplate/span/quality/repetition gates within the delta,
    *    with the LEARNED gate scoring through the FROZEN
    *    `qualityModelPath` model instead of retraining;
    *  - decontamination against `evalSet` (per-row, identical);
    *  - accepted docs appended to the dedup index.
    *
    * CORRECTNESS CONTRACT (pinned by CorpusPipelineSpec): with ids
    * assigned monotonically across deltas (every new id > every old
    * id — the keep-first pin: an old doc never loses to a new one),
    * `prepareDelta(new, artifacts(old))` equals
    * `curate(old ++ new).filter(id > maxOldId)`. Documented residual
    * divergences, each the standard incremental-freshness corner:
    *  (a) cross-batch THRESHOLD STRADDLE — a line/boilerplate window
    *      whose doc-frequency reaches the removal floor only when old
    *      and new counts are SUMMED (each side alone below floor) is
    *      removed by the full run but not the delta (the index stores
    *      only at-floor units; refreshed on the next re-index);
    *  (b) LOSER CHAINS — a new doc whose only near-dup link is to an
    *      old doc that was itself dropped (the index holds accepted
    *      docs only);
    *  (c) corpus-relative gates (bigram LM floor, span keep-first)
    *      score within the delta;
    *  (d) the frozen quality model vs the full run's retrained one.
    */
  def prepareDelta(newDocs: DataFrame, evalSet: DataFrame,
      cfg: Config, artifacts: DeltaArtifacts,
      idCol: String = "doc_id", textCol: String = "text",
      blocklist: Option[DataFrame] = None): DataFrame = {
    val spark = newDocs.sparkSession
    val note = (_: String, df: DataFrame) => df
    // 0-0d. identical per-row head
    val (langed, _) = headStages(newDocs, cfg, idCol, textCol, blocklist, note)
    // 1. exact/near dedup within the delta FIRST (see ordering note)
    val inDelta = CorpusClean.clean(stage(langed), cfg.langs, cfg.minChars,
      cfg.jaccardThreshold, idCol = idCol, textCol = textCol)
    // ...then the accepted-corpus screen
    val screened = stage(TextDedup.dedupAgainstIndex(spark,
      artifacts.dedupIndexPath, stage(inDelta), idCol, textCol,
      cfg.jaccardThreshold))
    // 1b. line dedup: within-delta df floor, then the corpus index
    val lindedDelta =
      if (cfg.lineDedupMinDocFreq <= 0) screened
      else screened
        .join(LineCuration.stripDuplicateLines(screened, idCol, textCol,
          cfg.lineDedupMinDocFreq)
          .select(col(idCol), col("clean_text")), idCol)
        .drop(textCol)
        .withColumnRenamed("clean_text", textCol)
    val linded = artifacts.lineIndexPath match {
      case None => lindedDelta
      case Some(p) =>
        val f = LineIndex.loadFilter(spark, p)
        lindedDelta.withColumn(textCol,
          LineIndex.stripLinesExpr(col(textCol), f))
    }
    val paraed = artifacts.paragraphIndexPath match {
      case None => linded
      case Some(p) =>
        val f = ParagraphIndex.loadFilter(spark, p)
        linded.withColumn(textCol,
          ParagraphIndex.stripParagraphsExpr(col(textCol), f))
    }
    // 2-2b. boilerplate + span dedup within the delta
    val boilIn = stage(paraed)
    val boiled = boilIn
      .join(Boilerplate.strip(boilIn, idCol, textCol,
        cfg.boilerWindow, cfg.boilerMinDocFreq)
        .select(col(idCol), col("clean_text")), idCol)
      .drop(textCol)
      .withColumnRenamed("clean_text", textCol)
    val stripped =
      if (cfg.spanDedupWindow <= 0) boiled
      else {
        val in = stage(boiled)
        in.join(Boilerplate.dedupSpans(in, idCol, textCol,
            cfg.spanDedupWindow, cfg.spanDedupMinCount)
            .select(col(idCol), col("clean_text")), idCol)
          .drop(textCol)
          .withColumnRenamed("clean_text", textCol)
      }
    // 3. quality gates — heuristic floor; bigram floor scores within
    // the delta; repetition gate; FROZEN learned gate
    val q1 = stripped.filter(
      TextAnalysis.qualityScore(col(textCol)) >= cfg.minQuality)
    val q2 =
      if (cfg.minAvgLogProb == Double.NegativeInfinity) q1
      else {
        val in = stage(q1)
        in.join(
          TextScore.bigramLogProb(in, idCol, textCol)
            .filter(col("avg_logprob") >= cfg.minAvgLogProb)
            .select(col(idCol)), idCol)
      }
    val q2r =
      if (!cfg.repetitionGate) q2
      else RepetitionRules.gate(q2, idCol, textCol, cfg.repetitionMinWords)
    val q3 = artifacts.qualityModelPath match {
      case None => q2r
      case Some(p) =>
        val model = QualityClassifier.loadModel(spark, p)
        q2r.filter(QualityClassifier.scoreExpr(col(textCol), model) >=
          lit(cfg.minQualityMicro))
    }
    // 4. decontamination — identical per-row work
    val decon =
      if (evalSet.isEmpty) q3
      else {
        val in = stage(q3)
        if (cfg.bloomDecontaminationBits > 0)
          BloomDecontaminate.decontaminate(in, evalSet, idCol, textCol,
            cfg.decontaminationNgram, mBits = cfg.bloomDecontaminationBits)
        else Decontaminate.decontaminate(in, evalSet, idCol, textCol,
          cfg.decontaminationNgram)
      }
    val accepted = stage(decon)
    if (artifacts.appendAccepted)
      TextDedup.appendToDedupIndex(spark, artifacts.dedupIndexPath,
        accepted, idCol, textCol)
    accepted
  }

  /** Re-index TRUE-UP — closes [[prepareDelta]]'s documented corner
    * (a), the cross-batch THRESHOLD STRADDLE: a line whose document
    * frequency reaches the removal floor only when old and new counts
    * are SUMMED (each side alone below floor) is removed by the full
    * run but admitted by the delta, and "the next re-index" that would
    * catch it was never scheduled by anything. This IS that re-index,
    * composed with the catch-up:
    *
    *  1. recompute line-df over old ++ delta (the same single scan the
    *     [[LineIndex]] rebuild needs anyway);
    *  2. diff against the artifact's stored at-floor set — the lines
    *     that JUST crossed the floor (1 old + 1 new at floor 2);
    *  3. refresh the artifact in place (next delta screens at full
    *     freshness), and
    *  4. re-screen the most recent delta's accepted docs against
    *     exactly the newly-at-floor units — an EXACT anti-join strip
    *     (no Bloom: the diff is model-sized, so precision is free).
    *
    * Returns the trued-up delta docs (all columns preserved, `textCol`
    * rebuilt). 100 TB shape: one df aggregation over old ++ delta (the
    * rebuild's own scan), a broadcast anti-join of the tiny floor-diff
    * against the DELTA only — cost scales with the delta plus one
    * corpus line-df pass, which is the re-index's own price, not a new
    * one. Old-corpus docs are NOT rewritten: the full-run twin would
    * strip the straddled line from old docs too, but those shipped in
    * earlier batches — the contract trues up the CURRENT delta (the
    * only batch not yet delivered).
    *
    * Strip grain: each newly-at-floor unit is removed only from docs
    * where the unit appeared as a WHOLE (trimmed) RAW LINE — line
    * provenance carried from `deltaRaw` — matching the full-run twin's
    * line-dedup grain instead of stripping the token run anywhere it
    * occurs in any accepted doc. The one residual over-strip corner,
    * documented: a doc carrying the unit BOTH as a whole line and
    * embedded inside a longer line loses both occurrences (the
    * accepted text is boilerplate-flattened, so position within the
    * doc is gone — only doc-level provenance survives the flatten).
    *
    * `regate`: when a [[Config]] is passed, docs whose text the strip
    * MODIFIED are re-checked against the doc-level gates the config
    * enables (`minChars`, and the heuristic quality floor when
    * `minQuality` > 0) and dropped when they no longer pass —
    * deliberately STRICTER than the full-run twin, whose gates run
    * before line dedup and never see the shrunken text: a doc that
    * passed a gate only thanks to a straddled unit does not stay
    * accepted on the strength of text it no longer has. The re-check
    * runs on the post-strip flattened text and touches ONLY modified
    * docs. A dropped doc was never delivered, so the artifact refresh
    * also excludes its line-df contributions (one extra line-df pass,
    * paid only when something was dropped) — otherwise >= 2 dropped
    * docs sharing a line would leave the index over-flagging future
    * deltas relative to the delivered corpus.
    */
  /** Loud bound on the strip list a single true-up may carry: the
    * newly-at-floor DIFF is model-sized by construction (only units
    * whose df crossed the floor during ONE delta), so a blow-past
    * means the artifact and corpus diverged wholesale (wrong index
    * path, floor change) — fail with the sizing, don't build a
    * corpus-sized strip. The strip itself is a PER-ROW regex (each
    * doc's provenance runs, longest-first alternation, built as DATA
    * with array functions) so the Catalyst expression tree stays flat
    * regardless of unit count — the bound exists to keep per-doc
    * pattern strings and the distributed provenance join honest, not
    * to protect a foldLeft.
    */
  val MaxTrueUpUnits: Int = 10000

  def trueUpDelta(oldDocs: DataFrame, deltaRaw: DataFrame,
      deltaAccepted: DataFrame, artifacts: DeltaArtifacts,
      idCol: String = "doc_id", textCol: String = "text",
      regate: Option[Config] = None): DataFrame = {
    val spark = oldDocs.sparkSession
    val p = artifacts.lineIndexPath.getOrElse(throw new IllegalArgumentException(
      "trueUpDelta needs DeltaArtifacts.lineIndexPath: the straddle " +
        "corner exists only where a line index screens deltas"))
    val meta = spark.read.parquet(s"$p/meta").collect()
    require(meta.length == 1 && meta(0).getString(0) == "line-hash-index",
      s"not a line-hash-index artifact at $p")
    val sep = meta(0).getString(1)
    val floor = meta(0).getInt(2)
    // the stored at-floor set, SNAPSHOTTED eagerly — the overwrite in
    // step 3 would otherwise yank the parquet out from under the plan
    val prior = spark.read.parquet(s"$p/hashes").select(col("hash"))
      .localCheckpoint(true)
    // 1. line-df over RAW old ++ RAW accepted-delta text — the grain
    // the full run's line-dedup sees. (The accepted OUTPUT text can't
    // be used here: the boilerplate stage rebuilds documents as
    // space-joined tokens, so line structure only exists upstream.)
    val acceptedRaw = deltaRaw
      .join(deltaAccepted.select(col(idCol)), Seq(idCol), "left_semi")
    def lineDf(docsDf: DataFrame): DataFrame = docsDf
      .select(col(idCol), explode(split(col(textCol), sep)).as("__l"))
      .filter(length(trim(col("__l"))) > 0)
      .select(col(idCol), trim(col("__l")).as("__u"))
      .groupBy(col("__u"))
      .agg(countDistinct(col(idCol)).as("doc_freq"))
      .filter(col("doc_freq") >= floor)
    val combined = oldDocs.select(col(idCol), col(textCol))
      .unionByName(acceptedRaw.select(col(idCol), col(textCol)))
    // lazily persisted: the nNew sizing count below anti-joins
    // flaggedNow against the prior set, computing (and caching) every
    // partition on the way — the eager pin was a second full line-df
    // pass over old ++ delta for nothing (consumers here are strictly
    // sequential driver actions, not same-job racers)
    val flaggedNow = graft.core.CacheBin.track(
      lineDf(combined).persist())
    // 2. the units that JUST crossed the floor (1 old + 1 new at
    // floor 2 — each side alone under it)
    val newly = flaggedNow
      .withColumn("hash", TextAnalysis.polyHash(col("__u")))
      .join(prior, Seq("hash"), "left_anti")
    // artifact refresh (meta unchanged: same family, sep and floor —
    // only the at-floor set moves), same (hash, doc_freq) schema
    // writeLineIndex produces. Runs AFTER the regate decision below:
    // a doc the re-gate drops was never delivered, so its line
    // contributions must not survive into the artifact (they would
    // over-flag future deltas wherever >= 2 dropped docs shared a
    // line).
    def writeAtFloor(atFloor: DataFrame): Unit = atFloor
      .select(TextAnalysis.polyHash(col("__u")).as("hash"), col("doc_freq"))
      .coalesce(1).write.mode("overwrite").parquet(s"$p/hashes")
    // 4. re-screen the delta's ACCEPTED docs at the full-run twin's
    // grain. The accepted text is the pipeline's token-joined output
    // (line structure flattened away), so the strip needs LINE
    // PROVENANCE from the raw delta: each newly-at-floor unit is
    // removed — as its lowercased TOKEN RUN — only from docs where the
    // unit appeared as a whole trimmed raw line, exactly the docs the
    // full-run twin's line dedup touches. "(?: run(?= ))+" collapses
    // consecutive repeats in one pass; the strip only ever REMOVES
    // text, so upstream scrubs are never resurrected.
    val nNew = newly.limit(MaxTrueUpUnits + 1).count()
    require(nNew <= MaxTrueUpUnits,
      s"true-up diff exceeds $MaxTrueUpUnits units — the newly-at-floor " +
        "set should be one delta's floor crossings; a corpus-sized diff " +
        "means the artifact does not match the corpus (wrong index " +
        "path or a floor change). Rebuild the index instead.")
    if (nNew == 0) { writeAtFloor(flaggedNow); deltaAccepted }
    else {
      val newlyRuns = newly
        .select(col("__u"),
          concat_ws(" ", TextAnalysis.tokens(col("__u"))).as("__run"))
        .filter(length(col("__run")) > 0)
      // per-doc provenance: (doc, set of runs that were whole raw
      // lines of it). Model-sized build side (<= MaxTrueUpUnits units,
      // each matching the handful of docs that straddled the floor).
      val prov = acceptedRaw
        .select(col(idCol), explode(split(col(textCol), sep)).as("__l"))
        .select(col(idCol), trim(col("__l")).as("__u"))
        .join(broadcast(newlyRuns), Seq("__u"))
        .groupBy(col(idCol))
        .agg(collect_set(col("__run")).as("__runs"))
      // per-row pattern, built as DATA: regex-quote each run (escape
      // every non-alnum-nonspace char), order longest-first (regex
      // alternation is ordered — a run that is a prefix of a longer
      // run must not shadow it mid-match), join into one alternation
      val quoted = transform(col("__runs"),
        r => regexp_replace(r, lit("([^a-zA-Z0-9 ])"), lit("\\\\$1")))
      val ordered = array_sort(quoted, (l, r) =>
        when(length(l) > length(r), -1)
          .when(length(l) < length(r), 1)
          .when(l < r, -1).when(l > r, 1).otherwise(0))
      val pattern = concat(lit("(?: (?:"), array_join(ordered, "|"),
        lit(")(?= ))+"))
      val padded = concat(lit(" "), col(textCol), lit(" "))
      val joined = deltaAccepted.join(prov, Seq(idCol), "left")
        .withColumn("__trued",
          when(col("__runs").isNull, col(textCol))
            .otherwise(trim(regexp_replace(padded, pattern, lit("")))))
      // doc-gate re-check on MODIFIED docs only (see Scaladoc); the
      // artifact refresh waits for the drop decision — a dropped doc
      // was never delivered, so its line-df contributions are removed
      // (one extra line-df pass, paid ONLY when the re-gate dropped
      // something; the strip itself stays based on the PRE-regate df,
      // which is the full-run twin's own input grain)
      val regated = regate match {
        case None =>
          writeAtFloor(flaggedNow)
          joined
        case Some(cfg) =>
          val modified = col("__trued") =!= col(textCol)
          val passes = (length(col("__trued")) >= cfg.minChars) &&
            (if (cfg.minQuality > 0)
              TextAnalysis.qualityScore(col("__trued")) >= cfg.minQuality
            else lit(true))
          val dropped = graft.core.CacheBin.trackEager(
            joined.filter(modified && !passes).select(col(idCol)).persist())
          if (dropped.isEmpty) writeAtFloor(flaggedNow)
          else writeAtFloor(lineDf(
            oldDocs.select(col(idCol), col(textCol)).unionByName(
              acceptedRaw.select(col(idCol), col(textCol))
                .join(dropped, Seq(idCol), "left_anti"))))
          joined.filter(!modified || passes)
      }
      regated.withColumn(textCol, col("__trued"))
        .select(deltaAccepted.columns.map(col).toIndexedSeq: _*)
    }
  }

  /** Stage 0 + 0b + 0c + 0d: URL curation, byte repair + PII, C4 line
    * curation, trained language ID — the per-batch HEAD every mode
    * (full, curate-only, delta) runs identically. Returns (frame,
    * isFlat).
    */
  private def headStages(docs: DataFrame, cfg: Config, idCol: String,
      textCol: String, blocklist: Option[DataFrame],
      note: (String, DataFrame) => DataFrame): (DataFrame, Boolean) = {
    // the whole URL stage is gated on urlCol — a domain cap or a
    // blocklist configured without it would be silently ignored
    require(cfg.domainCap <= 0 || cfg.urlCol.nonEmpty,
      "domainCap requires urlCol: the per-domain cap is part of the URL " +
        "curation stage and is only applied when urlCol is set")
    require(blocklist.isEmpty || cfg.urlCol.nonEmpty,
      "a domain blocklist requires urlCol: blocklist filtering is part " +
        "of the URL curation stage and is only applied when urlCol is set")
    // 0. URL/domain curation (optional crawl-first stage)
    val (urled, urledFlat): (DataFrame, Boolean) = cfg.urlCol match {
      case None => (docs, true)
      case Some(u) =>
        val unblocked = blocklist
          .map(bl => UrlOps.dropBlockedDomains(docs, u, idCol, bl))
          .getOrElse(docs)
        val scored = unblocked.withColumn("__uscore", length(col(textCol)))
        val urlDeduped = UrlOps.dedupByUrl(scored, u, "__uscore", idCol)
        val capped =
          if (cfg.domainCap <= 0) urlDeduped.drop("url_canon")
          else UrlOps.capPerDomain(urlDeduped, u, "__uscore", idCol,
            cfg.domainCap).drop("url_canon", "domain")
        (note("url_curation", capped.drop("__uscore")), false)
    }
    // 0b. byte repair + PII scrub: per-row, flatness preserved
    val repaired0 =
      if (!cfg.fixText) urled
      else urled.withColumn(textCol, TextAnalysis.fixText(col(textCol)))
    val repaired =
      if (!cfg.redactPii) repaired0
      else repaired0.withColumn(textCol, TextAnalysis.redactPii(col(textCol)))
    // 0c. C4 line curation
    val (c4ed, c4Flat): (DataFrame, Boolean) =
      if (cfg.c4MinWords <= 0) (repaired, urledFlat)
      else {
        val in = flatten(repaired, urledFlat)
        (note("c4_gate", in
          .join(LineCuration.c4Clean(in, idCol, textCol,
            minWords = cfg.c4MinWords, minKeptLines = cfg.c4MinKeptLines)
            .select(col(idCol), col("clean_text")), idCol)
          .drop(textCol)
          .withColumnRenamed("clean_text", textCol)), false)
      }
    // 0d. trained language ID: per-row scan expression
    val langed = cfg.langIdModelPath match {
      case None => c4ed
      case Some(p) =>
        val profiles = LangIdTrain.profilesOf(
          LangIdTrain.load(docs.sparkSession, p))
        c4ed.withColumn("lang",
          LangIdTrain.predictExpr(col(textCol), profiles))
    }
    (langed, c4Flat)
  }

  private def curateImpl(docs: DataFrame, evalSet: DataFrame, cfg: Config,
      idCol: String, textCol: String,
      blocklist: Option[DataFrame],
      report: Option[scala.collection.mutable.ListBuffer[StageRows]]): DataFrame = {
    def note(name: String, df: DataFrame): DataFrame = noteFn(report)(name, df)

    note("input", docs)
    // 0-0d. URL curation, byte repair, C4, language ID (shared head)
    val (langed, c4Flat) = headStages(docs, cfg, idCol, textCol, blocklist, note)

    // 1. allowlist + floors + exact/near dedup (keeps original
    // columns). clean's exact-dedup frame feeds BOTH the pair
    // generation and the anti-join back, so its input subtree would
    // evaluate twice unflattened.
    val neardeduped = CorpusClean.clean(flatten(langed, c4Flat), cfg.langs,
      cfg.minChars, cfg.jaccardThreshold, idCol = idCol, textCol = textCol)
    val cleaned = note("dedup",
      if (cfg.windowDedupN <= 0) neardeduped
      else WindowDedup.dropWindowDuplicates(flatten(neardeduped, false),
        idCol, textCol, cfg.windowDedupN))

    // 1b. corpus-level exact line dedup (optional): shared chrome
    // lines go before the token-window scrub sees them
    val linded =
      if (cfg.lineDedupMinDocFreq <= 0) cleaned
      else {
        val in = flatten(cleaned, false)
        note("line_dedup", in
          .join(LineCuration.stripDuplicateLines(in, idCol, textCol,
            cfg.lineDedupMinDocFreq)
            .select(col(idCol), col("clean_text")), idCol)
          .drop(textCol)
          .withColumnRenamed("clean_text", textCol))
      }

    // 2. boilerplate scrub — downstream stages score the CLEAN text
    val boilIn = flatten(linded, false)
    val boiled = boilIn
      .join(Boilerplate.strip(boilIn, idCol, textCol,
        cfg.boilerWindow, cfg.boilerMinDocFreq)
        .select(col(idCol), col("clean_text")), idCol)
      .drop(textCol)
      .withColumnRenamed("clean_text", textCol)

    // 2b. keep-first span dedup on the boiled text (optional): repeated
    // spans that survived doc-level dedup lose every later occurrence
    val stripped =
      if (cfg.spanDedupWindow <= 0) boiled
      else {
        val in = flatten(boiled, false)
        in.join(Boilerplate.dedupSpans(in, idCol, textCol,
            cfg.spanDedupWindow, cfg.spanDedupMinCount)
            .select(col(idCol), col("clean_text")), idCol)
          .drop(textCol)
          .withColumnRenamed("clean_text", textCol)
      }

    // 3. quality gates — per-row filters flow as lineage; only the
    // bigram gate (which joins its input with an aggregate of itself)
    // forces a boundary
    val q1 = stripped.filter(
      TextAnalysis.qualityScore(col(textCol)) >= cfg.minQuality)
    val q2 =
      if (cfg.minAvgLogProb == Double.NegativeInfinity) q1
      else {
        val in = flatten(q1, false)
        in.join(
          TextScore.bigramLogProb(in, idCol, textCol)
            .filter(col("avg_logprob") >= cfg.minAvgLogProb)
            .select(col(idCol)), idCol)
      }

    // 3b. within-document repetition gate (Gopher's other filter half
    // — template/scraper self-repetition that dedup cannot catch)
    val q2r =
      if (!cfg.repetitionGate) q2
      else RepetitionRules.gate(q2, idCol, textCol, cfg.repetitionMinWords)

    // 3c. learned quality gate: train on the heuristic survivors'
    // label column, keep docs at or above the micro-score floor
    val q3 = cfg.classifierLabel match {
      case None => q2r
      case Some(lab) =>
        val spark = q2.sparkSession
        // iterative training on a frame whose lineage already stacks
        // dedup/boilerplate/filter stages would re-nest the whole
        // pipeline plan once per GD pass (and once more per downstream
        // stage) — plan size, not data, becomes the bottleneck.
        // Materialize the survivors ONCE; training and every later
        // stage then plan against a flat scan.
        val gateIn = stage(q2r)
        val model = QualityClassifier.train(spark, gateIn, idCol, textCol,
          lab, cfg.classifierBuckets, cfg.classifierIters)
        // scoreExpr is bit-identical to the join-based score path
        // (spec-pinned), so the gate is a plain scan filter: no feature
        // explode, no score join, no shuffle — the same shape the delta
        // pipeline's frozen-model gate already uses
        gateIn.filter(QualityClassifier.scoreExpr(col(textCol), model) >=
          lit(cfg.minQualityMicro))
    }

    note("quality_gates", q3)

    // 4. decontamination against the held-out benchmark (skipped
    // entirely — no boundary — when there is nothing to scrub)
    val decon = note("decontaminated",
      if (evalSet.isEmpty) q3
      else {
        val in = flatten(q3, false)
        if (cfg.bloomDecontaminationBits > 0)
          BloomDecontaminate.decontaminate(in, evalSet, idCol, textCol,
            cfg.decontaminationNgram, mBits = cfg.bloomDecontaminationBits)
        else Decontaminate.decontaminate(in, evalSet, idCol, textCol,
          cfg.decontaminationNgram)
      })
    decon
  }

  private def prepareImpl(docs: DataFrame, evalSet: DataFrame, cfg: Config,
      idCol: String, textCol: String, srcCol: String,
      blocklist: Option[DataFrame],
      report: Option[scala.collection.mutable.ListBuffer[StageRows]]): DataFrame = {
    def note(name: String, df: DataFrame): DataFrame = noteFn(report)(name, df)
    val decon = curateImpl(docs, evalSet, cfg, idCol, textCol, blocklist, report)

    // 5. leakage-safe split; n_tokens feeds every budget downstream —
    // model-accurate (scan-time Viterbi kernel, zero joins) when a
    // tokenizer artifact is configured, whitespace otherwise
    val tokenCount = cfg.tokenizerPath match {
      case None => size(TextAnalysis.tokens(col(textCol))).cast("long")
      case Some(tp) =>
        val vocab = TokenizerIO.loadUnigram(docs.sparkSession, tp)
        size(UnigramLearn.encodeExpr(col(textCol), vocab)).cast("long")
    }
    // 5. split: LeakSafeSplit reads its input twice (pair generation +
    // key join) and the outer join adds a third consumer -> flatten
    // the input; the OUTPUT is read by the train and held-out branches
    // (and the final union), so it stays a materialized boundary.
    val splitIn = flatten(decon, false)
    val split = stage(splitIn.join(
      LeakSafeSplit.split(splitIn, idCol, textCol, cfg.splits,
        cfg.splitLeakThreshold).select(col(idCol), col("split")), idCol)
      .withColumn("n_tokens", tokenCount))

    // 6+7. budget-mix and pack the TRAIN split only. `train` is a
    // filter over the split checkpoint — flat; the sampling operators
    // persist their own intermediates, so flatness only degrades when
    // one of them actually rewrites the frame.
    val train = split.filter(col("split") === "train")
    val (budgeted, budgetedFlat) =
      if (cfg.trainBudgetPerSource == Long.MaxValue) (train, true)
      else (RowOps.tokenBudgetSample(train, srcCol, "n_tokens",
        cfg.trainBudgetPerSource, idCol = idCol), false)
    // 6b. temperature-flattened rebalance (~ n^0.5 across sources)
    val (mixed, mixedFlat) =
      if (cfg.temperatureMixDocs <= 0L) (budgeted, budgetedFlat)
      else (TemperatureMix.sampleSqrtTemperature(budgeted, srcCol, idCol,
        cfg.temperatureMixDocs), false)
    note("train_mixed", mixed)

    val modern = cfg.chunkTokens > 0 || cfg.epochBudgetPerSource > 0L ||
      cfg.nShards > 0
    if (!modern) {
      val packed = SeqPack.packByBudget(mixed, idCol, "n_tokens",
        cfg.packTokens)
        .select(col(idCol), col("split"), col("n_tokens"),
          col("bin_id"), col("bin_offset"), col(textCol).as("clean_text"))
      val held = split.filter(col("split") =!= "train")
        .select(col(idCol), col("split"), col("n_tokens"),
          lit(null).cast("long").as("bin_id"),
          lit(null).cast("long").as("bin_offset"),
          col(textCol).as("clean_text"))
      note("output", packed.unionByName(held))
    } else {
      // ---- modern tail: chunk -> epoch-repeat -> pack -> shard ----
      // Pack units carry (__unit, __utok, __utext): a chunk when
      // chunking is on, else the whole document. Chunking reads its
      // input twice (chunk derivation + source join) and the epoch
      // stage three more times — flatten once here when either is on.
      val mx =
        if (cfg.chunkTokens > 0 || cfg.epochBudgetPerSource > 0L)
          flatten(mixed, mixedFlat)
        else mixed
      val units =
        if (cfg.chunkTokens <= 0)
          mx.select(col(idCol), col(srcCol),
            lit(null).cast("long").as("chunk_idx"),
            col(idCol).cast("long").as("__unit"),
            col("n_tokens").as("__utok"), col(textCol).as("__utext"))
        else ChunkSplit.chunkByTokens(mx, idCol, textCol,
            cfg.chunkTokens, cfg.chunkOverlap)
          .join(mx.select(col(idCol), col(srcCol)), idCol)
          .select(col(idCol), col(srcCol),
            col("chunk_idx").cast("long").as("chunk_idx"),
            // doc_id range guard, the magnitude twin of the chunk_idx
            // guard below: __unit = doc_id*ChunkCap(+chunk_idx) is later
            // multiplied by (epochMaxEpochs+1) for __pk, so a doc id
            // past Long.MaxValue / (ChunkCap*(epochMaxEpochs+1)) (~2^41
            // at the default radix) silently wraps and can collide —
            // fail loudly instead (conservative when epoching is off;
            // real ids are nowhere near either bound)
            (when(abs(col(idCol).cast("long")) >=
                Long.MaxValue / (ChunkCap * (cfg.epochMaxEpochs + 1L)),
              raise_error(concat(
                lit("doc id magnitude overflows the chunked pack key: "),
                col(idCol).cast("string"))))
              .otherwise(col(idCol).cast("long")) * ChunkCap +
              when(col("chunk_idx") >= ChunkCap, raise_error(concat(
                lit(s"chunk fan-out >= $ChunkCap for doc "),
                col(idCol).cast("string"))))
                .otherwise(col("chunk_idx").cast("long"))).as("__unit"),
            col("n_chunk_tokens").as("__utok"),
            col("chunk_text").as("__utext"))
      // epoch repetition: (unit, epoch) rows; without it epoch = 0.
      // The pack key folds epoch in so repeats are distinct pack rows.
      val epoched =
        if (cfg.epochBudgetPerSource <= 0L)
          units.withColumn("epoch", lit(0L))
            .withColumn("__pk", col("__unit"))
        else EpochBudget.epochedCorpus(
            // chunk output is a join -> flatten before the epoch
            // stage's three reads (plan agg, full join, partial sample)
            flatten(units, isFlat = cfg.chunkTokens <= 0),
            srcCol, "__utok",
            cfg.epochBudgetPerSource, maxEpochs = cfg.epochMaxEpochs,
            idCol = "__unit")
          .withColumn("__pk",
            col("__unit") * (cfg.epochMaxEpochs + 1) + col("epoch"))
      val packed = SeqPack.packByBudget(epoched, "__pk", "__utok",
        cfg.packTokens)
      val sharded =
        if (cfg.nShards <= 0)
          packed.withColumn("shard", lit(null).cast("int"))
        else TrainShards.withShard(packed, cfg.nShards)
      val trainOut = sharded.select(col(idCol), lit("train").as("split"),
        col("epoch"), col("chunk_idx"), col("__utok").as("n_tokens"),
        col("bin_id"), col("bin_offset"), col("shard"),
        col("__utext").as("clean_text"))
      val held = split.filter(col("split") =!= "train")
        .select(col(idCol), col("split"),
          lit(null).cast("long").as("epoch"),
          lit(null).cast("long").as("chunk_idx"),
          col("n_tokens"),
          lit(null).cast("long").as("bin_id"),
          lit(null).cast("long").as("bin_offset"),
          lit(null).cast("int").as("shard"),
          col(textCol).as("clean_text"))
      note("output", trainOut.unionByName(held))
    }
  }
}
