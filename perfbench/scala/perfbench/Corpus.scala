package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.catalog.Tables
import graft.core.CacheBin
import graft.operators.{CorpusPipeline, LineIndex, TextDedup}

object Corpus {
  /** Documents generated per seed: the `prepare` input is the first
    * [[PrepareDocs]]; the ingest loop bootstraps from ids below its
    * base boundary and ingests the rest as deltas.
    */
  val NDocs = 800
  val PrepareDocs = 300
  val Deltas = 3

  /** The `q_corpus_pipeline_modern` configuration: all sixteen stages. */
  val Modern: CorpusPipeline.Config = CorpusPipeline.Config(
    langs = Seq("en", "de", "fr"), minChars = 100, jaccardThreshold = 0.5,
    boilerWindow = 5, boilerMinDocFreq = 3, spanDedupWindow = 5, spanDedupMinCount = 2,
    windowDedupN = 8, minQuality = 0.3, repetitionGate = true,
    classifierLabel = Some("__lab"), minQualityMicro = 20000L,
    classifierBuckets = 512, classifierIters = 2, splitLeakThreshold = 0.3,
    splits = Seq("train" -> 0.9, "valid" -> 0.05, "test" -> 0.05), packTokens = 512L,
    temperatureMixDocs = 200L, chunkTokens = 32, chunkOverlap = 8,
    epochBudgetPerSource = 1500L, epochMaxEpochs = 3, nShards = 8)

  /** The delta configuration CorpusPipelineSpec pins the
    * `prepareDelta == curate(old ++ new).filter(id > maxOldId)`
    * contract on.
    */
  val DeltaCfg: CorpusPipeline.Config = CorpusPipeline.Config(langs = Seq("en"),
    minChars = 40, jaccardThreshold = 0.5, lineDedupMinDocFreq = 2, boilerMinDocFreq = 99)

  /** The fixed verification input: [[PrepareDocs]] documents of this
    * seed, whatever the benchmark seed.
    */
  val VerifySeed = 1L

  /** The fingerprint `prepare` gives the verification input, pinned
    * from the program as of the commit that added this benchmark. A
    * change to what `prepare` outputs fails the gate until it is
    * re-pinned on purpose.
    */
  val PinnedPrepare = "3d9f776d8eb85360"

  /** `CorpusPipeline.prepare`, modern config, over the first
    * [[PrepareDocs]] of `docs`: the fingerprint of its output rows.
    */
  def prepareFingerprint(docs: DataFrame): String = CacheBin.withScope {
    val in = docs.filter(col("doc_id") < PrepareDocs)
      .withColumn("__lab", (col("source") === "src0").cast("int"))
    fingerprint(CorpusPipeline.prepare(in, docs.limit(0), Modern)
      .select(col("doc_id"), col("split"), col("epoch"), col("chunk_idx"), col("n_tokens"),
        col("bin_id"), col("bin_offset"), col("shard").cast("long"), col("clean_text"))
      .collect().map(_.mkString("\u0001")).toSeq)
  }

  /** Order-independent digest of collected rows. */
  def fingerprint(rows: Seq[String]): String =
    MessageDigest.getInstance("SHA-256").digest(rows.sorted.mkString("\n").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(16)

  def dirBytes(p: Path): (Long, Int) =
    if (!Files.exists(p)) (0L, 0)
    else {
      val fs = Files.walk(p).iterator().asScala.filter(f => Files.isRegularFile(f)).toSeq
      (fs.map(f => Files.size(f)).sum, fs.count(f => !f.getFileName.toString.startsWith(".")))
    }

  def copyDir(from: Path, to: Path): Unit = {
    deleteDir(to)
    Files.walk(from).iterator().asScala.foreach { f =>
      val t = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    }
  }

  def deleteDir(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(f => Files.delete(f))
}

/** Corpus curation, two op types alternating: `prepare` runs
  * `CorpusPipeline.prepare` with the modern sixteen-stage config over
  * the first 300 docs; `delta` is one step of an ingest loop of three
  * `prepareDelta` calls (seeded monotone id boundaries, index appended)
  * that restarts from the bootstrapped indexes after the third.
  * The TPC-H tables are generated at 1/50 size: only registration
  * reads them. Gates: `prepare` over a fixed verification input gives
  * the pinned fingerprint, every prepare output has the fingerprint of
  * the warm-up one, every delta accepts exactly what the full `curate`
  * over all docs up to its boundary accepts in its id range.
  */
final class Corpus extends Workload {
  import Corpus._
  val primary = "prepare"
  override def scale: Double = 0.02
  private var c: Ctx = _
  private var docs: DataFrame = _
  private var bounds: IndexedSeq[Long] = IndexedSeq.empty
  private var expectedDelta: IndexedSeq[Map[Long, String]] = IndexedSeq.empty
  private var expectedPrepare: String = ""
  private var step = 0
  private var idxBytes, acceptedBytes = 0L
  private var idxFiles = 0
  private val maxPersisted, maxPending = new java.util.concurrent.atomic.AtomicLong(0)
  private def p(name: String) = Paths.get(s"${c.root}/idx/$name")

  def setup(ctx: Ctx): Unit = {
    c = ctx
    docs = Tables.load(c.spark, c.dataDir, "documents")
    val r = new java.util.SplittableRandom(c.seed * 17L + 3L)
    // base slice [0, b0), then three deltas of 120 docs each: the seed
    // moves the boundaries, the work per step stays the same
    val b0 = PrepareDocs - 50 + r.nextInt(100)
    bounds = (0 to Deltas).map(k => b0.toLong + 120L * k)
    val base = docs.filter(col("doc_id") < bounds(0) && col("lang").isin(DeltaCfg.langs: _*) &&
      length(col("text")) >= DeltaCfg.minChars)
    TextDedup.writeDedupIndex(base, "doc_id", "text", p("base_dedup").toString, bands = 8)
    LineIndex.writeLineIndex(base, "doc_id", "text", p("base_line").toString, minDocFreq = 2)
    CacheBin.drain(blocking = true)
    step = 0
  }

  /** The gates' expected answers. `prepare` over the fixed
    * verification input must give the pinned fingerprint; the delta
    * gate expects what one full `curate` over every doc below the last
    * delta boundary accepts.
    */
  override def oracle(w: Window): Unit = {
    // both answers are untimed and mostly job floor: compute them side by side
    val verify = new java.util.concurrent.FutureTask[String](() => {
      val dir = s"${c.root}/verify"
      Gen.writeDocs(c.spark, dir, Gen.documents(VerifySeed, PrepareDocs))
      prepareFingerprint(Tables.load(c.spark, dir, "documents"))
    })
    new Thread(verify).start()
    val full = CacheBin.withScope {
      CorpusPipeline.curate(docs.filter(col("doc_id") < bounds.last), docs.limit(0), DeltaCfg)
        .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val fp = verify.get()
    w.check(fp == PinnedPrepare, s"verification prepare fingerprint $fp, pinned $PinnedPrepare")
    expectedDelta = (1 to Deltas).map(k => full.filter { case (id, _) =>
      id >= bounds(k - 1) && id < bounds(k) })
  }

  private def op[A](w: Window, kind: String, units: Long)(body: => A): A = {
    val id = Main.opIds.incrementAndGet()
    c.spark.sparkContext.setLocalProperty(Jobs.OpKey, id.toString)
    val t0 = System.nanoTime()
    val out = Trace.op(id)(Trace.span(s"operators.$kind")(body))
    val t1 = System.nanoTime()
    c.spark.sparkContext.setLocalProperty(Jobs.OpKey, null)
    w.record(kind, t1 - t0, units)
    w.ops.add((id, kind, t0, t1))
    maxPersisted.accumulateAndGet(c.spark.sparkContext.getPersistentRDDs.size, math.max)
    maxPending.accumulateAndGet(CacheBin.pending, math.max)
    out
  }

  private def prepareOp(w: Window): Unit = {
    val fp = op(w, "prepare", PrepareDocs)(prepareFingerprint(docs))
    if (expectedPrepare.isEmpty) expectedPrepare = fp
    else w.check(fp == expectedPrepare, s"prepare fingerprint $fp expected $expectedPrepare")
  }

  private def deltaOp(w: Window): Unit = {
    if (step == 0) {
      acceptedBytes = 0L
      Corpus.copyDir(p("base_dedup"), p("dedup"))
      Corpus.copyDir(p("base_line"), p("line"))
    }
    val k = step + 1
    val (lo, hi) = (bounds(k - 1), bounds(k))
    val got = op(w, "delta", hi - lo) {
      CacheBin.withScope {
        CorpusPipeline.prepareDelta(docs.filter(col("doc_id") >= lo && col("doc_id") < hi),
          docs.limit(0), DeltaCfg,
          CorpusPipeline.DeltaArtifacts(p("dedup").toString, Some(p("line").toString)))
          .select("doc_id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      }
    }
    if (expectedDelta.nonEmpty)
      w.check(got == expectedDelta(k - 1), s"delta $k [$lo, $hi): accepted ${got.keySet.size} " +
        s"ids, expected ${expectedDelta(k - 1).keySet.size}; differ on " +
        s"${(got.keySet ++ expectedDelta(k - 1).keySet).filter(i => got.get(i) != expectedDelta(k - 1).get(i)).take(5)}")
    val (b, f) = Corpus.dirBytes(p("dedup"))
    idxBytes = b; idxFiles = f
    acceptedBytes += got.values.map(_.getBytes("UTF-8").length.toLong).sum
    step = k % Deltas
  }

  /** The warm-up prepare also fixes the fingerprint later ones must
    * reproduce.
    */
  def warmup(w: Window): Unit = prepareOp(w)

  /** The ingest loop carries on across windows: the traced window's
    * delta screens against what the untraced window's delta appended.
    */
  def run(deadlineNs: Long, w: Window, traced: Boolean): Unit = {
    maxPersisted.set(0); maxPending.set(0)
    var i = 0
    while (System.nanoTime() < deadlineNs || !w.has("delta")) {
      if (i % 2 == 0) prepareOp(w) else deltaOp(w)
      i += 1
    }
  }

  def layers(w: Window, spans: Seq[Span], jobs: Seq[Job]): Map[String, Double] = {
    val ops = w.ops.toArray(Array.empty[(Long, String, Long, Long)]).toSeq
    val (baseBytes, _) = Corpus.dirBytes(p("base_dedup"))
    Map(
      "operators.index_bytes_per_accepted_byte" ->
        (if (acceptedBytes > 0) (idxBytes - baseBytes).toDouble / acceptedBytes else 0.0),
      "operators.index_files_after_delta" -> idxFiles.toDouble,
      "core.persistent_rdds_after_op" -> maxPersisted.get.toDouble,
      "core.cachebin_pending_after_op" -> maxPending.get.toDouble
    ) ++ Layers.spark(ops, jobs)
  }
}
