package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generation. Every input of every workload is a pure
  * function of the benchmark seed: the same seed gives byte-identical
  * tables, documents and items, another seed gives other ones. The
  * program under test only ever sees the generated files and strings.
  */
object Gen {

  /** TPC-H-ish star schema at sf0.1 cardinalities times `scale`, plus
    * the events, documents and embeddings tables `Tables.registerAll`
    * expects. Row values come from xxhash64 of (row id, seed, column
    * salt), so the output does not depend on partitioning.
    */
  def writeTables(spark: SparkSession, dir: String, seed: Long, scale: Double,
      docs: Seq[Doc]): Unit = {
    def h(salt: Int, m: Long) = s"pmod(xxhash64(id, ${seed}L, $salt), $m)"
    def pick(salt: Int, xs: Seq[String]) =
      s"element_at(array(${xs.map(x => s"'$x'").mkString(",")}), CAST(${h(salt, xs.size)} AS INT) + 1)"
    // the tables are written concurrently: each write is a few small
    // jobs, so the job floor, not the data, sets the time
    val writes = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    def write(name: String, rows0: Long, cols: String*): Unit = writes += { () =>
      val rows = if (rows0 > 1000) (rows0 * scale).toLong else rows0
      spark.range(0, rows, 1, if (rows > 10000) 4 else 1).selectExpr(cols: _*)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    val day0 = 694224000L // 1992-01-01
    write("region", 5, "CAST(id AS INT) AS r_regionkey",
      "element_at(array('AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'), CAST(id AS INT) + 1) AS r_name")
    write("nation", 25, "CAST(id AS INT) AS n_nationkey",
      "concat('NATION_', lpad(CAST(id AS STRING), 2, '0')) AS n_name",
      "CAST(id % 5 AS INT) AS n_regionkey")
    write("customer", 15000, "id + 1 AS c_custkey",
      "concat('Customer#', lpad(CAST(id + 1 AS STRING), 9, '0')) AS c_name",
      s"CAST(${h(1, 25)} AS INT) AS c_nationkey",
      s"round(${h(2, 1100000)} / 100.0 - 999.99, 2) AS c_acctbal",
      s"${pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} AS c_mktsegment")
    write("supplier", 1000, "id + 1 AS s_suppkey",
      "concat('Supplier#', lpad(CAST(id + 1 AS STRING), 9, '0')) AS s_name",
      s"CAST(${h(4, 25)} AS INT) AS s_nationkey",
      s"round(${h(5, 1100000)} / 100.0 - 999.99, 2) AS s_acctbal")
    write("part", 20000, "id + 1 AS p_partkey",
      s"concat('part ', ${pick(6, Seq("almond", "azure", "blush", "coral", "khaki", "linen"))}, ' ', CAST(id AS STRING)) AS p_name",
      s"concat('Brand#', CAST(${h(7, 5)} + 1 AS STRING), CAST(${h(8, 5)} + 1 AS STRING)) AS p_brand",
      s"${pick(9, Seq("STANDARD TIN", "SMALL BRASS", "MEDIUM COPPER", "LARGE STEEL", "ECONOMY NICKEL"))} AS p_type",
      s"CAST(${h(10, 50)} + 1 AS INT) AS p_size",
      s"round(900 + ${h(11, 110000)} / 100.0, 2) AS p_retailprice")
    write("orders", 150000, "id + 1 AS o_orderkey",
      s"${h(12, 15000)} + 1 AS o_custkey",
      s"${pick(13, Seq("F", "O", "P"))} AS o_orderstatus",
      s"round(1000 + ${h(14, 50000000)} / 100.0, 2) AS o_totalprice",
      s"timestamp_seconds($day0 + ${h(15, 2400)} * 86400) AS o_orderdate",
      s"${pick(16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority")
    write("lineitem", 600000, "id DIV 4 + 1 AS l_orderkey",
      s"${h(17, 20000)} + 1 AS l_partkey", s"${h(18, 1000)} + 1 AS l_suppkey",
      "CAST(id % 4 + 1 AS INT) AS l_linenumber",
      s"CAST(${h(19, 50)} + 1 AS DOUBLE) AS l_quantity",
      s"round(900 + ${h(20, 10000000)} / 100.0, 2) AS l_extendedprice",
      s"${h(21, 11)} / 100.0 AS l_discount", s"${h(22, 9)} / 100.0 AS l_tax",
      s"${pick(23, Seq("R", "A", "N"))} AS l_returnflag",
      s"${pick(24, Seq("O", "F"))} AS l_linestatus",
      s"timestamp_seconds($day0 + ${h(25, 2500)} * 86400) AS l_shipdate")
    write("events", 20000, "id AS event_id",
      s"timestamp_seconds(1704067200 + id * 30 + ${h(26, 30)}) AS ts",
      s"${h(27, 2000)} AS user_id",
      s"${pick(28, Seq("signup", "purchase", "view", "click", "error"))} AS event_type",
      s"round(${h(29, 20000)} / 100.0, 2) AS value",
      s"concat('{\"k\": ', CAST(${h(30, 100)} AS STRING), '}') AS props")
    write("embeddings", 200, "id AS vec_id",
      s"transform(sequence(0, 15), i -> CAST(pmod(xxhash64(id, ${seed}L, 31 + i), 2001) / 1000.0 - 1.0 AS FLOAT)) AS embedding",
      s"CAST(${h(32, 4)} AS INT) AS label")
    writes += { () => writeDocs(spark, dir, docs) }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try writes.map(w => pool.submit((() => w()): Runnable)).foreach(_.get())
    finally pool.shutdown()
  }

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** The `documents` table of `docs` under `dir`. */
  def writeDocs(spark: SparkSession, dir: String, docs: Seq[Doc]): Unit = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
        docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)), 2), schema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  private val Vocab = ("batch part spark line column order small sort fast value scan hash slow " +
    "group agg filter query big key window row table stream merge data join vector customer " +
    "index shard ledger river canyon orbit lantern meadow harbor quartz signal tundra velvet " +
    "pixel cobalt falcon").split(' ').toIndexedSeq

  /** Documents for the corpus workload. Each doc has 2-4 lines of 7-14
    * random words; about a third also carry one shared "chrome" line
    * from a small seeded pool, so corpus-level line dedup has work.
    * About 6 % are one-word edits and 2 % exact copies of an earlier
    * ORIGINAL doc (never of a copy), keeping the lang of the original:
    * with every doc above the 40-char floor this makes the
    * delta-vs-full contract of `CorpusPipeline.prepareDelta` exact
    * (no loser chains, no floor straddles).
    */
  def documents(seed: Long, n: Int): Seq[Doc] = {
    val r = new SplittableRandom(seed * 7919L + 17L)
    def words(k: Int) = Seq.fill(k)(Vocab(r.nextInt(Vocab.size))).mkString(" ")
    val chrome = IndexedSeq.fill(6)("menu " + words(3) + " footer")
    val langs = Seq("en" -> 45, "de" -> 15, "fr" -> 15, "es" -> 12, "zh" -> 13)
    def lang(): String = {
      var x = r.nextInt(100)
      langs.find { case (_, w) => x -= w; x < 0 }.get._1
    }
    val out = Array.newBuilder[Doc]
    val originals = scala.collection.mutable.ArrayBuffer.empty[Doc]
    for (i <- 0 until n) {
      val roll = r.nextInt(100)
      val src = s"src${r.nextInt(10)}"
      val d =
        if (roll < 8 && originals.nonEmpty) {
          val o = originals(r.nextInt(originals.size))
          val text =
            if (roll < 2) o.text
            else {
              val ws = o.text.split(' ')
              ws(r.nextInt(ws.length)) = Vocab(r.nextInt(Vocab.size))
              ws.mkString(" ")
            }
          Doc(i.toLong, text, o.lang, src)
        } else {
          val lines = Seq.fill(2 + r.nextInt(3))(words(7 + r.nextInt(8)))
          val withChrome =
            if (r.nextInt(3) == 0) lines :+ chrome(r.nextInt(chrome.size)) else lines
          val d = Doc(i.toLong, withChrome.mkString("\n"), lang(), src)
          originals += d
          d
        }
      out += d
    }
    out.result().toSeq
  }

  /** One EX item with the outcome `evalOne` must produce: Some(1) /
    * Some(0) scored, None excluded (broken gold); `predError` when the
    * pred must fail to execute.
    */
  final case class Item(id: String, dialect: String, gold: String, pred: String,
      expected: Option[Int], predError: Boolean, large: Boolean)

  /** A question template: gold SQL, an equivalent rewrite (permuted or
    * aliased columns), a wrong-literal variant that provably changes
    * the result (row count or key), and a column the broken variants
    * rename away.
    */
  final case class Sql(gold: String, same: String, wrong: String, col: String, large: Boolean = false)

  private def d(r: SplittableRandom): String = {
    val day = 200 + r.nextInt(2000)
    java.time.LocalDate.of(1992, 1, 1).plusDays(day.toLong).toString
  }

  /** The template families, each instantiated with seeded literals.
    * `dialect` selects the forms the transpiler specs pin for that
    * source dialect; spark takes every portable family. The family is
    * a function of `slot` alone, so every seed runs the same mix: each
    * tenth slot is a large result (10k-50k rows, the span cycling
    * through five sizes), the others cycle through the families.
    */
  def template(r: SplittableRandom, dialect: String, slot: Int): Sql = {
    val k = 1 + r.nextInt(149000)
    val portable: Seq[() => Sql] = Seq(
      () => Sql( // point lookup
        s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = $k",
        s"SELECT o_totalprice, o_orderkey, o_custkey FROM orders WHERE o_orderkey = $k",
        s"SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey = ${k + 1}",
        "o_custkey"),
      () => { // group-agg
        val day = d(r)
        Sql(s"SELECT o_orderpriority, COUNT(*) AS n FROM orders WHERE o_orderdate >= '$day' GROUP BY o_orderpriority ORDER BY o_orderpriority",
          s"SELECT o_orderpriority AS prio, COUNT(*) AS cnt FROM orders WHERE o_orderdate >= '$day' GROUP BY o_orderpriority ORDER BY o_orderpriority",
          s"SELECT o_orderpriority, COUNT(*) AS n FROM orders WHERE o_orderdate >= '$day' GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 4",
          "o_orderpriority")
      },
      () => { // multi-join
        val p = 1000 + r.nextInt(200000)
        Sql(s"SELECT n.n_name, COUNT(*) AS n_orders FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE o.o_totalprice > $p GROUP BY n.n_name ORDER BY n.n_name",
          s"SELECT COUNT(*) AS n_orders, n.n_name FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE o.o_totalprice > $p GROUP BY n.n_name ORDER BY n.n_name",
          s"SELECT n.n_name, COUNT(*) AS n_orders FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE o.o_totalprice > $p GROUP BY n.n_name ORDER BY n.n_name LIMIT 20",
          "c_nationkey")
      },
      () => { // top-k
        val day = d(r); val top = 5 + r.nextInt(20)
        Sql(s"SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue FROM lineitem WHERE l_shipdate < '$day' AND l_orderkey <= ${k / 4 + 5000} GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT $top",
          s"SELECT l_orderkey AS ok, SUM(l_extendedprice * (1 - l_discount)) AS rev FROM lineitem WHERE l_shipdate < '$day' AND l_orderkey <= ${k / 4 + 5000} GROUP BY l_orderkey ORDER BY rev DESC, ok LIMIT $top",
          s"SELECT l_orderkey, SUM(l_extendedprice * (1 - l_discount)) AS revenue FROM lineitem WHERE l_shipdate < '$day' AND l_orderkey <= ${k / 4 + 5000} GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey LIMIT ${top - 1}",
          "l_discount")
      },
      () => { // window
        val nk = r.nextInt(25)
        Sql(s"SELECT c_custkey, c_acctbal, RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk FROM customer WHERE c_nationkey = $nk ORDER BY c_custkey LIMIT 50",
          s"SELECT RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk, c_custkey, c_acctbal FROM customer WHERE c_nationkey = $nk ORDER BY c_custkey LIMIT 50",
          s"SELECT c_custkey, c_acctbal, RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rk FROM customer WHERE c_nationkey = $nk ORDER BY c_custkey LIMIT 49",
          "c_acctbal")
      },
      () => { // CTE + subquery
        val x = 100000 + r.nextInt(400000)
        Sql(s"WITH big AS (SELECT o_custkey, SUM(o_totalprice) AS t FROM orders GROUP BY o_custkey) SELECT c.c_mktsegment, COUNT(*) AS n FROM big JOIN customer c ON big.o_custkey = c.c_custkey WHERE big.t > $x GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
          s"SELECT c.c_mktsegment AS seg, COUNT(*) AS cnt FROM customer c WHERE c.c_custkey IN (SELECT o_custkey FROM orders GROUP BY o_custkey HAVING SUM(o_totalprice) > $x) GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment",
          s"WITH big AS (SELECT o_custkey, SUM(o_totalprice) AS t FROM orders GROUP BY o_custkey) SELECT c.c_mktsegment, COUNT(*) AS n FROM big JOIN customer c ON big.o_custkey = c.c_custkey WHERE big.t > $x GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment LIMIT 4",
          "c_mktsegment")
      })
    val large: () => Sql = () => { // 10k-50k rows (4 lines per order)
      val span = 2500 * (1 + slot / 10 % 5); val a = 1 + r.nextInt(150000 - span)
      Sql(s"SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey BETWEEN $a AND ${a + span - 1} ORDER BY l_orderkey, l_linenumber",
        s"SELECT l_quantity, l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey BETWEEN $a AND ${a + span - 1} ORDER BY l_orderkey, l_linenumber",
        s"SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey BETWEEN $a AND ${a + span - 2} ORDER BY l_orderkey, l_linenumber",
        "l_quantity", large = true)
    }
    val dialectForms: Seq[() => Sql] = dialect match {
      case "snowflake" => Seq(() => {
        val p = 50000 + r.nextInt(400000)
        Sql(s"SELECT IFF(o_totalprice > $p, 'high', 'low') AS band, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1",
          s"SELECT COUNT(*) AS cnt, IFF(o_totalprice > $p, 'high', 'low') AS b FROM orders GROUP BY 2 ORDER BY 2",
          s"SELECT IFF(o_totalprice > $p, 'high', 'low') AS band, COUNT(*) AS n FROM orders GROUP BY 1 ORDER BY 1 LIMIT 1",
          "o_totalprice")
      }, () => Sql(
        s"SELECT o_orderkey, DATEADD(day, 3, o_orderdate) AS due FROM orders WHERE o_orderkey = $k",
        s"SELECT DATEADD(day, 3, o_orderdate) AS d3, o_orderkey FROM orders WHERE o_orderkey = $k",
        s"SELECT o_orderkey, DATEADD(day, 3, o_orderdate) AS due FROM orders WHERE o_orderkey = ${k + 1}",
        "o_orderdate"))
      case "bigquery" => Seq(() => Sql(
        "SELECT o_orderpriority, SAFE_DIVIDE(SUM(o_totalprice), COUNT(*)) AS avg_price FROM `orders` GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "SELECT SAFE_DIVIDE(SUM(o_totalprice), COUNT(*)) AS ap, o_orderpriority FROM `orders` GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "SELECT o_orderpriority, SAFE_DIVIDE(SUM(o_totalprice), COUNT(*)) AS avg_price FROM `orders` GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 3",
        "o_totalprice"), () => Sql(
        s"SELECT o_orderkey, DATE_ADD(o_orderdate, INTERVAL 3 DAY) AS due FROM `orders` WHERE o_orderkey = $k",
        s"SELECT DATE_ADD(o_orderdate, INTERVAL 3 DAY) AS d3, o_orderkey FROM `orders` WHERE o_orderkey = $k",
        s"SELECT o_orderkey, DATE_ADD(o_orderdate, INTERVAL 3 DAY) AS due FROM `orders` WHERE o_orderkey = ${k + 1}",
        "o_orderdate"))
      case "sqlite" => Seq(() => Sql(
        "SELECT o_orderpriority, SUM(o_custkey) / COUNT(*) AS avg_ck FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "SELECT SUM(o_custkey) / COUNT(*) AS a, o_orderpriority FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority",
        "SELECT o_orderpriority, SUM(o_custkey) / COUNT(*) AS avg_ck FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority LIMIT 2",
        "o_custkey"))
      case _ => Nil
    }
    if (slot % 10 == 9) large()
    else {
      val forms = portable.take(if (dialect == "spark") portable.size else 3) ++ dialectForms
      forms((slot - slot / 10) % forms.size)()
    }
  }

  val Dialects: Seq[String] = Seq("spark", "sqlite", "snowflake", "bigquery")

  /** Expected-outcome cycle of the items of one dialect: S identical
    * pred (40 %), P permuted or aliased pred (20 %), W wrong literal
    * (20 %), N non-executable pred (10 %), B broken gold (10 %).
    */
  val OutcomeCycle = "SPSWNSPSWBSPSWNSPSWB"

  /** `n` EX items, a quarter for each dialect. The k-th item of a
    * dialect has template family and expected outcome fixed by k; the
    * seed picks the literals.
    */
  def exItems(seed: Long, n: Int): Seq[Item] = {
    val r = new SplittableRandom(seed * 31L + 5L)
    Dialects.flatMap { dialect =>
      val m = n / Dialects.size
      (0 until m).map { k =>
        val t = template(r, dialect, k)
        val broken = t.gold.replace(t.col, "no_such_col")
        val id = f"ex-$dialect-$k%03d"
        OutcomeCycle(k % OutcomeCycle.length) match {
          case 'S' => Item(id, dialect, t.gold, t.gold, Some(1), false, t.large)
          case 'P' => Item(id, dialect, t.gold, t.same, Some(1), false, t.large)
          case 'W' => Item(id, dialect, t.gold, t.wrong, Some(0), false, t.large)
          case 'N' => Item(id, dialect, t.gold, broken, Some(0), true, t.large)
          case _   => Item(id, dialect, broken, t.gold, None, false, t.large)
        }
      }
    }
  }

  /** One served question: the SQL the scripted LLM first generates
    * (`first`), the SQL its repair turn returns when `first` does not
    * execute, and the execute_accuracy the server must report.
    */
  final case class Question(id: String, text: String, gold: String, first: String,
      repaired: String, expectedEx: Int)

  /** Answer cycle of the served questions: R first answers with a
    * non-executable SQL so one repair turn fires (25 %), W answers with
    * a wrong literal, EX 0 (10 %), N answers the gold SQL.
    */
  val AnswerCycle = "NRNNWNRNNNRNNNWNRNRN"

  /** Served questions over the small-result templates; family and
    * answer of the k-th question are fixed by k, the seed picks the
    * literals. No two questions share an SQL text in its first 200
    * characters (the part `SqlBackend` puts in the Spark job
    * description), so a job names its question.
    */
  def questions(seed: Long, n: Int): Seq[Question] = {
    val r = new SplittableRandom(seed * 131L + 7L)
    val used = scala.collection.mutable.Set.empty[String]
    (0 until n).map { k =>
      val id = f"q$k%03d"
      def draw(): Question = {
        val t = template(r, "spark", k % 6)
        val text = s"[$id] Which rows answer: ${t.gold.take(60)}?"
        AnswerCycle(k % AnswerCycle.length) match {
          case 'R' => Question(id, text, t.gold, t.gold.replace(t.col, "no_such_col"), t.gold, 1)
          case 'W' => Question(id, text, t.gold, t.wrong, t.wrong, 0)
          case _   => Question(id, text, t.gold, t.gold, t.gold, 1)
        }
      }
      var q = draw()
      while (sqlKeys(q).exists(used)) q = draw()
      used ++= sqlKeys(q)
      q
    }
  }

  /** The job-description forms of a question's SQL texts. */
  def sqlKeys(q: Question): Set[String] =
    Set(q.gold, q.first, q.repaired).map(_.trim.take(200))
}
