package graft.evalx

import graft.SparkSpec
import graft.catalog.Tables
import graft.operators.FastExecSelect

/** EX evaluation branches (mirroring `core/evaluate.py:254-303`) and
  * FastExecSelect grouping/pick logic.
  */
class EvaluatorSpec extends SparkSpec {

  private lazy val ev = {
    Tables.registerAll(spark, sfDir)
    new Evaluator(spark, timeoutSec = 60, parallelism = 3)
  }

  test("equivalent pred scores 1; subset columns allowed") {
    val o = ev.evalOne(ExItem("a",
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),
      Some("SELECT r_name, r_regionkey, length(r_name) AS extra FROM region ORDER BY r_regionkey")))
    assert(o.score == Some(1))
  }

  test("pred execution failure scores 0; error captured") {
    val o = ev.evalOne(ExItem("b",
      Some("SELECT COUNT(*) AS c FROM region"), Some("SELECT nope FROM region")))
    assert(o.score == Some(0) && o.predError.isDefined)
  }

  test("gold execution failure excludes the item (None)") {
    val o = ev.evalOne(ExItem("c", Some("SELECT nope FROM region"), Some("SELECT 1 AS x")))
    assert(o.score == None && o.goldError.isDefined)
  }

  test("missing pred scores 0; missing gold excludes") {
    assert(ev.evalOne(ExItem("d", Some("SELECT 1 AS x"), None)).score == Some(0))
    assert(ev.evalOne(ExItem("e", None, Some("SELECT 1 AS x"))).score == None)
  }

  test("sqlite dialect evaluates gold with sqlite semantics (int division, quoted literals)") {
    val sqliteEv = new Evaluator(spark, timeoutSec = 60, parallelism = 2, dialect = "sqlite")
    // sqlite: 7/2 = 3 (truncated) — a pred of 3 is CORRECT there
    val o = sqliteEv.evalOne(ExItem("s1", Some("SELECT 7 / 2 AS q"), Some("SELECT 3 AS q")))
    assert(o.score == Some(1), s"sqlite dialect should truncate: $o")
    // the default dialect divides as double: 3.5 != 3
    val p = ev.evalOne(ExItem("s2", Some("SELECT 7 / 2 AS q"), Some("SELECT 3 AS q")))
    assert(p.score == Some(0), s"spark dialect should not truncate: $p")
    // double-quoted value falls back to a string literal in sqlite mode
    val q = sqliteEv.evalOne(ExItem("s3",
      Some("""SELECT r_regionkey FROM region WHERE r_name = "AFRICA""""),
      Some("SELECT r_regionkey FROM region WHERE r_name = 'AFRICA'")))
    assert(q.score == Some(1), s"double-quoted literal must resolve: $q")
  }

  test("evalAll aggregates like eval_all: avg over valid, counts") {
    val (_, summary) = ev.evalAll(Seq(
      ExItem("1", Some("SELECT 1 AS x"), Some("SELECT 1 AS x")),   // 1
      ExItem("2", Some("SELECT 1 AS x"), Some("SELECT 2 AS x")),   // 0
      ExItem("3", Some("SELECT nope FROM region"), Some("SELECT 1 AS x")))) // excluded
    assert(summary.validNum == 2 && summary.totalItems == 3)
    assert(summary.avg == 0.5)
  }

  test("dialect transpile applies before execution (sqlite-isms in gold/pred)") {
    val o = ev.evalOne(ExItem("f",
      Some("SELECT IIF(1 < 2, 'y', 'n') AS v"),
      Some("SELECT 'y' AS v")))
    assert(o.score == Some(1))
  }

  test("snowflake dialect evaluates Spider2-snow idioms (DATEADD, ::, IFF)") {
    val snowEv = new Evaluator(spark, timeoutSec = 60, parallelism = 2,
      dialect = "snowflake")
    val o = snowEv.evalOne(ExItem("sn1",
      Some("SELECT DATEADD(month, 1, DATE '2024-01-31') AS d, " +
        "IFF(1 < 2, 'y', 'n') AS v, 7::FLOAT AS f"),
      Some("SELECT DATE '2024-02-29' AS d, 'y' AS v, CAST(7 AS DOUBLE) AS f")))
    assert(o.score == Some(1), s"snowflake idioms must evaluate: $o")
    // boundary-counting month diff: Jan 31 -> Feb 1 is ONE month
    val b = snowEv.evalOne(ExItem("sn2",
      Some("SELECT DATEDIFF(month, DATE '2024-01-31', DATE '2024-02-01') AS m"),
      Some("SELECT 1 AS m")))
    assert(b.score == Some(1), s"boundary month diff: $b")
  }

  test("bigquery dialect evaluates Spider2-BQ idioms (DATE_DIFF, SAFE_DIVIDE, COUNTIF)") {
    val bqEv = new Evaluator(spark, timeoutSec = 60, parallelism = 2,
      dialect = "bigquery")
    val o = bqEv.evalOne(ExItem("bq1",
      Some("SELECT DATE_DIFF(DATE '2024-02-01', DATE '2024-01-31', DAY) AS d, " +
        "SAFE_DIVIDE(4.0, 0) AS z, COUNTIF(1 > 0) AS c"),
      Some("SELECT 1 AS d, CAST(NULL AS DOUBLE) AS z, " +
        "CAST(1 AS BIGINT) AS c")))
    assert(o.score == Some(1), s"bigquery idioms must evaluate: $o")
  }

  test("snowflake dialect evaluates LATERAL FLATTEN / LISTAGG / variant paths end-to-end") {
    val snowEv = new Evaluator(spark, timeoutSec = 60, parallelism = 2,
      dialect = "snowflake")
    val o = snowEv.evalOne(ExItem("sn3",
      Some("SELECT f.index::INT AS i, f.value:a::INT AS v " +
        "FROM (SELECT ARRAY_AGG(OBJECT_CONSTRUCT('a', c)) WITHIN GROUP (ORDER BY c) AS arr " +
        "      FROM VALUES (2), (1) AS t(c)) s, " +
        "LATERAL FLATTEN(input => s.arr) f ORDER BY i"),
      Some("SELECT CAST(0 AS BIGINT) AS i, CAST(1 AS BIGINT) AS v " +
        "UNION ALL SELECT 1, 2 ORDER BY i")))
    assert(o.score == Some(1), s"flatten/variant path must evaluate: $o")
    val l = snowEv.evalOne(ExItem("sn4",
      Some("SELECT LISTAGG(c, ',') WITHIN GROUP (ORDER BY c DESC) AS s " +
        "FROM VALUES ('a'), ('b') AS t(c)"),
      Some("SELECT 'b,a' AS s")))
    assert(l.score == Some(1), s"listagg must evaluate: $l")
  }

  test("JSON-text variant access evaluates end-to-end in both dialects") {
    // the r16 JSON family threaded through the evaluation core: gold
    // SQL in warehouse JSON spelling vs a plain-Spark prediction, EX=1
    val snowEv = new Evaluator(spark, timeoutSec = 60, parallelism = 2,
      dialect = "snowflake")
    val sj = snowEv.evalOne(ExItem("snj",
      Some("SELECT PARSE_JSON(j):a.b::INT AS v, " +
        "JSON_EXTRACT_PATH_TEXT(j, 'name') AS nm " +
        "FROM (SELECT '{\"a\":{\"b\":7},\"name\":\"x\"}' AS j) t"),
      Some("SELECT CAST(7 AS BIGINT) AS v, 'x' AS nm")))
    assert(sj.score == Some(1), s"snowflake JSON path must evaluate: $sj")
    val bqEv0 = new Evaluator(spark, timeoutSec = 60, parallelism = 2,
      dialect = "bigquery")
    val bj = bqEv0.evalOne(ExItem("bqj",
      Some("SELECT JSON_VALUE(j, '$.name') AS nm, " +
        "JSON_QUERY(j, '$.tags') AS tags " +
        "FROM (SELECT '{\"name\":\"y\",\"tags\":[\"p\",\"q\"]}' AS j) t"),
      Some("SELECT 'y' AS nm, '[\"p\",\"q\"]' AS tags")))
    assert(bj.score == Some(1), s"bigquery JSON functions must evaluate: $bj")
  }

  test("bigquery dialect evaluates UNNEST WITH OFFSET end-to-end") {
    val bqEv = new Evaluator(spark, timeoutSec = 60, parallelism = 2,
      dialect = "bigquery")
    val o = bqEv.evalOne(ExItem("bq2",
      Some("SELECT x, CAST(o AS INT64) AS pos " +
        "FROM (SELECT ARRAY_AGG(c ORDER BY c) AS arr FROM VALUES (20), (10) AS t(c)) s, " +
        "UNNEST(arr) AS x WITH OFFSET AS o ORDER BY pos"),
      Some("SELECT 10 AS x, CAST(0 AS BIGINT) AS pos " +
        "UNION ALL SELECT 20, 1 ORDER BY pos")))
    assert(o.score == Some(1), s"unnest with offset must evaluate: $o")
  }

  test("FastExecSelect groups equivalents, drops failures, picks in largest group") {
    Tables.registerAll(spark, sfDir)
    val sel = FastExecSelect.select(spark, Seq(
      "SELECT r_regionkey FROM region",
      "SELECT r_regionkey AS k FROM region ORDER BY k DESC", // same multiset → same group
      "SELECT r_regionkey FROM region WHERE r_regionkey > 0",
      "SELECT kaboom FROM region")).get
    assert(sel.groupIndices == Seq(0, 1) && sel.groupSize == 2)
    assert(Set(0, 1).contains(sel.index))
  }

  test("FastExecSelect all-distinct picks fastest overall; all-failed → None") {
    val execs = Seq(
      FastExecSelect.CandidateExec(0, "a", 2.0, None, Some(Seq(1L))),
      FastExecSelect.CandidateExec(1, "b", 0.5, None, Some(Seq(2L))),
      FastExecSelect.CandidateExec(2, "c", 1.0, None, Some(Seq(3L))))
    val sel = FastExecSelect.groupAndPick(execs).get
    assert(sel.index == 1 && sel.groupSize == 1)
    assert(FastExecSelect.groupAndPick(Seq(
      FastExecSelect.CandidateExec(0, "a", 1.0, Some("boom"), None))) == None)
  }

  test("job budgets: evalOne on a success, a pred error and a gold error") {
    // per statement that runs; an analysis error runs none. A change
    // that moves a number updates it here and says why in CHANGES.md
    val (ok, bad) = ("SELECT r_name FROM region ORDER BY r_name", "SELECT nope FROM region")
    def jobs(item: ExItem): Int = {
      ev.evalOne(item) // warm
      org.apache.spark.JobBudget.count(spark)(ev.evalOne(item))
    }
    assert(jobs(ExItem("jb1", Some(ok), Some(ok))) == 2, "success: gold + pred")
    assert(jobs(ExItem("jb2", Some(ok), Some(bad))) == 1, "pred error: gold only")
    assert(jobs(ExItem("jb3", Some(bad), Some(ok))) == 0, "gold error: nothing runs")
    val all = Seq(ExItem("jb1", Some(ok), Some(ok)), ExItem("jb2", Some(ok), Some(bad)),
      ExItem("jb3", Some(bad), Some(ok)))
    assert(org.apache.spark.JobBudget.count(spark)(ev.evalAll(all)) == 2 + 1 + 0,
      "evalAll runs exactly its items' statements")
  }
}
