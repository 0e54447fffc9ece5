package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.{QueryDef, Tables}
import graft.functions.TextOps

/** Text/regex operator queries (SURVEY.md §2.3 q03–q05, q16, q19–q20):
  * the reference's string-normalization heart (X1–X6) plus [EXT] token
  * analysis, exercised over deterministic testdata.
  *
  * The salary queries run over synthetic salary strings built
  * deterministically from `lineitem` integers (doubles never stringified —
  * float formatting is not portable across engines), shared between the
  * Spark plan and the DuckDB oracle via an identical construction.
  */
object TextQueries {

  /** Shared base: (key, variant, thousands-grouped g1/g2) per lineitem
    * row — the single source both the salary-text and span constructions
    * derive from (their oracle CTEs mirror it).
    */
  private def salaryBase(s: SparkSession, d: String): DataFrame = {
    val grp = (n: String) =>
      s"CASE WHEN $n >= 1000 THEN concat($n div 1000, ' ', lpad(CAST($n % 1000 AS STRING), 3, '0')) ELSE CAST($n AS STRING) END"
    Tables.widen(Tables.lineitem(s, d))
      .selectExpr(
        "l_orderkey * 10 + l_linenumber AS key",
        "CAST(floor(l_extendedprice) AS BIGINT) AS n1",
        "CAST(floor(l_extendedprice) AS BIGINT) + CAST(floor(l_quantity) AS BIGINT) AS n2",
        "l_linenumber % 4 AS v")
      .selectExpr("key", "v", s"${grp("n1")} AS g1", s"${grp("n2")} AS g2")
  }

  /** Synthetic pracuj.pl-style salary text per lineitem row; key is unique
    * (l_linenumber < 10). Variants cycle through the reference parser's
    * branches (transform_data.py:129-180): range, single value with comma
    * decimal, foreign currency with passthrough period, and no-salary.
    */
  private def syntheticSalary(s: SparkSession, d: String): DataFrame = {
    salaryBase(s, d)
      .selectExpr("key",
        """CASE v
          |  WHEN 0 THEN concat(g1, '–', g2, ' zł brutto / mies.')
          |  WHEN 1 THEN concat(g1, ',25 zł netto / godz.')
          |  WHEN 2 THEN concat(g1, ' EUR / rok')
          |  ELSE 'Competitive salary' END AS sal_text""".stripMargin)
  }

  /** The same construction as DuckDB SQL (kept textually in sync with
    * [[syntheticSalary]] — the verify gate enforces it stays equivalent).
    */
  private val salarySqlCte: String =
    """WITH base AS (
      |  SELECT l_orderkey * 10 + l_linenumber AS key,
      |         CAST(floor(l_extendedprice) AS BIGINT) AS n1,
      |         CAST(floor(l_extendedprice) AS BIGINT) + CAST(floor(l_quantity) AS BIGINT) AS n2,
      |         l_linenumber % 4 AS v
      |  FROM lineitem),
      |fmt AS (
      |  SELECT key, v,
      |    CASE WHEN n1 >= 1000 THEN concat(n1 // 1000, ' ', lpad(CAST(n1 % 1000 AS VARCHAR), 3, '0')) ELSE CAST(n1 AS VARCHAR) END AS g1,
      |    CASE WHEN n2 >= 1000 THEN concat(n2 // 1000, ' ', lpad(CAST(n2 % 1000 AS VARCHAR), 3, '0')) ELSE CAST(n2 AS VARCHAR) END AS g2
      |  FROM base),
      |sal AS (
      |  SELECT key,
      |    CASE v
      |      WHEN 0 THEN concat(g1, '–', g2, ' zł brutto / mies.')
      |      WHEN 1 THEN concat(g1, ',25 zł netto / godz.')
      |      WHEN 2 THEN concat(g1, ' EUR / rok')
      |      ELSE 'Competitive salary' END AS sal_text
      |  FROM sal0)
      |""".stripMargin

  // q03 — X2 whitespace/NBSP normalization over documents.text.
  val q03CleanText: QueryDef = QueryDef.sql(
    "q03_clean_text",
    """SELECT doc_id,
      |       trim(regexp_replace(replace(text, chr(160), ' '), '\s+', ' ', 'g')) AS clean_text
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.widen(Tables.documents(s, d))
      .select(col("doc_id"), TextOps.cleanText(col("text")).as("clean_text"))
      .orderBy("doc_id")
  }

  // q04 — X1 char-class clean. The input is enriched with non-ASCII junk so
  // the filter observably drops `–`/emoji while keeping `ł` (Unicode-alnum).
  val q04AsciiClean: QueryDef = QueryDef.sql(
    "q04_ascii_clean",
    """SELECT p_partkey,
      |       regexp_replace(trim(regexp_replace(concat(p_name, ' – żółć 🚀 (ok)'), '[^\x00-\x7F\p{L}\p{N}]', '', 'g')), ' {2,}', ' ', 'g') AS clean_name
      |FROM part
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.widen(Tables.part(s, d))
      .select(col("p_partkey"),
        TextOps.cleanPosition(concat(col("p_name"), lit(" – żółć 🚀 (ok)")))
          .as("clean_name"))
      .orderBy("p_partkey")
  }

  // q05 — X3 regex number extraction + normalization over synthetic salary
  // strings; the array is flattened to a joined string for a stable compare.
  val q05NumberExtract: QueryDef = QueryDef.sql(
    "q05_number_extract",
    salarySqlCte.replace("FROM sal0", "FROM fmt") +
      """SELECT key, sal_text,
        |  CAST(len(regexp_extract_all(sal_text, '(\d[\d\s]*(?:,\d+)?)', 1)) AS INTEGER) AS n_nums,
        |  COALESCE(array_to_string(list_transform(regexp_extract_all(sal_text, '(\d[\d\s]*(?:,\d+)?)', 1),
        |                  x -> replace(replace(x, ' ', ''), ',', '.')), '|'), '') AS nums_joined
        |FROM sal
        |ORDER BY key""".stripMargin) { (s, d) =>
    val nums = TextOps.extractNumbers(col("sal_text"))
    syntheticSalary(s, d)
      .select(col("key"), col("sal_text"),
        size(nums).cast(IntegerType).as("n_nums"),
        array_join(nums, "|").as("nums_joined"))
      .orderBy("key")
  }

  // q16 — [EXT] tokenize → explode → count: the word-count shape of every
  // text-analysis pipeline. Top-50 with a total tie-break order.
  val q16TextTokens: QueryDef = QueryDef.sql(
    "q16_text_tokens",
    """SELECT word, COUNT(*) AS n
      |FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      |WHERE word <> ''
      |GROUP BY word
      |ORDER BY n DESC, word
      |LIMIT 50""".stripMargin) { (s, d) =>
    Tables.widen(Tables.documents(s, d))
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("word"))
      .limit(50)
  }

  // q19 — X6 min/max fan-out over the extracted number arrays.
  val q19MinMaxFanout: QueryDef = QueryDef.sql(
    "q19_min_max_fanout",
    salarySqlCte.replace("FROM sal0", "FROM fmt") +
      """, nums AS (
        |  SELECT key, list_transform(regexp_extract_all(sal_text, '(\d[\d\s]*(?:,\d+)?)', 1),
        |         x -> replace(replace(x, ' ', ''), ',', '.')) AS ns
        |  FROM sal)
        |SELECT key,
        |  CASE WHEN len(ns) >= 1 THEN ns[1] ELSE '' END AS minimum,
        |  CASE WHEN len(ns) >= 2 THEN ns[2] WHEN len(ns) = 1 THEN ns[1] ELSE '' END AS maximum
        |FROM nums
        |ORDER BY key""".stripMargin) { (s, d) =>
    val nums = TextOps.extractNumbers(col("sal_text"))
    syntheticSalary(s, d)
      .select(col("key"),
        TextOps.minimumOf(nums).as("minimum"),
        TextOps.maximumOf(nums).as("maximum"))
      .orderBy("key")
  }

  // q20 — X2–X6 end-to-end: salary text → typed (minimum, maximum,
  // currency, pay_period), the reference's whole pracuj.pl parse pipeline.
  val q20SalaryPipeline: QueryDef = QueryDef.sql(
    "q20_salary_pipeline",
    salarySqlCte.replace("FROM sal0", "FROM fmt") +
      """, nums AS (
        |  SELECT key, sal_text, list_transform(regexp_extract_all(sal_text, '(\d[\d\s]*(?:,\d+)?)', 1),
        |         x -> replace(replace(x, ' ', ''), ',', '.')) AS ns
        |  FROM sal)
        |SELECT key, sal_text,
        |  CASE WHEN len(ns) >= 1 THEN ns[1] ELSE '' END AS minimum,
        |  CASE WHEN len(ns) >= 2 THEN ns[2] WHEN len(ns) = 1 THEN ns[1] ELSE '' END AS maximum,
        |  CASE WHEN lower(regexp_extract(sal_text, '(?i)(zł|PLN|EUR|USD|CHF|GBP)', 1)) = 'zł'
        |       THEN 'PLN' ELSE regexp_extract(sal_text, '(?i)(zł|PLN|EUR|USD|CHF|GBP)', 1) END AS currency,
        |  CASE regexp_extract(sal_text, '(?i)/\s*(mies\.|godz\.|rok|dzień|tydzień|h)', 1)
        |       WHEN 'mies.' THEN 'month' WHEN 'godz.' THEN 'h'
        |       ELSE regexp_extract(sal_text, '(?i)/\s*(mies\.|godz\.|rok|dzień|tydzień|h)', 1) END AS pay_period
        |FROM nums
        |ORDER BY key""".stripMargin) { (s, d) =>
    val parsed = TextOps.parseSalary(col("sal_text"))
    syntheticSalary(s, d)
      .select(col("key"), col("sal_text"),
        parsed.getField("minimum").as("minimum"),
        parsed.getField("maximum").as("maximum"),
        parsed.getField("currency").as("currency"),
        parsed.getField("pay_period").as("pay_period"))
      .orderBy("key")
  }

  // q45 — X7 span-based salary parse (the justjoin.it pipeline,
  // transform_data.py:46-84) on the verified path: synthetic span arrays
  // cycle through every branch arm (3 spans, 2 spans, no slash, double
  // slash, 1 span, empty). Per-source quirk preserved: NO zł→PLN
  // normalization here.
  val q45JjitSalary: QueryDef = QueryDef.sql(
    "q45_jjit_salary",
    salarySqlCte.replace("FROM sal0", "FROM fmt").replace(
      """sal AS (
        |  SELECT key,
        |    CASE v
        |      WHEN 0 THEN concat(g1, '–', g2, ' zł brutto / mies.')
        |      WHEN 1 THEN concat(g1, ',25 zł netto / godz.')
        |      WHEN 2 THEN concat(g1, ' EUR / rok')
        |      ELSE 'Competitive salary' END AS sal_text
        |  FROM fmt)
        |""".stripMargin,
      """sal AS (
        |  SELECT key,
        |    CASE v
        |      WHEN 0 THEN [g1, g2, 'PLN/month']
        |      WHEN 1 THEN [g1, 'zł/mies.']
        |      WHEN 2 THEN [g1, g2, 'PLN']
        |      ELSE [g1, g2, 'A/B/C'] END AS spans
        |  FROM fmt)
        |""".stripMargin) +
      """SELECT key,
        |  CASE WHEN len(spans) = 2 THEN replace(spans[1], ' ', '')
        |       WHEN len(spans) >= 3 THEN replace(spans[1], ' ', '') ELSE '' END AS minimum,
        |  CASE WHEN len(spans) = 2 THEN replace(spans[1], ' ', '')
        |       WHEN len(spans) >= 3 THEN replace(spans[2], ' ', '') ELSE '' END AS maximum,
        |  CASE WHEN len(spans) = 2 THEN
        |         CASE WHEN len(string_split(spans[2], '/')) = 2 THEN string_split(spans[2], '/')[1] ELSE spans[2] END
        |       WHEN len(spans) >= 3 THEN
        |         CASE WHEN len(string_split(spans[3], '/')) = 2 THEN string_split(spans[3], '/')[1] ELSE spans[3] END
        |       ELSE '' END AS currency,
        |  CASE WHEN len(spans) = 2 THEN
        |         CASE WHEN len(string_split(spans[2], '/')) = 2 THEN string_split(spans[2], '/')[2] ELSE '' END
        |       WHEN len(spans) >= 3 THEN
        |         CASE WHEN len(string_split(spans[3], '/')) = 2 THEN string_split(spans[3], '/')[2] ELSE '' END
        |       ELSE '' END AS pay_period
        |FROM sal
        |ORDER BY key""".stripMargin) { (s, d) =>
    val spans = salaryBase(s, d)
      .selectExpr("key",
        """CASE v
          |  WHEN 0 THEN array(g1, g2, 'PLN/month')
          |  WHEN 1 THEN array(g1, 'zł/mies.')
          |  WHEN 2 THEN array(g1, g2, 'PLN')
          |  ELSE array(g1, g2, 'A/B/C') END AS spans""".stripMargin)
    val parsed = TextOps.parseSalarySpans(col("spans"))
    spans.select(col("key"),
      parsed.getField("minimum").as("minimum"),
      parsed.getField("maximum").as("maximum"),
      parsed.getField("currency").as("currency"),
      parsed.getField("pay_period").as("pay_period"))
      .orderBy("key")
  }

  val all: Seq[QueryDef] = Seq(
    q03CleanText, q04AsciiClean, q05NumberExtract, q16TextTokens,
    q19MinMaxFanout, q20SalaryPipeline, q45JjitSalary)
}
