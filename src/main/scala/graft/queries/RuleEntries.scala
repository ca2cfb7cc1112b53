package graft.queries

import graft.config.ValidationRule
import graft.queries.Queries._
import graft.rules.RuleCompiler
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Row-rule operators (P2-P10, S5/S6, A7) over the testdata tables:
  * the reference's compiled field rules, one entry per rule kind.
  */
private[queries] object RuleEntries {

  val entries: Seq[CatalogEntry] = Seq(

    // P2: required/missing detection (null after a transform).
    CatalogEntry("p2_required_check", (s, d) => {
      t(s, d, "orders").select(
        col("o_orderkey"),
        when(col("o_orderpriority") === "1-URGENT", lit(null).cast(StringType))
          .otherwise(col("o_orderpriority")).isNull.as("required_field_missing"))
    },
      """SELECT o_orderkey,
        |(CASE WHEN o_orderpriority = '1-URGENT' THEN NULL ELSE o_orderpriority END) IS NULL
        |  AS required_field_missing
        |FROM orders""".stripMargin),

    // P3: not_null rule (null OR whitespace-only, stricter than P2).
    CatalogEntry("p3_not_null", (s, d) => {
      t(s, d, "customer").select(
        col("c_custkey"),
        (col("c_mktsegment").isNull ||
          trim(col("c_mktsegment")) === "").as("not_null_violation"))
    },
      """SELECT c_custkey,
        |(c_mktsegment IS NULL OR trim(c_mktsegment) = '') AS not_null_violation
        |FROM customer""".stripMargin),

    // P4: range rule via the actual RuleCompiler, exploded to errors.
    CatalogEntry("p4_range", (s, d) => {
      val li = t(s, d, "lineitem")
      val errs = RuleCompiler.compileField(
        lineitemRules.head, RuleCompiler.defaultLookups, _ => true, col("l_quantity"))
      li.withColumn("errors", errs)
        .filter(size(col("errors")) > 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          explode(col("errors")).as("e"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("e.ErrorType").as("error_type"),
          when(col("l_quantity") < 5, "below").otherwise("above").as("bound"))
    },
      """SELECT l_orderkey, l_linenumber, l_quantity,
        |'RANGE' AS error_type,
        |CASE WHEN l_quantity < 5 THEN 'below' ELSE 'above' END AS bound
        |FROM lineitem WHERE l_quantity < 5 OR l_quantity > 45""".stripMargin),

    // P5: regex rule (anchored re.match semantics) via RuleCompiler.
    CatalogEntry("p5_regex", (s, d) => {
      val rule = ValidationRule("regex", Map("pattern" -> "^Brand#[0-9]{2}$"))
      val errs = RuleCompiler.compileRule("p_brand", col("p_brand"), rule).get
      t(s, d, "part")
        .withColumn("errors", errs)
        .filter(size(col("errors")) > 0)
        .select(col("p_partkey"), col("p_brand"),
          lit("REGEX").as("error_type"))
    },
      """SELECT p_partkey, p_brand, 'REGEX' AS error_type
        |FROM part WHERE NOT regexp_matches(p_brand, '^Brand#[0-9]{2}$')""".stripMargin),

    // P6: date_range rule via RuleCompiler.
    CatalogEntry("p6_date_range", (s, d) => {
      val errs = RuleCompiler.compileField(
        lineitemRules(2), RuleCompiler.defaultLookups, _ => true, col("l_shipdate"))
      t(s, d, "lineitem")
        .withColumn("errors", errs)
        .filter(size(col("errors")) > 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          explode(col("errors")).as("e"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"),
          col("e.ErrorType").as("error_type"))
    },
      """SELECT l_orderkey, l_linenumber, l_shipdate, 'DATE_RANGE' AS error_type
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-06-01' OR l_shipdate > TIMESTAMP '2000-12-31'""".stripMargin),

    // P7: lookup as a broadcast LEFT ANTI join against a dim subset.
    CatalogEntry("p7_lookup_antijoin", (s, d) => {
      val li = t(s, d, "lineitem")
      val dim = t(s, d, "supplier").filter(col("s_suppkey") <= 5)
        .select(col("s_suppkey"))
      li.join(broadcast(dim), li("l_suppkey") === dim("s_suppkey"), "left_anti")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("missing_rows"))
    },
      """SELECT l_suppkey, count(*) AS missing_rows FROM lineitem
        |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey <= 5)
        |GROUP BY l_suppkey""".stripMargin),

    // P8+A2: valid/invalid split summary over the compiled rule set —
    // one agg job, no separate count actions.
    CatalogEntry("p8_split_summary", (s, d) => {
      annotatedLineitem(s, d)
        .agg(
          count(lit(1)).as("total_records"),
          sum(when(size(col("errors")) === 0, 1L).otherwise(0L)).as("valid_records"),
          sum(when(size(col("errors")) > 0, 1L).otherwise(0L)).as("invalid_records"),
          sum(size(col("errors")).cast(LongType)).as("error_count"))
    },
      """WITH flags AS (
        |  SELECT
        |    (CASE WHEN l_quantity < 5 OR l_quantity > 45 THEN 1 ELSE 0 END) AS qty_err,
        |    (CASE WHEN l_discount < 0 OR l_discount > 0.05 THEN 1 ELSE 0 END) AS disc_err,
        |    (CASE WHEN l_shipdate < TIMESTAMP '1995-06-01' OR l_shipdate > TIMESTAMP '2000-12-31' THEN 1 ELSE 0 END) AS date_err,
        |    (CASE WHEN l_returnflag IS NULL OR trim(l_returnflag) = '' THEN 1 ELSE 0 END) AS flag_err
        |  FROM lineitem)
        |SELECT count(*) AS total_records,
        |  CAST(sum(CASE WHEN qty_err + disc_err + date_err + flag_err = 0 THEN 1 ELSE 0 END) AS BIGINT) AS valid_records,
        |  CAST(sum(CASE WHEN qty_err + disc_err + date_err + flag_err > 0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_records,
        |  CAST(sum(qty_err + disc_err + date_err + flag_err) AS BIGINT) AS error_count
        |FROM flags""".stripMargin),

    // P9: error fan-out — one row per violated rule (explode Generator).
    CatalogEntry("p9_error_fanout", (s, d) => {
      annotatedLineitem(s, d)
        .filter(size(col("errors")) > 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(col("errors")).as("e"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("e.FieldName").as("field_name"),
          col("e.ErrorType").as("error_type"))
    },
      """SELECT l_orderkey, l_linenumber, 'l_quantity' AS field_name, 'RANGE' AS error_type
        |  FROM lineitem WHERE l_quantity < 5 OR l_quantity > 45
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_discount', 'RANGE'
        |  FROM lineitem WHERE l_discount < 0 OR l_discount > 0.05
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'l_shipdate', 'DATE_RANGE'
        |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01' OR l_shipdate > TIMESTAMP '2000-12-31'""".stripMargin),

    // S6/§4.2: deterministic first-N error report — the reference's
    // "First 5 Errors" preview needs an explicit total sort key on a
    // distributed frame. TakeOrderedAndProject, never a global sort.
    CatalogEntry("s6_error_report", (s, d) => {
      annotatedLineitem(s, d)
        .filter(size(col("errors")) > 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          explode(col("errors")).as("e"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("e.FieldName").as("field_name"),
          col("e.ErrorType").as("error_type"))
        // (orderkey, linenumber, field) is a total key: one error per
        // rule per lineitem row -> the LIMIT boundary is unambiguous
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("field_name"))
        .limit(10)
    },
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS field_name, 'RANGE' AS error_type
        |    FROM lineitem WHERE l_quantity < 5 OR l_quantity > 45
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', 'RANGE'
        |    FROM lineitem WHERE l_discount < 0 OR l_discount > 0.05
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_shipdate', 'DATE_RANGE'
        |    FROM lineitem WHERE l_shipdate < TIMESTAMP '1995-06-01' OR l_shipdate > TIMESTAMP '2000-12-31'
        |) ORDER BY l_orderkey, l_linenumber, field_name LIMIT 10""".stripMargin),

    // P10: source→target rename projection with computed column
    // (reference src/etl_processor.py:68-92 column mapping).
    CatalogEntry("p10_rename_projection", (s, d) => {
      t(s, d, "lineitem").select(
        col("l_orderkey").as("order_key"),
        col("l_linenumber").as("line_number"),
        col("l_quantity").as("quantity"),
        col("l_returnflag").as("return_flag"),
        // bare IEEE double product — bit-identical in Spark and DuckDB
        // (round(double,2) tie-breaking differs between engines)
        (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .as("net_price"))
    },
      """SELECT l_orderkey AS order_key, l_linenumber AS line_number,
        |l_quantity AS quantity, l_returnflag AS return_flag,
        |l_extendedprice * (1.0 - l_discount) AS net_price
        |FROM lineitem""".stripMargin),

    // S5: error-sink value truncation (substring to 255).
    CatalogEntry("s5_truncate", (s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        substring(col("text"), 1, 255).as("field_value"),
        length(col("text")).cast(LongType).as("text_len"))
    },
      """SELECT doc_id, substr(text, 1, 255) AS field_value, length(text) AS text_len
        |FROM documents""".stripMargin),

    // A7 (extension): one-pass column profile — null/distinct counts,
    // numeric min/max — the pre-rules data-quality survey.
    CatalogEntry("a7_profile", (s, d) => {
      graft.operators.Profiler.profile(
        t(s, d, "lineitem"),
        Seq("l_quantity", "l_returnflag", "l_suppkey"))
    },
      """SELECT 'l_quantity' AS column_name, count(*) AS n_rows,
        |  count(*) - count(l_quantity) AS n_nulls,
        |  count(DISTINCT l_quantity) AS n_distinct,
        |  CAST(min(l_quantity) AS DOUBLE) AS min_value,
        |  CAST(max(l_quantity) AS DOUBLE) AS max_value FROM lineitem
        |UNION ALL
        |SELECT 'l_returnflag', count(*), count(*) - count(l_returnflag),
        |  count(DISTINCT l_returnflag), NULL, NULL FROM lineitem
        |UNION ALL
        |SELECT 'l_suppkey', count(*), count(*) - count(l_suppkey),
        |  count(DISTINCT l_suppkey),
        |  CAST(min(l_suppkey) AS DOUBLE), CAST(max(l_suppkey) AS DOUBLE)
        |FROM lineitem""".stripMargin)
  )
}
