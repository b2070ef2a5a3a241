package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.{GraftDataset, Inference}
import graft.operators._
import graft.streaming.StreamingOps
import Tables.{readEvents, t, tp}

/** The pytrousse wrangling core: TPC-H-style aggregations, the
  * FillNA/Replace/encode/binning/anonymize operators, the repair
  * cascade, exact column statistics (quantiles, describe, correlation,
  * drift), event analytics and the range/as-of joins.
  */
object Wrangling {

  /** Exact, portable sum of a double column with 2-decimal content. */
  private def dsum(c: Column): Column =
    sum(c.cast("decimal(18,2)")).cast("double")

  /** Exact, portable sum of an arbitrary double column at 1e-6. */
  private def qsum(c: Column): Column =
    (sum(round(c * 1e6, 0).cast("long")).cast("double") / 1e6)

  // Deterministic nonce for the anonymization query (seed pinned like
  // the reference's tests, anonymize_database.py:181).
  private val (noncePre, nonceSuf) = Anonymize.nonce(42L)

  // Overlapped bins for q_overlap_binning: equal-width [0,120k) in 3
  // bins widened by 10% of a neighbor width (Binning.overlappingRanges)
  // — computed once here so the oracle embeds the identical literals.
  private val OverlapRanges: Seq[(Int, Double, Double)] =
    Binning.overlappingRanges(
      Seq((0, 0.0, 40000.0), (1, 40000.0, 80000.0), (2, 80000.0, 120000.0)),
      0.1)

  def specs: Seq[QuerySpec] = Seq(
    // ----- A1-A8 aggregations / flagship
    QuerySpec("q1_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
         ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
         COUNT(*) AS count_order
         FROM lineitem GROUP BY l_returnflag, l_linestatus""",
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      li.groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          round(dsum(col("l_quantity")) / count(lit(1)), 6).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),
    // ----- multi-way star join: fact scanned once, all dims broadcast
    QuerySpec("q_revenue_by_nation",
      """SELECT r_name, n_name,
         SUM(CAST(ROUND((l_extendedprice * (1 - l_discount)) * 1000000, 0) AS BIGINT))::DOUBLE / 1000000 AS revenue,
         COUNT(*) AS n_items
         FROM lineitem
           JOIN supplier ON l_suppkey = s_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name, n_name""",
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      val su = t(s, dir, "supplier")
      val na = t(s, dir, "nation")
      val re = t(s, dir, "region")
      li.join(broadcast(su), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(na), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(re), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(
          qsum(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // ----- JSON property extraction over the event stream table
    QuerySpec("q_events_props",
      """SELECT event_type,
         CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
         COUNT(*) AS n
         FROM events GROUP BY event_type""",
      (s, dir) => {
      val ev = readEvents(s, dir)
      // ONE Jackson parse per row via from_json + schema — with several
      // extracted fields, per-field get_json_object would re-parse the
      // document per field
      ev.select(col("event_type"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
    }),
    // ----- §1.2/§2.4: the classification pass as a queryable frame
    QuerySpec("q_classify",
      """SELECT column_name, n_total, n_null, n_distinct, is_constant
         FROM (
           SELECT 'l_orderkey' AS column_name, COUNT(*) AS n_total,
             COUNT(*) - COUNT(l_orderkey) AS n_null,
             COUNT(DISTINCT l_orderkey) AS n_distinct,
             (COUNT(DISTINCT l_orderkey) = 1 AND COUNT(*) = COUNT(l_orderkey)) OR COUNT(l_orderkey) = 0 AS is_constant
           FROM lineitem
           UNION ALL SELECT 'l_partkey', COUNT(*), COUNT(*) - COUNT(l_partkey), COUNT(DISTINCT l_partkey), (COUNT(DISTINCT l_partkey) = 1 AND COUNT(*) = COUNT(l_partkey)) OR COUNT(l_partkey) = 0 FROM lineitem
           UNION ALL SELECT 'l_suppkey', COUNT(*), COUNT(*) - COUNT(l_suppkey), COUNT(DISTINCT l_suppkey), (COUNT(DISTINCT l_suppkey) = 1 AND COUNT(*) = COUNT(l_suppkey)) OR COUNT(l_suppkey) = 0 FROM lineitem
           UNION ALL SELECT 'l_linenumber', COUNT(*), COUNT(*) - COUNT(l_linenumber), COUNT(DISTINCT l_linenumber), (COUNT(DISTINCT l_linenumber) = 1 AND COUNT(*) = COUNT(l_linenumber)) OR COUNT(l_linenumber) = 0 FROM lineitem
           UNION ALL SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity), COUNT(DISTINCT l_quantity), (COUNT(DISTINCT l_quantity) = 1 AND COUNT(*) = COUNT(l_quantity)) OR COUNT(l_quantity) = 0 FROM lineitem
           UNION ALL SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice), COUNT(DISTINCT l_extendedprice), (COUNT(DISTINCT l_extendedprice) = 1 AND COUNT(*) = COUNT(l_extendedprice)) OR COUNT(l_extendedprice) = 0 FROM lineitem
           UNION ALL SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount), COUNT(DISTINCT l_discount), (COUNT(DISTINCT l_discount) = 1 AND COUNT(*) = COUNT(l_discount)) OR COUNT(l_discount) = 0 FROM lineitem
           UNION ALL SELECT 'l_tax', COUNT(*), COUNT(*) - COUNT(l_tax), COUNT(DISTINCT l_tax), (COUNT(DISTINCT l_tax) = 1 AND COUNT(*) = COUNT(l_tax)) OR COUNT(l_tax) = 0 FROM lineitem
           UNION ALL SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag), COUNT(DISTINCT l_returnflag), (COUNT(DISTINCT l_returnflag) = 1 AND COUNT(*) = COUNT(l_returnflag)) OR COUNT(l_returnflag) = 0 FROM lineitem
           UNION ALL SELECT 'l_linestatus', COUNT(*), COUNT(*) - COUNT(l_linestatus), COUNT(DISTINCT l_linestatus), (COUNT(DISTINCT l_linestatus) = 1 AND COUNT(*) = COUNT(l_linestatus)) OR COUNT(l_linestatus) = 0 FROM lineitem
           UNION ALL SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate), COUNT(DISTINCT l_shipdate), (COUNT(DISTINCT l_shipdate) = 1 AND COUNT(*) = COUNT(l_shipdate)) OR COUNT(l_shipdate) = 0 FROM lineitem
         ) s""",
      (s, dir) => {
      val li  = tp(s, dir, "lineitem")
      val cls = Inference.classify(li, exact = true)
      val rows = li.columns.toSeq.sorted.map { c =>
        val st = cls.stats(c)
        (c, st.nRows, st.nNull, st.nDistinct, st.isConstant)
      }
      import s.implicits._
      rows.toDF("column_name", "n_total", "n_null", "n_distinct",
        "is_constant")
    }),
    // ----- O1 FillNA
    QuerySpec("q_fillna",
      """SELECT l_orderkey, l_linenumber,
         COALESCE(CASE WHEN l_orderkey % 7 = 0 THEN NULL
                       ELSE l_returnflag END, 'X') AS flag
         FROM lineitem""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("l_returnflag")).as("flag"))
      FillNA(Seq("flag"), "X")(li)
    }),
    // ----- O3 ReplaceStrings (whole-value)
    QuerySpec("q_replace_strings",
      """SELECT l_orderkey, l_linenumber,
         CASE WHEN l_returnflag = 'R' THEN 'RETURNED'
              WHEN l_returnflag = 'A' THEN 'ACCEPTED'
              ELSE l_returnflag END AS flag
         FROM lineitem""",
      (s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag").as("flag"))
      ReplaceStrings(Seq("flag"),
        Seq("A" -> "ACCEPTED", "R" -> "RETURNED"))(li)
    }),
    // ----- O2 ReplaceSubstrings (sequential, order-sensitive)
    QuerySpec("q_replace_substrings",
      """SELECT p_partkey,
         replace(replace(p_type, 'BRUSHED', 'B'), 'B', 'X') AS ptype
         FROM part""",
      (s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey"), col("p_type").as("ptype"))
      ReplaceSubstrings(Seq("ptype"),
        Seq("BRUSHED" -> "B", "B" -> "X"))(p)
    }),
    // ----- O5 OrdinalEncoder (sorted-distinct codes)
    QuerySpec("q_ordinal_encode",
      """SELECT o_orderkey, o_orderpriority,
         DENSE_RANK() OVER (ORDER BY o_orderpriority) - 1 AS prio_code
         FROM orders""",
      (s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
      OrdinalEncoder(Seq("o_orderpriority"), Seq("prio_code"))(o)
    }),
    // ----- O4 OneHotEncoder (sorted categories, null-preserving)
    QuerySpec("q_onehot_encode",
      """SELECT l_orderkey, l_linenumber, flag,
         CASE WHEN flag IS NULL THEN NULL ELSE flag = 'A' END AS "flag_A_enc",
         CASE WHEN flag IS NULL THEN NULL ELSE flag = 'N' END AS "flag_N_enc",
         CASE WHEN flag IS NULL THEN NULL ELSE flag = 'R' END AS "flag_R_enc"
         FROM (SELECT l_orderkey, l_linenumber,
           CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_returnflag END AS flag
           FROM lineitem) s""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        when(col("l_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("l_returnflag")).as("flag"))
      OneHotEncoder(Seq("flag"), "_enc")(li)
    }),
    // ----- R1-R7 repair cascade on a deterministically corrupted column
    QuerySpec("q_rowfix",
      """SELECT l_orderkey, l_linenumber,
         CASE WHEN l_orderkey % 11 = 0 THEN l_quantity
              WHEN l_orderkey % 13 = 0 THEN l_quantity * 1.02
              WHEN l_orderkey % 17 = 0 THEN NULL
              WHEN l_orderkey % 19 = 0 THEN NULL
              WHEN l_orderkey % 23 = 0 THEN NULL
              ELSE l_quantity END AS qty_fixed
         FROM lineitem""",
      (s, dir) => {
      val li  = t(s, dir, "lineitem")
      val raw = col("l_quantity").cast("string")
      val corrupted = when(col("l_orderkey") % 11 === 0,
          regexp_replace(raw, "\\.", ","))
        .when(col("l_orderkey") % 13 === 0, concat(lit(">"), raw))
        .when(col("l_orderkey") % 17 === 0, lit("---"))
        .when(col("l_orderkey") % 19 === 0, concat(raw, lit("%")))
        .when(col("l_orderkey") % 23 === 0, lit("NV"))
        .otherwise(raw)
      val df = li.select(col("l_orderkey"), col("l_linenumber"),
        corrupted.as("qty_raw"))
      df.select(col("l_orderkey"), col("l_linenumber"),
        RowFix.fixExpr(col("qty_raw")).as("qty_fixed"))
    }),
    // ----- A9/R5/R8: repair audit counters as a frame
    QuerySpec("q_rowfix_audit",
      """WITH src AS (SELECT
           CASE WHEN l_orderkey % 11 = 0 THEN replace(CAST(l_quantity AS VARCHAR), '.', ',')
                WHEN l_orderkey % 17 = 0 THEN '---'
                WHEN l_orderkey % 23 = 0 THEN 'junk!'
                ELSE CAST(l_quantity AS VARCHAR) END AS c
           FROM lineitem)
         SELECT 'qty_raw' AS "column",
           COUNT(CASE WHEN c IS NOT NULL
             AND TRY_CAST(c AS DOUBLE) IS NULL THEN 1 END) AS errors_before,
           COUNT(CASE WHEN c IS NOT NULL
             AND TRY_CAST(c AS DOUBLE) IS NULL
             AND TRY_CAST(translate(c, ',°', '.') AS DOUBLE) IS NULL
             AND strpos(translate(c, ',°', '.'), '%') = 0
             AND strpos(translate(c, ',°', '.'), '>') = 0
             AND strpos(translate(c, ',°', '.'), '<') = 0
             AND trim(translate(c, ',°', '.')) NOT IN
               ('---', '.', 'ASSENTI', 'PRESENTI', 'non disponibile',
                'NV', '-', 'Error', 'None', 'NAN')
             THEN 1 END) AS errors_after
         FROM src""",
      (s, dir) => {
      val li  = t(s, dir, "lineitem")
      val raw = col("l_quantity").cast("string")
      val corrupted = when(col("l_orderkey") % 11 === 0,
          regexp_replace(raw, "\\.", ","))
        .when(col("l_orderkey") % 17 === 0, lit("---"))
        .when(col("l_orderkey") % 23 === 0, lit("junk!"))
        .otherwise(raw)
      val df = li.select(corrupted.as("qty_raw"))
      RowFix.fixTypos(df, Seq("qty_raw"))._2
    }),
    // ----- A6: lost-value sets (values a plain cast would null)
    QuerySpec("q_lost_values",
      """WITH src AS (SELECT
           CASE WHEN l_orderkey % 11 = 0 THEN replace(CAST(l_quantity AS VARCHAR), '.', ',')
                WHEN l_orderkey % 17 = 0 THEN '---'
                ELSE CAST(l_quantity AS VARCHAR) END AS c
           FROM lineitem)
         SELECT c AS value, COUNT(*) AS n FROM src
         WHERE c IS NOT NULL AND TRY_CAST(c AS DOUBLE) IS NULL
         GROUP BY c""",
      (s, dir) => {
      val li  = t(s, dir, "lineitem")
      val raw = col("l_quantity").cast("string")
      val corrupted = when(col("l_orderkey") % 11 === 0,
          regexp_replace(raw, "\\.", ","))
        .when(col("l_orderkey") % 17 === 0, lit("---"))
        .otherwise(raw)
      RowFix.lostValues(li.select(corrupted.as("qty_raw")), "qty_raw")
    }),
    // ----- B3: one combo column per prefix (third categorical derived
    // from the quantity band — lineitem has only two string categoricals)
    QuerySpec("q_multi_combine",
      """WITH src AS (SELECT l_orderkey, l_linenumber, l_returnflag,
           l_linestatus,
           CAST(CAST(FLOOR(l_quantity / 10) AS BIGINT) AS VARCHAR) AS qband
         FROM lineitem)
         SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus, qband,
           (DENSE_RANK() OVER (ORDER BY l_returnflag) - 1)
             * (SELECT COUNT(DISTINCT l_linestatus) FROM src)
             + DENSE_RANK() OVER (ORDER BY l_linestatus) - 1
             AS "l_returnflag-l_linestatus_enc",
           (DENSE_RANK() OVER (ORDER BY l_returnflag) - 1)
             * ((SELECT COUNT(DISTINCT l_linestatus) FROM src)
                * (SELECT COUNT(DISTINCT qband) FROM src))
             + (DENSE_RANK() OVER (ORDER BY l_linestatus) - 1)
               * (SELECT COUNT(DISTINCT qband) FROM src)
             + DENSE_RANK() OVER (ORDER BY qband) - 1
             AS "l_returnflag-l_linestatus-qband_enc"
         FROM src""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_linestatus"),
        floor(col("l_quantity") / 10).cast("long").cast("string")
          .as("qband"))
      MultipleCombinations(
        Seq("l_returnflag", "l_linestatus", "qband"))(li)
    }),
    // ----- O8-O10 + J1: anonymization (nonce pinned at seed 42)
    QuerySpec("q_anonymize",
      s"""SELECT c_custkey, c_mktsegment,
         sha256('$noncePre' || c_name || '$nonceSuf') AS "ID_OWNER"
         FROM customer""",
      (s, dir) => {
      val c = t(s, dir, "customer")
      val (anonym, _) = Anonymize.anonymize(c, Seq("c_name"),
        Seq("c_name"), 42L)
      anonym.select(col("c_custkey"), col("c_mktsegment"),
        col("ID_OWNER"))
    }),
    // ----- B7 encode_single_categorical_column: Nan category joins the
    // dictionary, initcap case folding, original nulls restored
    QuerySpec("q_encode_categorical",
      """WITH src AS (
           SELECT c_custkey,
             CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
           FROM customer),
         norm AS (
           SELECT c_custkey, seg,
             CASE WHEN seg IS NULL THEN 'Nan'
                  ELSE concat(upper(substring(seg, 1, 1)),
                              lower(substring(seg, 2))) END AS t
           FROM src),
         dict AS (
           SELECT t, ROW_NUMBER() OVER (ORDER BY t) - 1 AS code
           FROM (SELECT DISTINCT t FROM norm) u)
         SELECT c_custkey, seg,
           CASE WHEN seg IS NULL THEN NULL ELSE code END AS seg_enc
         FROM norm JOIN dict USING (t)""",
      (s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"),
        when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("seg"))
      EncodeSingleCategorical("seg", "ordinal")(c)
    }),
    // ----- B8: multi-column categorical encode through the dataset
    // orchestrator (classification gates the requested columns, then
    // B7 runs per column — one fit each, both recorded in history)
    QuerySpec("q_encode_multi",
      // Dictionary = sorted distinct of the title-cased values plus the
      // 'Nan' placeholder (single-word values: initcap ==
      // upper(first)||lower(rest)); originally-null rows restore to null.
      // mirrors FeatureFix.encodeMultiCategorical: per-column initcap
      // normalization (single-word values, so DuckDB's first-letter
      // formula equals Spark initcap), independent sorted dictionaries
      """WITH norm AS (SELECT l_orderkey, l_linenumber, l_returnflag,
           l_linestatus,
           concat(upper(substring(l_returnflag, 1, 1)),
                  lower(substring(l_returnflag, 2))) AS tr,
           concat(upper(substring(l_linestatus, 1, 1)),
                  lower(substring(l_linestatus, 2))) AS tl
         FROM lineitem),
       dr AS (SELECT tr, ROW_NUMBER() OVER (ORDER BY tr) - 1 AS cr
         FROM (SELECT DISTINCT tr FROM norm) u),
       dl AS (SELECT tl, ROW_NUMBER() OVER (ORDER BY tl) - 1 AS cl
         FROM (SELECT DISTINCT tl FROM norm) u)
       SELECT n.l_orderkey, n.l_linenumber, n.l_returnflag,
         n.l_linestatus, dr.cr AS l_returnflag_enc,
         dl.cl AS l_linestatus_enc
       FROM norm n JOIN dr ON n.tr = dr.tr JOIN dl ON n.tl = dl.tl""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_linestatus"))
      FeatureFix.encodeMultiCategorical(GraftDataset(li),
        Seq("l_returnflag", "l_linestatus")).data
    }),
    // ----- B1 threshold binning
    QuerySpec("q_binning",
      """SELECT l_orderkey, l_linenumber, l_extendedprice,
         CASE WHEN l_extendedprice IS NULL THEN NULL
              WHEN l_extendedprice <= 1000 THEN 0
              WHEN l_extendedprice <= 10000 THEN 1
              WHEN l_extendedprice <= 50000 THEN 2
              ELSE 3 END AS l_extendedprice_bin_id
         FROM lineitem""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
      SplitIntoBins(Seq("l_extendedprice"),
        Seq(1000.0, 10000.0, 50000.0))(li)
    }),
    // ----- B2 categorical combination (itertools.product order)
    QuerySpec("q_combine_categorical",
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
         (DENSE_RANK() OVER (ORDER BY l_returnflag) - 1)
           * (SELECT COUNT(DISTINCT l_linestatus) FROM lineitem)
           + DENSE_RANK() OVER (ORDER BY l_linestatus) - 1
           AS "l_returnflag-l_linestatus_enc"
         FROM lineitem""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_returnflag"), col("l_linestatus"))
      CombineCategoricalColumns(Seq("l_returnflag", "l_linestatus"))(li)
    }),
    // ----- B6 per-group binning (breed-specific generalized)
    QuerySpec("q_grouped_binning",
      // Models the operator exactly: per-group [min,max] with the
      // minGroupSize=20 fallback to the GLOBAL range, w=0 groups -> bin 0,
      // null value or null group -> null bin id.
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
         CASE WHEN l_extendedprice IS NULL OR l_returnflag IS NULL THEN NULL
              WHEN w = 0 THEN 0
              ELSE CAST(LEAST(GREATEST(FLOOR((l_extendedprice - lo) / w), 0), 4) AS INT)
         END AS l_extendedprice_bin_id
         FROM (
           SELECT *, CASE WHEN cnt < 20 THEN gmn ELSE mn END AS lo,
             (CASE WHEN cnt < 20 THEN gmx ELSE mx END
              - CASE WHEN cnt < 20 THEN gmn ELSE mn END) / 5 AS w
           FROM (
             SELECT *,
               MIN(l_extendedprice) OVER (PARTITION BY l_returnflag) AS mn,
               MAX(l_extendedprice) OVER (PARTITION BY l_returnflag) AS mx,
               COUNT(l_extendedprice) OVER (PARTITION BY l_returnflag) AS cnt,
               MIN(l_extendedprice) OVER () AS gmn,
               MAX(l_extendedprice) OVER () AS gmx
             FROM lineitem) s1) s2""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"))
      GroupedBinning("l_returnflag", "l_extendedprice", 5)(li)
    }),
    // ----- B4+B6: per-group GEOMETRIC binning (ratio 2 → threshold
    // arithmetic is exact powers of two, portable across engines)
    QuerySpec("q_grouped_binning_geo",
      // Geometric (ratio-2) per-group bins: w0 = range/31 (2^5−1), bin =
      // Σ (v > t_i) with thresholds built by the SAME left-associated
      // accumulation as the operator (t_{i+1} = t_i + 2^i·w0) so the
      // doubles match bit-for-bit.
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
         CASE WHEN l_extendedprice IS NULL OR l_returnflag IS NULL THEN NULL
              ELSE (CASE WHEN l_extendedprice > lo + w THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice > lo + w + 2*w THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice > lo + w + 2*w + 4*w THEN 1 ELSE 0 END
                  + CASE WHEN l_extendedprice > lo + w + 2*w + 4*w + 8*w THEN 1 ELSE 0 END)
         END AS l_extendedprice_bin_id
         FROM (
           SELECT *, CASE WHEN cnt < 20 THEN gmn ELSE mn END AS lo,
             (CASE WHEN cnt < 20 THEN gmx ELSE mx END
              - CASE WHEN cnt < 20 THEN gmn ELSE mn END) * 1.0 / 31 AS w
           FROM (
             SELECT *,
               MIN(l_extendedprice) OVER (PARTITION BY l_returnflag) AS mn,
               MAX(l_extendedprice) OVER (PARTITION BY l_returnflag) AS mx,
               COUNT(l_extendedprice) OVER (PARTITION BY l_returnflag) AS cnt,
               MIN(l_extendedprice) OVER () AS gmn,
               MAX(l_extendedprice) OVER () AS gmx
             FROM lineitem) s1) s2""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"))
      GroupedGeometricBinning("l_returnflag", "l_extendedprice", 5)(li)
    }),
    // ----- B5: row-duplicating overlapped-bins range join
    QuerySpec("q_overlap_binning",
      {
      val values = OverlapRanges.map { case (id, lo, hi) =>
        s"($id, ${lo}, ${hi})"
      }.mkString(", ")
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice,
         r.bin_id AS l_extendedprice_bin_id
         FROM lineitem l JOIN (VALUES $values) r(bin_id, lo, hi)
         ON l.l_extendedprice >= r.lo AND l.l_extendedprice <= r.hi"""
    },
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"), col("l_extendedprice"))
      OverlappingBinning(Seq("l_extendedprice"), OverlapRanges)(li)
    }),
    // ----- O7 bool→binary
    QuerySpec("q_bool_to_binary",
      """SELECT l_orderkey, l_linenumber,
         CAST(l_quantity > 25.0 AS INT) AS high_qty
         FROM lineitem""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"),
        (col("l_quantity") > 25.0).as("high_qty"))
      BoolToBinary(Seq("high_qty"))(li)
    }),
    // ----- streaming-shape windowed aggregation (batch parity form)
    QuerySpec("q_events_window",
      """SELECT date_trunc('hour', ts) AS win_start, event_type,
         COUNT(*) AS n_events
         FROM events GROUP BY 1, 2""",
      (s, dir) => {
      val ev = readEvents(s, dir)
      StreamingOps.windowedEventStats(ev, "1 hour")
        .select(col("win_start"), col("event_type"), col("n_events"))
    }),
    // ----- per-user event-rate spikes: daily counts vs 2.0× the
    // user's own exact lower-median active day, all-integer flag
    QuerySpec("q_rate_spikes",
      // rate-spike replay: the lower median is the rank-⌈n/2⌉ count in
      // sorted order — value is tie-order-independent; integer flag
      """WITH b AS (SELECT user_id,
           date_trunc('day', ts) AS bucket_start,
           COUNT(*)::BIGINT AS n_events
         FROM events GROUP BY 1, 2),
       m AS (SELECT user_id, n_events,
           ROW_NUMBER() OVER (PARTITION BY user_id
             ORDER BY n_events, bucket_start) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS cnt
         FROM b),
       med AS (SELECT user_id, n_events AS median_n FROM m
         WHERE rn = (cnt + 1) // 2)
       SELECT b.user_id, b.bucket_start, b.n_events, med.median_n,
         b.n_events * 10 > 20 * med.median_n AS spike
       FROM b JOIN med ON b.user_id = med.user_id""",
      (s, dir) => {
      val ev = readEvents(s, dir)
      EventOps.rateSpikes(ev, "user_id", "ts", "day",
        factorDeci = 20L)
    }),
    // ----- big-x-big range join: which parts' ±1 retail-price band
    // contains each lineitem's unit price (chunked candidate equi-join)
    QuerySpec("q_range_join",
      // the chunking is internal candidate generation only — the oracle
      // is the raw range predicate
      """WITH pts AS (SELECT l_orderkey, l_linenumber,
           l_extendedprice / l_quantity AS unit_price FROM lineitem),
       iv AS (SELECT p_partkey, p_retailprice - 1.0 AS lo,
           p_retailprice + 1.0 AS hi FROM part)
       SELECT l_orderkey, l_linenumber, p_partkey, unit_price
       FROM pts JOIN iv ON unit_price >= lo AND unit_price <= hi""",
      (s, dir) => {
      val pts = t(s, dir, "lineitem").select(col("l_orderkey"),
        col("l_linenumber"),
        (col("l_extendedprice") / col("l_quantity")).as("unit_price"))
      val iv = t(s, dir, "part").select(col("p_partkey"),
        (col("p_retailprice") - 1.0).as("lo"),
        (col("p_retailprice") + 1.0).as("hi"))
      RangeJoin.pointInInterval(pts, iv, "unit_price", "lo", "hi",
          chunkWidth = 2.0)
        .select("l_orderkey", "l_linenumber", "p_partkey", "unit_price")
    }),
    // ----- interval-overlap join: even parts' ±1.0 price bands vs
    // odd parts' ±0.5 bands — chunked equi-join, each overlapping
    // pair emitted once (in its overlap-start chunk)
    QuerySpec("q_interval_overlap",
      // chunking + start-chunk dedup are internal; the oracle is the
      // raw closed-interval overlap predicate
      """WITH a AS (SELECT p_partkey AS a_key,
           p_retailprice - 1.0 AS a_lo, p_retailprice + 1.0 AS a_hi
         FROM part WHERE p_partkey % 2 = 0),
       b AS (SELECT p_partkey AS b_key,
           p_retailprice - 0.5 AS b_lo, p_retailprice + 0.5 AS b_hi
         FROM part WHERE p_partkey % 2 = 1)
       SELECT a_key, b_key FROM a JOIN b
         ON a_lo <= b_hi AND b_lo <= a_hi""",
      (s, dir) => {
      val p = t(s, dir, "part")
      val a = p.filter(col("p_partkey") % 2 === 0)
        .select(col("p_partkey").as("a_key"),
          (col("p_retailprice") - 1.0).as("a_lo"),
          (col("p_retailprice") + 1.0).as("a_hi"))
      val b = p.filter(col("p_partkey") % 2 === 1)
        .select(col("p_partkey").as("b_key"),
          (col("p_retailprice") - 0.5).as("b_lo"),
          (col("p_retailprice") + 0.5).as("b_hi"))
      RangeJoin.intervalOverlap(a, b, "a_lo", "a_hi", "b_lo", "b_hi",
          chunkWidth = 2.0)
        .select("a_key", "b_key")
    }),
    // ----- as-of join: each click matched with the user's latest
    // at-or-before purchase (point-in-time lookup; epoch micros keep
    // both engines' comparisons exact)
    QuerySpec("q_asof_join",
      // DuckDB's native ASOF JOIN is the oracle for the union+window form
      """WITH c AS (SELECT event_id, user_id,
           epoch_ns(ts) // 1000 AS tsu FROM events
         WHERE event_type = 'click'),
       p AS (SELECT user_id, epoch_ns(ts) // 1000 AS ptsu, value
         FROM events WHERE event_type = 'purchase')
       SELECT c.event_id, c.user_id, c.tsu,
         p.ptsu AS purchase_tsu, p.value AS purchase_value
       FROM c ASOF LEFT JOIN p
         ON c.user_id = p.user_id AND c.tsu >= p.ptsu""",
      (s, dir) => {
      val ev = readEvents(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("tsu"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), unix_micros(col("ts")).as("ptsu"),
          unix_micros(col("ts")).as("purchase_tsu"),
          col("value").as("purchase_value"))
      AsofJoin.asof(clicks, purchases, Seq("user_id"), "tsu", "ptsu",
        Seq("purchase_tsu", "purchase_value"))
    }),
    // ----- per-group exact quantiles (window partitioned by group —
    // the scale-safe grouped companion to q_quantiles)
    QuerySpec("q_grouped_quantiles",
      // same rank/interpolation CTE as q_quantiles, partitioned by group
      groupedQuantilesSqlFor("lineitem",
      "l_returnflag", "l_quantity", Seq(0.25, 0.5, 0.9),
      "lov.g AS flag, p, " +
      "v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE) AS quantile, n"),
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnStats.groupedExactQuantiles(li, "l_returnflag",
          "l_quantity", Seq(0.25, 0.5, 0.9))
        .withColumnRenamed("l_returnflag", "flag")
    }),
    // ----- per-group describe(): fused grouped base stats + grouped
    // exact medians
    QuerySpec("q_grouped_describe",
      groupedDescribeOracle,
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnStats.groupedDescribe(li, "l_returnflag",
          Seq("l_quantity", "l_discount"))
        .withColumnRenamed("l_returnflag", "flag")
    }),
    // ----- forward-fill over the event stream (nulls planted per
    // event_id, filled per user in (ts, event_id) order)
    QuerySpec("q_forward_fill",
      // last_value IGNORE NULLS over the same (ts, event_id) frame
      """WITH e AS (SELECT event_id, user_id,
           epoch_ns(ts) // 1000 AS tsu,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
         FROM events)
       SELECT event_id, user_id, tsu,
         last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
           ORDER BY tsu, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
       FROM e""",
      (s, dir) => {
      val ev = readEvents(s, dir).select(col("event_id"),
        col("user_id"), unix_micros(col("ts")).as("tsu"),
        when(col("event_id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value"))
      EventOps.forwardFill(ev, Seq("user_id"),
        Seq("tsu", "event_id"), Seq("value"))
    }),
    // ----- resample: per-user daily grid, last observation at or
    // before each tick carried forward (null value = no measurement)
    QuerySpec("q_resample",
      // bucket arg-max via QUALIFY (ties ts desc, id desc), grid via
      // generate_series over per-user bounds, IGNORE NULLS carry
      """WITH e AS (SELECT event_id, user_id,
           epoch_ns(ts) // 1000 AS tsu,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
         FROM events
         WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       b AS (SELECT user_id, tsu // 86400000000 AS tick, v AS bv
         FROM e QUALIFY row_number() OVER (
           PARTITION BY user_id, tsu // 86400000000
           ORDER BY tsu DESC, event_id DESC) = 1),
       bounds AS (SELECT user_id, MIN(tsu // 86400000000) AS lo,
           MAX(tsu // 86400000000) AS hi
         FROM e GROUP BY user_id),
       g AS (SELECT user_id, unnest(generate_series(lo, hi)) AS tick
         FROM bounds)
       SELECT g.user_id, g.tick,
         last_value(b.bv IGNORE NULLS) OVER (PARTITION BY g.user_id
           ORDER BY g.tick
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
       FROM g LEFT JOIN b
         ON g.user_id = b.user_id AND g.tick = b.tick""",
      (s, dir) => {
      val day = 86400000000L
      val ev = readEvents(s, dir).select(col("event_id"),
        col("user_id"), unix_micros(col("ts")).as("tsu"),
        when(col("event_id") % 7 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value"))
      EventOps.resample(ev, Seq("user_id"), "tsu", "event_id",
        "value", stepMicros = day)
    }),
    // ----- event analytics: weekly cohort retention matrix
    QuerySpec("q_retention",
      // distinct user-weeks, first-seen week per user, integer week offset
      """WITH a AS (SELECT DISTINCT user_id AS u,
           date_trunc('week', ts) AS p FROM events
         WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       f AS (SELECT u, MIN(p) AS cohort FROM a GROUP BY u)
       SELECT cohort,
         CAST(date_diff('day', cohort, p) / 7 AS BIGINT) AS "offset",
         COUNT(DISTINCT u) AS n_users
       FROM a JOIN f USING (u) GROUP BY 1, 2""",
      (s, dir) => {
      val ev = readEvents(s, dir)
      EventOps.cohortRetention(ev, "user_id", "ts", "week")
    }),
    // ----- event analytics: ordered funnel (view -> click -> purchase),
    // times compared as epoch micros for engine portability
    QuerySpec("q_funnel",
      // greedy minimal-completion funnel over per-user sorted time lists;
      // epoch micros (= the engine's ts DIV 1000) keep comparisons exact
      """WITH e AS (SELECT user_id AS u, event_type,
           epoch_ns(ts) // 1000 AS tsu FROM events
         WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       pu AS (SELECT u,
         list_sort(list(tsu) FILTER (WHERE event_type = 'view')) AS a0,
         list_sort(list(tsu) FILTER (WHERE event_type = 'click')) AS a1,
         list_sort(list(tsu) FILTER (WHERE event_type = 'purchase'))
           AS a2
         FROM e GROUP BY u),
       t0s AS (SELECT u, a1, a2, list_min(a0) AS t0 FROM pu),
       t1s AS (SELECT u, a2, t0,
         list_min(list_filter(a1, x -> x > t0)) AS t1 FROM t0s),
       t2s AS (SELECT u, t0, t1,
         list_min(list_filter(a2, x -> x > t1)) AS t2 FROM t1s),
       c AS (SELECT COUNT(t0) AS n0, COUNT(t1) AS n1, COUNT(t2) AS n2
         FROM t2s)
       SELECT 0 AS step_idx, 'view' AS step, n0 AS n_users FROM c
       UNION ALL
       SELECT 1, 'click', n1 FROM c
       UNION ALL
       SELECT 2, 'purchase', n2 FROM c""",
      (s, dir) => {
      val ev = readEvents(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tsu"))
      EventOps.funnel(ev, Seq("view", "click", "purchase"),
        "user_id", "tsu")
    }),
    // ----- the same funnel under a 1-day per-step conversion
    // deadline (first-touch greedy — see EventOps.funnel)
    QuerySpec("q_funnel_windowed",
      // windowed replay: the same greedy ladder with the 1-day (in
      // micros) deadline folded into each step's filter
      """WITH e AS (SELECT user_id AS u, event_type,
           epoch_ns(ts) // 1000 AS tsu FROM events
         WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       pu AS (SELECT u,
         list_sort(list(tsu) FILTER (WHERE event_type = 'view')) AS a0,
         list_sort(list(tsu) FILTER (WHERE event_type = 'click')) AS a1,
         list_sort(list(tsu) FILTER (WHERE event_type = 'purchase'))
           AS a2
         FROM e GROUP BY u),
       t0s AS (SELECT u, a1, a2, list_min(a0) AS t0 FROM pu),
       t1s AS (SELECT u, a2, t0,
         list_min(list_filter(a1, x -> x > t0
           AND x <= t0 + 86400000000)) AS t1 FROM t0s),
       t2s AS (SELECT u, t0, t1,
         list_min(list_filter(a2, x -> x > t1
           AND x <= t1 + 86400000000)) AS t2 FROM t1s),
       c AS (SELECT COUNT(t0) AS n0, COUNT(t1) AS n1, COUNT(t2) AS n2
         FROM t2s)
       SELECT 0 AS step_idx, 'view' AS step, n0 AS n_users FROM c
       UNION ALL
       SELECT 1, 'click', n1 FROM c
       UNION ALL
       SELECT 2, 'purchase', n2 FROM c""",
      (s, dir) => {
      val ev = readEvents(s, dir).select(col("user_id"),
        col("event_type"), unix_micros(col("ts")).as("tsu"))
      EventOps.funnel(ev, Seq("view", "click", "purchase"),
        "user_id", "tsu", maxStepGap = 86400000000L)
    }),
    // ----- batch sessionization (gap-based, window-lag formulation)
    QuerySpec("q_sessionize",
      // Gap math in whole SECONDS on both sides (Spark's timestamp→long
      // cast truncates to seconds; epoch_ns // 1e9 is the exact mirror);
      // session bounds output as epoch micros so ns-vs-us precision can
      // never skew the hash.
      """WITH e AS (SELECT user_id, ts,
           epoch_ns(ts) // 1000 AS us FROM events),
         w AS (SELECT *, lag(us) OVER
           (PARTITION BY user_id ORDER BY ts) AS prev_us FROM e),
         f AS (SELECT *, CASE WHEN prev_us IS NULL
             OR (us - prev_us) > 1800000000
           THEN 1 ELSE 0 END AS new_s FROM w),
         g AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id
           ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM f)
         SELECT user_id, MIN(us) AS start_us, MAX(us) AS end_us,
           COUNT(*) AS n_events
         FROM g GROUP BY user_id, sid""",
      (s, dir) => {
      val ev = readEvents(s, dir)
      StreamingOps.finalizeSessions(s, ev, gapMs = 30 * 60 * 1000)
        .select(col("user_id"),
          unix_micros(col("session_start")).as("start_us"),
          unix_micros(col("session_end")).as("end_us"),
          col("n_events"))
    }),
    // ----- exact order statistics with engine-controlled interpolation
    QuerySpec("q_quantiles",
      quantilesOracle,
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnStats.exactQuantiles(li, "l_extendedprice", QuantilePs)
    }),
    // ----- describe(): per-measure-column exact summary row
    QuerySpec("q_describe",
      describeOracle,
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnStats.describeNumeric(li,
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    }),
    // ----- Pearson correlation matrix: one aggregation, exact
    // decimal sums, one exact int->double conversion per sum
    QuerySpec("q_feature_corr",
      featureCorrOracle,
      (s, dir) => {
      val li = tp(s, dir, "lineitem")
      ColumnStats.correlationMatrix(li, corrCols)
    }),
    // ----- the same exact-sum correlations PER GROUP (one keyed
    // aggregation; cells explode from each group's row)
    QuerySpec("q_grouped_corr",
      groupedCorrOracle,
      (s, dir) => {
      val li = tp(s, dir, "lineitem")
      ColumnStats.groupedCorrelationMatrix(li, "l_returnflag",
        corrCols)
    }),
    // ----- winsorize: clip l_extendedprice to its exact [p05, p95];
    // thresholds from the distributed quantile path, map-only clip
    QuerySpec("q_winsorize",
      // thresholds replay through the exact-quantile CTEs; the clip is
      // comparisons only, so no new float arithmetic to match
      {
      val qcte = quantilesSqlFor("lineitem", "l_extendedprice",
        Seq(0.05, 0.95),
        "p, v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE) AS quantile")
      s"""WITH qs AS ($qcte),
         lo AS (SELECT quantile AS lo_v FROM qs WHERE p = 0.05),
         hi AS (SELECT quantile AS hi_v FROM qs WHERE p = 0.95)
         SELECT l_orderkey, l_linenumber,
           CASE WHEN l_extendedprice IS NULL THEN NULL
             ELSE least(greatest(l_extendedprice::DOUBLE, lo_v), hi_v)
           END AS w_price
         FROM lineitem CROSS JOIN lo CROSS JOIN hi"""
    },
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnStats.winsorize(li, "l_extendedprice", 0.05, 0.95)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("w_price"))
    }),
    // ----- per-group winsorize: each return-flag's prices clip to
    // that group's own exact [p05, p95]
    QuerySpec("q_grouped_winsorize",
      // per-group thresholds replay through the grouped-quantile CTEs;
      // both engines' least/greatest skip nulls, so null-group rows
      // pass through unclipped identically
      {
      val qcte = groupedQuantilesSqlFor("lineitem", "l_returnflag",
        "l_extendedprice", Seq(0.05, 0.95),
        "lov.g AS g, p, v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE)" +
          " AS quantile")
      s"""WITH qs AS ($qcte),
         th AS (SELECT g,
           MIN(CASE WHEN p = 0.05 THEN quantile END) AS lo_v,
           MIN(CASE WHEN p = 0.95 THEN quantile END) AS hi_v
           FROM qs GROUP BY g)
         SELECT l_orderkey, l_linenumber, l_returnflag,
           CASE WHEN l_extendedprice IS NULL THEN NULL
             ELSE least(greatest(l_extendedprice::DOUBLE, lo_v), hi_v)
           END AS w_price
         FROM lineitem LEFT JOIN th ON l_returnflag = th.g"""
    },
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnStats.groupedWinsorize(li, "l_returnflag",
          "l_extendedprice", 0.05, 0.95)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("l_extendedprice").as("w_price"))
    }),
    // ----- robust z-score: (x - median) / MAD, both thresholds from
    // the exact quantile path (heavy-tail-safe outlier score)
    QuerySpec("q_robust_z",
      // median and MAD both replay through the exact-quantile CTEs; the
      // deviation table derives from the bit-identical median, so the
      // second quantile chain replays too
      {
      val medSql = quantilesSqlFor("lineitem", "l_extendedprice",
        Seq(0.5),
        "v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE) AS quantile")
      val devTable = "(SELECT abs(l_extendedprice::DOUBLE - " +
        "(SELECT med_v FROM med)) AS dev FROM lineitem " +
        "WHERE l_extendedprice IS NOT NULL) dt"
      val madSql = quantilesSqlFor(devTable, "dev", Seq(0.5),
        "v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE) AS quantile")
      s"""WITH med AS (SELECT quantile AS med_v FROM ($medSql) z),
         mad AS (SELECT quantile AS mad_v FROM ($madSql) z)
         SELECT l_orderkey, l_linenumber,
           CASE WHEN l_extendedprice IS NOT NULL AND mad_v > 0
             THEN (l_extendedprice::DOUBLE - med_v) / mad_v
           END AS robust_z
         FROM lineitem CROSS JOIN med CROSS JOIN mad"""
    },
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnStats.robustZScore(li, "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("robust_z"))
    }),
    // ----- drift report between two corpus snapshots (split by ship
    // date): one fused agg per side, exact-decimal-sum means
    QuerySpec("q_drift_report",
      // same decimal-sum mean shape as the describe oracle, one divide
      // per ratio, delta as one subtraction
      {
      def sideSql(pred: String, tag: String): String = {
        val cells = Seq("l_quantity", "l_extendedprice", "l_discount")
          .map { c =>
            s"""SELECT '$c' AS column_name, n AS n_$tag,
              (n - nn_$c)::DOUBLE / greatest(n, 1) AS null_frac_$tag,
              s_$c::DOUBLE / nn_$c AS mean_$tag FROM agg_$tag"""
          }.mkString(" UNION ALL ")
        s"""agg_$tag AS (SELECT COUNT(*) AS n,
             ${Seq("l_quantity", "l_extendedprice", "l_discount").map(c =>
               s"COUNT($c) AS nn_$c, " +
               s"SUM(CAST($c AS DECIMAL(28,6))) AS s_$c").mkString(", ")}
           FROM lineitem WHERE $pred),
           side_$tag AS ($cells)"""
      }
      s"""WITH ${sideSql("l_shipdate < '1998-06-01'", "old")},
         ${sideSql("l_shipdate >= '1998-06-01'", "new")}
         SELECT o.column_name, o.n_old, o.null_frac_old, o.mean_old,
           nn.n_new, nn.null_frac_new, nn.mean_new,
           nn.mean_new - o.mean_old AS mean_delta
         FROM side_old o JOIN side_new nn USING (column_name)"""
    },
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      val cut = "1998-06-01"
      ColumnStats.driftReport(
        li.filter(col("l_shipdate") < lit(cut)),
        li.filter(col("l_shipdate") >= lit(cut)),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
    }),
    // ----- categorical drift: per-(column, category) frequency
    // shift across the same ship-date split
    QuerySpec("q_cat_drift",
      // per-category counts and single-divide frequencies, full outer
      // across sides with absent categories at frequency 0
      {
      def sideSql(pred: String, tag: String): String =
        s"""c_$tag AS (
           SELECT column_name, category, COUNT(*) AS cnt_$tag
           FROM (SELECT unnest([
               {'column_name': 'l_returnflag',
                'category': l_returnflag::VARCHAR},
               {'column_name': 'l_linestatus',
                'category': l_linestatus::VARCHAR}],
             recursive := true)
             FROM lineitem WHERE $pred) z
           GROUP BY 1, 2),
         t_$tag AS (SELECT column_name, SUM(cnt_$tag) AS tot_$tag
           FROM c_$tag GROUP BY 1),
         s_$tag AS (SELECT c.column_name, c.category, c.cnt_$tag,
             c.cnt_$tag::DOUBLE / t.tot_$tag::DOUBLE AS freq_$tag
           FROM c_$tag c JOIN t_$tag t USING (column_name))"""
      s"""WITH ${sideSql("l_shipdate < '1998-06-01'", "old")},
         ${sideSql("l_shipdate >= '1998-06-01'", "new")}
         SELECT COALESCE(o.column_name, nn.column_name) AS column_name,
           COALESCE(o.category, nn.category) AS category,
           COALESCE(o.cnt_old, 0) AS cnt_old,
           COALESCE(nn.cnt_new, 0) AS cnt_new,
           COALESCE(o.freq_old, 0.0) AS freq_old,
           COALESCE(nn.freq_new, 0.0) AS freq_new,
           COALESCE(nn.freq_new, 0.0) - COALESCE(o.freq_old, 0.0)
             AS freq_delta
         FROM s_old o FULL OUTER JOIN s_new nn
           ON o.column_name = nn.column_name
             AND o.category IS NOT DISTINCT FROM nn.category"""
    },
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      val cut = "1998-06-01"
      ColumnStats.categoricalDriftReport(
        li.filter(col("l_shipdate") < lit(cut)),
        li.filter(col("l_shipdate") >= lit(cut)),
        Seq("l_returnflag", "l_linestatus"))
    }),
    // ----- exact percentile rank (cume_dist semantics) from the
    // range-partitioned cumulative frame — no global window
    QuerySpec("q_pct_rank",
      // cume_dist = count(<=)/n, replayed through the same
      // distinct-value cumulative construction the operator uses (a
      // value join — row-key joins would multiply on non-unique keys)
      """WITH n AS (SELECT COUNT(l_extendedprice) AS nn
           FROM lineitem),
         counts AS (SELECT l_extendedprice AS v, COUNT(*) AS c
           FROM lineitem WHERE l_extendedprice IS NOT NULL
           GROUP BY 1),
         cumv AS (SELECT v, SUM(c) OVER (ORDER BY v
           ROWS UNBOUNDED PRECEDING) AS cum FROM counts)
         SELECT l.l_orderkey, l.l_linenumber,
           cumv.cum::DOUBLE / n.nn AS pct_rank
         FROM lineitem l
           LEFT JOIN cumv ON l.l_extendedprice = cumv.v
           CROSS JOIN n""",
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnStats.percentileRank(li, "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("pct_rank"))
    }),
    // ----- Tukey fences: outliers outside [Q1-1.5*IQR, Q3+1.5*IQR];
    // prices are near-uniform (no tail), so spikes are planted on
    // 1-in-997 rows — the flag must catch exactly those
    QuerySpec("q_iqr_outliers",
      // quartiles through the quantile CTEs over the SAME planted
      // column; fences and flags are single IEEE ops / comparisons on
      // bit-identical quartiles
      {
      val planted = "(SELECT l_orderkey, l_linenumber, " +
        "CASE WHEN l_orderkey % 997 = 0 THEN l_extendedprice * 50 " +
        "ELSE l_extendedprice END AS v FROM lineitem) pl"
      val qcte = quantilesSqlFor(planted, "v",
        Seq(0.25, 0.75),
        "p, v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE) AS quantile")
      s"""WITH qs AS ($qcte),
         f AS (SELECT
           (SELECT quantile FROM qs WHERE p = 0.25) AS q1,
           (SELECT quantile FROM qs WHERE p = 0.75) AS q3)
         SELECT l_orderkey, l_linenumber,
           CASE WHEN v IS NOT NULL THEN
             v::DOUBLE < q1 - 1.5 * (q3 - q1)
             OR v::DOUBLE > q3 + 1.5 * (q3 - q1)
           END AS is_outlier
         FROM $planted CROSS JOIN f"""
    },
      (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("__v",
        when(col("l_orderkey") % 997 === 0,
          col("l_extendedprice") * 50).otherwise(col("l_extendedprice")))
      ColumnStats.iqrOutliers(li, "__v", k = 1.5)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("is_outlier"))
    }),
    // ----- per-group robust z: each flag's prices score against
    // that flag's own median/MAD
    QuerySpec("q_grouped_robust_z",
      // per-group median and MAD through the grouped-quantile CTEs;
      // the deviation table derives from the bit-identical medians
      {
      val medSql = groupedQuantilesSqlFor("lineitem", "l_returnflag",
        "l_extendedprice", Seq(0.5),
        "lov.g AS g, v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE)" +
          " AS quantile")
      val devTable = s"""(WITH md AS ($medSql)
        SELECT l.l_returnflag,
          abs(l.l_extendedprice::DOUBLE - md.quantile) AS dev
        FROM lineitem l JOIN md ON l.l_returnflag = md.g
        WHERE l.l_extendedprice IS NOT NULL) ddt"""
      val madSql = groupedQuantilesSqlFor(devTable, "l_returnflag",
        "dev", Seq(0.5),
        "lov.g AS g, v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE)" +
          " AS quantile")
      s"""WITH md AS ($medSql), mad AS ($madSql)
         SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           CASE WHEN l.l_extendedprice IS NOT NULL
               AND mad.quantile > 0
             THEN (l.l_extendedprice::DOUBLE - md.quantile)
               / mad.quantile
           END AS robust_z
         FROM lineitem l
           LEFT JOIN md ON l.l_returnflag = md.g
           LEFT JOIN mad ON l.l_returnflag = mad.g"""
    },
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      ColumnStats.groupedRobustZScore(li, "l_returnflag",
          "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"), col("robust_z"))
    }),
    // ----- equal-frequency binning: exact quartile thresholds, the
    // same <=-upper bin chain as q_binning
    QuerySpec("q_eqfreq_binning",
      // quartile thresholds replay through the quantile CTEs; the bin
      // chain is the same <=-upper CASE as q_binning
      {
      val qcte = quantilesSqlFor("lineitem", "l_extendedprice",
        Seq(0.25, 0.5, 0.75),
        "p, v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE) AS quantile")
      s"""WITH qs AS ($qcte),
         t AS (SELECT
           (SELECT quantile FROM qs WHERE p = 0.25) AS t1,
           (SELECT quantile FROM qs WHERE p = 0.5)  AS t2,
           (SELECT quantile FROM qs WHERE p = 0.75) AS t3)
         SELECT l_orderkey, l_linenumber,
           CASE WHEN l_extendedprice IS NULL THEN NULL
                WHEN l_extendedprice::DOUBLE <= t1 THEN 0
                WHEN l_extendedprice::DOUBLE <= t2 THEN 1
                WHEN l_extendedprice::DOUBLE <= t3 THEN 2
                ELSE 3 END AS bin_id
         FROM lineitem CROSS JOIN t"""
    },
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      Binning.equalFrequencyBins(li, "l_extendedprice", bins = 4)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("bin_id").cast("int").as("bin_id"))
    }),
    // ----- mergeable histogram quantile sketch: the query fits TWO
    // disjoint half-sketches and merges them — the oracle computes
    // the single-pass full histogram, so the hash match IS the proof
    // that increment-merge == full recompute
    QuerySpec("q_hist_quantile",
      // single-pass full histogram + ceil-rank pick — the Spark side
      // built it as two merged half-sketches, so equality proves the
      // merge path; '//' == DIV on the all-positive cent grid
      """WITH q AS (
           SELECT l_returnflag,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) // 100000
               AS bucket
           FROM lineitem),
         h AS (SELECT l_returnflag, bucket, COUNT(*) AS cnt
               FROM q GROUP BY 1, 2),
         c AS (SELECT l_returnflag, bucket,
                 SUM(cnt) OVER (PARTITION BY l_returnflag
                   ORDER BY bucket) AS cum,
                 SUM(cnt) OVER (PARTITION BY l_returnflag) AS n
               FROM h),
         x AS (SELECT l_returnflag, p.p_micro, bucket
               FROM c CROSS JOIN (VALUES (500000), (900000),
                 (990000)) p(p_micro)
               WHERE cum >= (p.p_micro * n + 999999) // 1000000)
         SELECT l_returnflag, CAST(p_micro AS BIGINT) AS p_micro,
           CAST(min(bucket) * 100000 AS BIGINT) AS est_micro
         FROM x GROUP BY 1, 2""",
      (s, dir) => {
      val li = t(s, dir, "lineitem").withColumn("v",
        expr("CAST(round(l_extendedprice * 100, 0) AS BIGINT)"))
      val width = 100000L // $1,000 buckets on the cent grid
      val sk = HistogramSketch.merge(Seq(
        HistogramSketch.fit(li.filter(col("l_orderkey") % 2 === 0),
          "v", Seq("l_returnflag"), width),
        HistogramSketch.fit(li.filter(col("l_orderkey") % 2 === 1),
          "v", Seq("l_returnflag"), width)), Seq("l_returnflag"))
      HistogramSketch.quantileEstimate(sk, Seq("l_returnflag"), width,
        Seq(500000L, 900000L, 990000L))
    }),
    // ----- Z-order clustered write, read back: the layout must be
    // content-preserving (LayoutSpec separately proves the per-file
    // range narrowing that makes the layout worth writing)
    // ----- skew mitigation: two-stage salted aggregation — row- and
    // value-identical to the plain groupBy (the salt only changes the
    // partitioning), so the oracle IS the plain aggregate
    // ----- pre-shuffle skew diagnosis: heaviest order keys in
    // lineitem with exact counts and milli shares — the report that
    // decides whether a key needs salting before the job hot-spots
    QuerySpec("q_skew_profile",
      // skew profile replay: counts + integer milli shares, the same
      // (count DESC, key ASC) total order, top 20
      """WITH c AS (SELECT l_suppkey, COUNT(*)::BIGINT AS n_rows
           FROM lineitem GROUP BY 1),
         t AS (SELECT COUNT(*)::BIGINT AS total FROM lineitem)
       SELECT l_suppkey, n_rows,
         n_rows * 1000 // GREATEST(t.total, 1) AS share_milli
       FROM c, t
       ORDER BY n_rows DESC, l_suppkey LIMIT 20""",
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      Skew.keyProfile(li, Seq("l_suppkey"), k = 20)
    }),
    QuerySpec("q_salted_agg",
      // the salt only changes partitioning: the oracle is the plain agg
      """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY 1""",
      (s, dir) => {
      val li = t(s, dir, "lineitem")
      Skew.saltedAgg(li, Seq("l_returnflag"), salt = 16,
        partials = Seq(
          (count(lit(1)), "__pc"),
          (sum(col("l_quantity").cast("decimal(18,2)")), "__ps")),
        merges = Seq(
          ((c: Column) => sum(c).cast("long"), "n_rows"),
          ((c: Column) => sum(c).cast("double"), "sum_qty")))
    }),
    // ----- bucketed write + read-back: the co-location surface gets a
    // value oracle on top of BucketingSpec's zero-Exchange plan proof
    // (10% slice — like q_zorder, this is deliberately write-bound)
    QuerySpec("q_bucketed_readback",
      // bucketing only changes layout: the oracle aggregates the source
      """SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
         FROM lineitem WHERE l_orderkey % 10 = 0 GROUP BY 1""",
      (s, dir) => {
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      graft.sources.Io.writeBucketed(li, "g_q_bucketed",
        "l_orderkey", buckets = 8, sortCol = Some("l_orderkey"))
      s.table("g_q_bucketed").groupBy("l_orderkey")
        .agg(count(lit(1)).cast("long").as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double")
            .as("sum_qty"))
    }),
    QuerySpec("q_zorder",
      // z-order is a LAYOUT: the read-back content must equal the
      // unclustered projection row-for-row (the compare sorts rows)
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         l_quantity FROM lineitem WHERE l_orderkey % 10 = 0""",
      (s, dir) => {
      // a 10% slice: the row set is still range-shuffled, z-sorted,
      // written and read back in full — writing ALL of sf0.1 made this
      // one WRITE benchmark 16% of the whole suite's wall
      val li = t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 10 === 0)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_q_zorder"
      Layout.zorderWrite(li, Seq("l_partkey", "l_suppkey"), path,
        outPartitions = 8)
      s.read.parquet(path)
    })
  )

  private val QuantilePs = Seq(0.0, 0.25, 0.5, 0.75, 0.9, 1.0)

  /** Mirror of ColumnStats.exactQuantiles: the SAME value-count →
    * running-cum → rank-range-join → interpolation formula, operation
    * for operation, so the doubles agree bit-wise. Parameterized per
    * column so describe() reuses it as a scalar subquery.
    */
  private def quantilesSqlFor(table: String, column: String,
      ps: Seq[Double], selectList: String): String = {
    val pts = ps.map(p => s"($p::DOUBLE)").mkString(", ")
    s"""WITH vals AS (SELECT $column::DOUBLE AS v
         FROM $table WHERE $column IS NOT NULL),
       counts AS (SELECT v, COUNT(*) AS c FROM vals GROUP BY v),
       cumt AS (SELECT v, c, SUM(c) OVER (ORDER BY v
         ROWS UNBOUNDED PRECEDING) AS cum FROM counts),
       cc AS (SELECT v, cum - c AS lo_rank, cum FROM cumt),
       nn AS (SELECT COUNT(*) AS n FROM vals),
       pts AS (SELECT * FROM (VALUES $pts) AS t(p)),
       ranked AS (SELECT p, n, p * (n - 1)::DOUBLE AS r,
         CAST(floor(p * (n - 1)::DOUBLE) AS BIGINT) AS ri_lo,
         CAST(ceil(p * (n - 1)::DOUBLE) AS BIGINT) AS ri_hi
         FROM pts CROSS JOIN nn),
       lov AS (SELECT p, n, r, ri_lo, ri_hi, v AS v_lo FROM ranked
         JOIN cc ON lo_rank <= ri_lo AND ri_lo < cum)
       SELECT $selectList
       FROM lov JOIN cc ON cc.lo_rank <= ri_hi AND ri_hi < cc.cum"""
  }

  private def quantilesOracle: String =
    quantilesSqlFor("lineitem", "l_extendedprice", QuantilePs,
      "p, v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE) AS quantile, n")

  /** Group-partitioned variant of [[quantilesSqlFor]] — mirror of
    * ColumnStats.groupedExactQuantiles.
    */
  private[queries] def groupedQuantilesSqlFor(table: String,
      groupCol: String, column: String, ps: Seq[Double],
      selectList: String): String = {
    val pts = ps.map(p => s"($p::DOUBLE)").mkString(", ")
    s"""WITH vals AS (SELECT $groupCol AS g, $column::DOUBLE AS v
         FROM $table
         WHERE $groupCol IS NOT NULL AND $column IS NOT NULL),
       counts AS (SELECT g, v, COUNT(*) AS c FROM vals GROUP BY g, v),
       cumt AS (SELECT g, v, c, SUM(c) OVER (PARTITION BY g ORDER BY v
         ROWS UNBOUNDED PRECEDING) AS cum FROM counts),
       cc AS (SELECT g, v, cum - c AS lo_rank, cum FROM cumt),
       nn AS (SELECT g, COUNT(*) AS n FROM vals GROUP BY g),
       pts AS (SELECT * FROM (VALUES $pts) AS t(p)),
       ranked AS (SELECT g, p, n, p * (n - 1)::DOUBLE AS r,
         CAST(floor(p * (n - 1)::DOUBLE) AS BIGINT) AS ri_lo,
         CAST(ceil(p * (n - 1)::DOUBLE) AS BIGINT) AS ri_hi
         FROM nn CROSS JOIN pts),
       lov AS (SELECT ranked.g, p, n, r, ri_lo, ri_hi, cc.v AS v_lo
         FROM ranked JOIN cc ON ranked.g = cc.g
           AND lo_rank <= ri_lo AND ri_lo < cum)
       SELECT $selectList
       FROM lov JOIN cc ON lov.g = cc.g
         AND cc.lo_rank <= ri_hi AND ri_hi < cc.cum"""
  }

  /** Mirror of ColumnStats.groupedDescribe over l_returnflag. */
  private def groupedDescribeOracle: String =
    Seq("l_quantity", "l_discount").map { c =>
      val med = groupedQuantilesSqlFor("lineitem", "l_returnflag", c,
        Seq(0.5),
        "lov.g AS g, v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE)" +
        " AS median_v")
      s"""SELECT b.g AS flag, '$c' AS column_name, n_total, n_nonnull,
           min_v, max_v, mean_v, m.median_v
         FROM (SELECT l_returnflag AS g, COUNT(*) AS n_total,
             COUNT($c) AS n_nonnull,
             MIN($c)::DOUBLE AS min_v, MAX($c)::DOUBLE AS max_v,
             SUM(CAST($c AS DECIMAL(28,6)))::DOUBLE / COUNT($c)
               AS mean_v
           FROM lineitem WHERE l_returnflag IS NOT NULL
           GROUP BY 1) b
         LEFT JOIN ($med) m ON b.g = m.g"""
    }.mkString(" UNION ALL ")

  /** Mirror of ColumnStats.describeNumeric: per column, the exact base
    * aggregates plus the quantile CTE as a scalar median subquery.
    */
  private def describeOracle: String =
    Seq("l_quantity", "l_extendedprice", "l_discount").map { c =>
      val medianSub = quantilesSqlFor("lineitem", c, Seq(0.5),
        "v_lo + (cc.v - v_lo) * (r - ri_lo::DOUBLE)")
      s"""SELECT '$c' AS column_name, COUNT(*) AS n_total,
          COUNT($c) AS n_nonnull,
          MIN($c)::DOUBLE AS min_v, MAX($c)::DOUBLE AS max_v,
          SUM(CAST($c AS DECIMAL(28,6)))::DOUBLE / COUNT($c) AS mean_v,
          ($medianSub) AS median_v
        FROM lineitem"""
    }.mkString(" UNION ALL ")

  /** (column, integer-grid scale) pairs for q_feature_corr: dollar
    * grid for the big measure, percent grid for the small rates —
    * chosen so every exact sum stays under 2^53 at sf0.1 and beyond.
    */
  private val corrCols: Seq[(String, Int)] = Seq(
    "l_quantity" -> 1, "l_extendedprice" -> 1,
    "l_discount" -> 100, "l_tax" -> 100)

  /** Mirror of ColumnStats.correlationMatrix: same integer grid, the
    * engine's exact HUGEINT sums converted to double once (values
    * < 2^53, so conversion is value-exact), then the identical fixed
    * shape of IEEE ops — bit-identical correlations.
    */
  private def featureCorrOracle: String = {
    val names = corrCols.map(_._1)
    val quant = corrCols.zipWithIndex.map { case ((c, sc), i) =>
      s"CAST(round($c * $sc, 0) AS BIGINT) AS c$i"
    }.mkString(", ")
    val notNull = names.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val sums = names.indices.map(i =>
      s"CAST(SUM(c$i) AS DOUBLE) AS s$i") ++
      (for { i <- names.indices; j <- i until names.length }
        yield s"CAST(SUM(c$i*c$j) AS DOUBLE) AS p${i}_$j")
    val cells = for {
      i <- names.indices; j <- (i + 1) until names.length
    } yield {
      val (num, da, db) = (s"(n*p${i}_$j - s$i*s$j)",
        s"(n*p${i}_$i - s$i*s$i)", s"(n*p${j}_$j - s$j*s$j)")
      s"""SELECT '${names(i)}' AS col_x, '${names(j)}' AS col_y,
          CASE WHEN $da > 0 AND $db > 0
            THEN $num / (sqrt($da) * sqrt($db)) END AS corr FROM s"""
    }
    s"""WITH f AS (SELECT $quant FROM lineitem WHERE $notNull),
       s AS (SELECT COUNT(*)::DOUBLE AS n, ${sums.mkString(", ")}
         FROM f)
       ${cells.mkString(" UNION ALL ")}"""
  }

  /** [[featureCorrOracle]] keyed by l_returnflag — mirror of
    * ColumnStats.groupedCorrelationMatrix.
    */
  private def groupedCorrOracle: String = {
    val names = corrCols.map(_._1)
    val quant = corrCols.zipWithIndex.map { case ((c, sc), i) =>
      s"CAST(round($c * $sc, 0) AS BIGINT) AS c$i"
    }.mkString(", ")
    val notNull = names.map(c => s"$c IS NOT NULL").mkString(" AND ")
    val sums = names.indices.map(i =>
      s"CAST(SUM(c$i) AS DOUBLE) AS s$i") ++
      (for { i <- names.indices; j <- i until names.length }
        yield s"CAST(SUM(c$i*c$j) AS DOUBLE) AS p${i}_$j")
    val cells = for {
      i <- names.indices; j <- (i + 1) until names.length
    } yield {
      val (num, da, db) = (s"(n*p${i}_$j - s$i*s$j)",
        s"(n*p${i}_$i - s$i*s$i)", s"(n*p${j}_$j - s$j*s$j)")
      s"""SELECT l_returnflag, '${names(i)}' AS col_x,
          '${names(j)}' AS col_y,
          CASE WHEN $da > 0 AND $db > 0
            THEN $num / (sqrt($da) * sqrt($db)) END AS corr FROM s"""
    }
    s"""WITH f AS (SELECT l_returnflag, $quant FROM lineitem
         WHERE $notNull),
       s AS (SELECT l_returnflag, COUNT(*)::DOUBLE AS n,
           ${sums.mkString(", ")}
         FROM f GROUP BY l_returnflag)
       ${cells.mkString(" UNION ALL ")}"""
  }
}
