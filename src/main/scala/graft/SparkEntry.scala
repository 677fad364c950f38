package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.io.Sources
import graft.ops.{Dedup, Multimodal, Similarity, TextAnalysis, Transform, Validate}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, transposed onto the testdata star schema (role mapping in
  * FIXTURES.md §B): orders→orders, order_items→lineitem (price
  * `l_extendedprice`, returned ⇔ `l_returnflag = 'R'`), products→part
  * (category `p_brand`, lookup `l_partkey = p_partkey`).
  *
  * Determinism rules (SURVEY.md §7.3): every query ends with a total-order
  * ORDER BY; money math goes through exact `DECIMAL(12,2)` casts (inputs
  * carry ≤2dp so the cast is exact and sums are order-independent —
  * float-sum nondeterminism never enters); ratios divide exactly-derived
  * doubles once; `COUNT`/`SUM` of integers cast to BIGINT in the oracle to
  * dodge DuckDB's HUGEINT widening.
  */
object SparkEntry {

  // -------- table + expression helpers --------

  private def t(s: SparkSession, d: String, name: String): DataFrame =
    Sources.table(s, d, name)

  /** Fact-table scan fanned out to cluster parallelism (Sources.fanOut,
    * a no-op when the scan already has >= cores splits). The testdata
    * parquet is single-row-group, so without this EVERY first stage —
    * scan, broadcast-probe, Expand, partial aggregate — of a fact query
    * runs as ONE task; at lake scale the scan has thousands of splits
    * and this adds nothing. */
  private def tf(s: SparkSession, d: String, name: String, key: String): DataFrame =
    Sources.fanOut(t(s, d, name), key)

  /** Exact money representation: inputs have ≤2 decimal places, so this
    * cast loses nothing and decimal aggregation is order-independent. */
  private def dec2(c: Column): Column = c.cast(DecimalType(12, 2))

  /** Order-independent money sum with a DOUBLE result: aggregate in exact
    * decimal (no float-sum nondeterminism), then one decimal→double cast.
    * The final cast is correctly rounded from the exact decimal in both
    * Spark (BigDecimal.doubleValue) and DuckDB (int/10^s IEEE division),
    * so results hash-match bit for bit — whereas emitting DECIMAL columns
    * trips the driver's compare (round 1: every hash_match=false query had
    * a decimal output column; every all-double query matched). */
  private def sumMoney(c: Column): Column = sum(dec2(c)).cast("double")
  /** Same exactness rule for non-aggregated decimal math: compute in
    * decimal, surface as double. */
  private def asDouble(c: Column): Column = c.cast("double")
  /** is_returned transposed: lineitem rows with return flag 'R'. */
  private def isRet: Column = col("l_returnflag") === "R"
  private def retLong: Column = when(isRet, 1L).otherwise(0L)

  /** Affine-permutation constants for the DuckDB-replayable MinHash
    * variants (`dedup_minhash_sig`, `dedup_lsh_kr`): a_j = 48271^(j+1)
    * mod p, b_j = j·2654435761 mod p over the Park–Miller prime —
    * shared between the Spark queries and the interpolated oracle SQL. */
  private val krP = 2147483647L
  private def krConstsN(n: Int): Seq[(Long, Long)] = (0 until n).map { j =>
    val a = Iterator.iterate(1L)(x => x * 48271L % krP).drop(j + 1).next()
    (a, (j + 1) * 2654435761L % krP)
  }
  private val krConsts: Seq[(Long, Long)] = krConstsN(8)

  /** Shared DuckDB CTE prefix replaying the production MinHash+LSH
    * signature pipeline ([[graft.ops.Dedup.minhashPairs]]) over the
    * relation `src` (must expose doc_id, text): 3-word shingles →
    * unsigned 64-bit Karp–Rabin fold (HUGEINT mod-2^64) → signed fold
    * into [0, p) → 64 affine min-hashes → 16 bands of 4 keyed by the
    * LITERAL band value. Used by the `dedup_minhash`,
    * `dedup_ngram_jaccard`, `dedup_lsh_kr`, and `doc_curate` oracles. */
  private def krBandedCtesFrom(src: String): String = {
    val cs = krConstsN(64)
    val aArr = cs.map(_._1).mkString("[", ", ", "]")
    val bArr = cs.map(_._2).mkString("[", ", ", "]")
    s"""WITH sh0 AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, LEN(toks) - 1),
      |                             i -> array_to_string(toks[i:i+2], ' '))
      |         END AS sh
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(LOWER(TRIM(text)), '\\s+') AS toks
      |        FROM $src)
      |), us AS (
      |  SELECT doc_id, sh, list_transform(sh, s ->
      |    CASE WHEN LENGTH(s) = 0 THEN 0::HUGEINT
      |         ELSE list_reduce(
      |           list_transform(range(1, LENGTH(s) + 1), i -> ord(s[i])::HUGEINT),
      |           (a, b) -> (a * 1000003::HUGEINT + b)
      |                     % 18446744073709551616::HUGEINT) END) AS us
      |  FROM sh0
      |), gs AS (
      |  SELECT doc_id, sh, list_transform(us, u ->
      |    ((((CASE WHEN u >= 9223372036854775808::HUGEINT
      |             THEN u - 18446744073709551616::HUGEINT ELSE u END)
      |       % 2147483647) + 2147483647) % 2147483647)::BIGINT) AS g
      |  FROM us
      |), sigs AS (
      |  SELECT doc_id, list_transform(range(0, 64), j ->
      |    list_min(list_transform(g, x ->
      |      (x * ($aArr)[j + 1] + ($bArr)[j + 1]) % 2147483647))) AS sig
      |  FROM gs
      |), banded0 AS (
      |  SELECT doc_id, b AS band,
      |    array_to_string(sig[b * 4 + 1 : b * 4 + 4], ',') AS bstr
      |  FROM sigs, UNNEST(range(0, 16)) AS t(b)
      |), banded AS (
      |  SELECT doc_id, band, bstr FROM (
      |    SELECT doc_id, band, bstr,
      |      COUNT(*) OVER (PARTITION BY band, bstr) AS bsz
      |    FROM banded0)
      |  WHERE bsz <= ${graft.ops.Dedup.DefaultMaxBucketSize}
      |)""".stripMargin
  }
  private lazy val krBandedCtes: String = krBandedCtesFrom("documents")

  /** DuckDB replay of the full composed curation pipeline
    * ([[graft.ops.Curation.curate]]): the txt_lang_id / txt_quality /
    * dedup_exact / dedup_minhash / txt_contamination oracle fragments
    * chained over the same staged survivor sets the Spark side uses.
    * Ends in a `verdict` relation (doc_id, lang_pred, quality_score,
    * contamination_frac, drop_stage, kept) shared by the `doc_curate`
    * and `doc_curate_funnel` oracles. */
  private lazy val docCurateCtes: String = {
    val enL = "['the','a','of','and','to','in','is','it','that','for']"
    val frL = "['le','la','les','de','et','un','une','est','que','pour']"
    val esL = "['el','la','los','de','y','un','una','es','que','por']"
    val deL = "['der','die','das','und','ein','eine','ist','zu','den','für']"
    val allStops = "['the','a','of','and','to','in','is','it','that','for'," +
      "'le','la','les','de','et','un','une','est','que','pour'," +
      "'el','los','y','una','es','por'," +
      "'der','die','das','und','ein','eine','ist','zu','den','für']"
    val bandedBody = krBandedCtesFrom("kept3").replaceFirst("^WITH ", "")
    s"""WITH lqs AS (
      |  SELECT doc_id, text,
      |    regexp_split_to_array(LOWER(TRIM(text)), '\\s+') AS toks,
      |    CAST(LENGTH(text) AS DOUBLE) AS len,
      |    CAST(LENGTH(regexp_replace(text, '[^\\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
      |    CAST(LENGTH(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g')) AS DOUBLE)
      |      / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE) AS cjk_ratio
      |  FROM documents
      |), lqm AS (
      |  SELECT doc_id, text, len, alpha, cjk_ratio,
      |    GREATEST(LEN(toks), 1)::DOUBLE AS ntoks,
      |    LEN(list_filter(toks, t -> list_contains($enL, t))) AS score_en,
      |    LEN(list_filter(toks, t -> list_contains($frL, t))) AS score_fr,
      |    LEN(list_filter(toks, t -> list_contains($esL, t))) AS score_es,
      |    LEN(list_filter(toks, t -> list_contains($deL, t))) AS score_de,
      |    LEN(list_filter(toks, t -> list_contains($allStops, t)))::DOUBLE AS stophits
      |  FROM lqs
      |), s1c AS (
      |  SELECT doc_id, text,
      |    CASE WHEN cjk_ratio > 0.3 THEN 'zh'
      |         WHEN GREATEST(score_en, score_fr, score_es, score_de) = 0 THEN 'und'
      |         WHEN score_en = GREATEST(score_en, score_fr, score_es, score_de) THEN 'en'
      |         WHEN score_fr = GREATEST(score_en, score_fr, score_es, score_de) THEN 'fr'
      |         WHEN score_es = GREATEST(score_en, score_fr, score_es, score_de) THEN 'es'
      |         ELSE 'de' END AS lang_pred,
      |    ROUND(LEAST(len / 200.0, 1.0) * 0.3
      |      + (alpha / GREATEST(len, 1.0)) * 0.3
      |      + (CASE WHEN alpha / ntoks BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
      |      + LEAST(stophits / ntoks * 5.0, 1.0) * 0.2, 4) AS quality_score
      |  FROM lqm
      |), s2c AS (
      |  SELECT *, (lang_pred = 'en') AS lang_ok, (quality_score >= 0.65) AS quality_ok
      |  FROM s1c
      |), kept2 AS (SELECT doc_id, text FROM s2c WHERE lang_ok AND quality_ok
      |), ex AS (SELECT doc_id, md5(text) AS fp FROM kept2
      |), dropx AS (
      |  SELECT e.doc_id FROM ex e
      |  JOIN (SELECT fp, MIN(doc_id) AS keep_id FROM ex GROUP BY fp) m ON e.fp = m.fp
      |  WHERE e.doc_id != m.keep_id
      |), kept3 AS (
      |  SELECT k.doc_id, k.text FROM kept2 k
      |  LEFT JOIN dropx dx ON k.doc_id = dx.doc_id WHERE dx.doc_id IS NULL
      |), $bandedBody, cand AS (
      |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
      |  FROM banded x JOIN banded y
      |    ON x.band = y.band AND x.bstr = y.bstr AND x.doc_id < y.doc_id
      |), dropn AS (
      |  SELECT DISTINCT c.id_b AS doc_id FROM cand c
      |  JOIN sigs a ON c.id_a = a.doc_id
      |  JOIN sigs b ON c.id_b = b.doc_id
      |  WHERE CAST(LEN(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) AS DOUBLE)
      |      / 64.0 >= 0.4
      |), csh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN LEN(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, LEN(toks) - 1),
      |                             i -> array_to_string(toks[i:i+2], ' '))
      |         END) AS sh
      |  FROM lqs
      |), contam AS (
      |  SELECT d.doc_id,
      |    CAST(COUNT(b.shingle) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination_frac
      |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM csh) d
      |  LEFT JOIN (SELECT DISTINCT unnest(sh) AS shingle FROM csh WHERE doc_id % 50 = 0) b
      |    ON d.shingle = b.shingle
      |  GROUP BY d.doc_id
      |), verdict AS (
      |  SELECT doc_id, lang_pred, quality_score, contamination_frac, drop_stage,
      |    (drop_stage IS NULL) AS kept
      |  FROM (
      |    SELECT s2c.doc_id, s2c.lang_pred, s2c.quality_score, c.contamination_frac,
      |      CASE WHEN NOT s2c.lang_ok THEN 'lang'
      |           WHEN NOT s2c.quality_ok THEN 'quality'
      |           WHEN dx2.doc_id IS NOT NULL THEN 'exact'
      |           WHEN dn.doc_id IS NOT NULL THEN 'near_dup'
      |           WHEN c.contamination_frac > 0.2 THEN 'contamination' END AS drop_stage
      |    FROM s2c
      |    LEFT JOIN dropx dx2 ON s2c.doc_id = dx2.doc_id
      |    LEFT JOIN dropn dn ON s2c.doc_id = dn.doc_id
      |    LEFT JOIN contam c ON s2c.doc_id = c.doc_id
      |  )
      |)""".stripMargin
  }

  /** lineitem ⋈ orders ⋈ broadcast(part) with the derived KPI columns —
    * the transposed `merged` frame of reference `Task_2/task_2.py:88-103`. */
  private def mergedFrame(s: SparkSession, d: String): DataFrame =
    tf(s, d, "lineitem", "l_orderkey")
      .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"), "inner")
      .join(broadcast(t(s, d, "part").select(col("p_partkey"), col("p_brand").as("category"))),
        col("l_partkey") === col("p_partkey"), "left")
      .withColumn("order_date", to_date(col("o_orderdate")))

  /** Flagship (driver smoke-checks rows>0): the order-KPI query end to end
    * on sf0.001 — scan → join → derive → 5-way agg → sort. */
  def entry(spark: SparkSession): DataFrame =
    queries("agg_order_kpi")(spark, "/root/testdata/sf0.001")

  // -------- declared queries (SURVEY.md §2 ids) --------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.A sources: parquet scan with projection + filter (both must push
    // into the scan — PushedFilters/ReadSchema checked in PlanSpec).
    "src_scan" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .filter(col("l_extendedprice") > 1000.0)
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),

    // §2.B flt_notnull_orders (Task_1/task_1.py:125)
    "flt_notnull_orders" -> ((s, d) =>
      Validate.dropNullsAny(Seq("o_orderkey", "o_custkey", "o_orderdate"))(
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderdate", "o_orderstatus"))
        .orderBy(col("o_orderkey"))),

    // §2.B flt_price_pos (Task_1/task_1.py:127)
    "flt_price_pos" -> ((s, d) =>
      Validate.positive("l_extendedprice")(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),

    // §2.B prj_derive_dates (Task_1/task_1.py:135-136)
    "prj_derive_dates" -> ((s, d) =>
      Validate.deriveDate("o_orderdate", "order_date")(
        t(s, d, "orders").select("o_orderkey", "o_orderdate"))
        .select("o_orderkey", "order_date")
        .orderBy(col("o_orderkey"))),

    // §2.B prj_is_returned (Task_2/task_2.py:91)
    "prj_is_returned" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), isRet.as("is_returned"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("is_returned"))),

    // §2.B prj_total_price (Task_2/task_2.py:103)
    "prj_total_price" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice").as("total_price"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("total_price"))),

    // §2.B prj_round_pct (Task_2/task_2.py:118-121) — percent conversion in
    // exact decimal arithmetic (the engine-internal pandas-parity path uses
    // bround; see Transform.catKpi).
    "prj_round_pct" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          asDouble((dec2(col("l_discount")) * 100).cast(DecimalType(12, 2))).as("discount_pct"),
          asDouble((dec2(col("l_tax")) * 100).cast(DecimalType(12, 2))).as("tax_pct"))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("discount_pct"), col("tax_pct"))),

    // §2.C join_semi_ri (Task_1/task_1.py:130-131)
    "join_semi_ri" -> ((s, d) =>
      Validate.semiJoinRI(
        t(s, d, "orders").select(col("o_orderkey").as("l_orderkey")), "l_orderkey")(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),

    // §2.C anti-join complement (data-quality orphan report)
    "join_anti_orphans" -> ((s, d) =>
      Validate.antiJoinOrphans(
        t(s, d, "orders").select(col("o_orderkey").as("l_orderkey")), "l_orderkey")(
        t(s, d, "lineitem").select("l_orderkey", "l_linenumber"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // §2.C join_inner_eq (Task_2/task_2.py:94)
    "join_inner_eq" -> ((s, d) =>
      tf(s, d, "lineitem", "l_orderkey").select("l_orderkey", "l_linenumber", "l_extendedprice")
        .join(t(s, d, "orders").select("o_orderkey", "o_custkey", "o_orderstatus"),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .select("l_orderkey", "l_linenumber", "l_extendedprice", "o_custkey", "o_orderstatus")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))),

    // §2.C join_lookup_cat (Task_2/task_2.py:88,97) — broadcast dim lookup
    "join_lookup_cat" -> ((s, d) =>
      t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey")
        .join(broadcast(t(s, d, "part")
          .select(col("p_partkey"), col("p_brand").as("category"))),
          col("l_partkey") === col("p_partkey"), "left")
        .select("l_orderkey", "l_linenumber", "category")
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("category"))),

    // §2.F set_union_all (Task_1/task_1.py:104)
    "set_union_all" -> ((s, d) => {
      val base = t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
      base.filter(col("l_linenumber") <= 3)
        .unionByName(base.filter(col("l_linenumber") > 3))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    }),

    // §2.D agg_sum
    "agg_sum" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(sumMoney(col("l_quantity")).as("sum_qty"),
          sumMoney(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("l_returnflag"))),

    // §2.D agg_count
    "agg_count" -> ((s, d) =>
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("o_orderstatus"))),

    // §2.D agg_count_distinct (exact, as the reference computes)
    "agg_count_distinct" -> ((s, d) =>
      tf(s, d, "orders", "o_orderkey")
        .withColumn("order_date", to_date(col("o_orderdate")))
        .groupBy(col("order_date"))
        .agg(countDistinct(col("o_custkey")).as("unique_customers"))
        .orderBy(col("order_date"))),

    // §2.D agg_bool_sum + agg_bool_mean
    "agg_bool" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(sum(retLong).as("return_count"),
          (sum(retLong).cast("double") / count(lit(1)).cast("double")).as("return_rate"))
        .orderBy(col("l_linestatus"))),

    // §2.D agg_cat_kpi (Task_2/task_2.py:106-121) — item-grain semantics,
    // null category filtered (pandas null-group-drop, SURVEY §2.D ⚠3)
    "agg_cat_kpi" -> ((s, d) =>
      mergedFrame(s, d)
        .filter(col("category").isNotNull)
        .groupBy(col("category"), col("order_date"))
        .agg(
          sumMoney(col("l_extendedprice")).as("daily_revenue"),
          countDistinct(col("l_orderkey")).as("order_count"),
          sum(retLong).as("return_count"))
        .withColumn("avg_order_value",
          col("daily_revenue").cast("double") / col("order_count").cast("double"))
        .withColumn("avg_return_rate",
          col("return_count").cast("double") / col("order_count").cast("double"))
        .orderBy(col("category"), col("order_date"))),

    // §2.D agg_order_kpi (Task_2/task_2.py:124-137) — the flagship shape.
    // Joins only what it aggregates: the reference merges the category dim
    // into the shared item frame, but order KPIs never read it — declaring
    // just lineitem ⋈ orders lets the plan skip the part broadcast
    // entirely (verified identical results; the dim join is row-preserving).
    "agg_order_kpi" -> ((s, d) =>
      tf(s, d, "lineitem", "l_orderkey")
        .join(t(s, d, "orders"), col("l_orderkey") === col("o_orderkey"), "inner")
        .withColumn("order_date", to_date(col("o_orderdate")))
        .groupBy(col("order_date"))
        .agg(
          countDistinct(col("l_orderkey")).as("total_orders"),
          sumMoney(col("l_extendedprice")).as("total_revenue"),
          count(lit(1)).as("total_items_sold"),
          (sum(retLong).cast("double") / count(lit(1)).cast("double")).as("return_rate"),
          countDistinct(col("o_custkey")).as("unique_customers"))
        .orderBy(col("order_date"))),

    // §2.K q_validate_all — the composed Task-1 pipeline (Task_1/task_1.py:106-141)
    "q_validate_all" -> ((s, d) => {
      val validOrders = Validate.dropNullsAny(Seq("o_orderkey", "o_custkey", "o_orderdate"))(
        t(s, d, "orders")).select(col("o_orderkey").as("l_orderkey"))
      val items = Validate.positive("l_extendedprice")(
        Validate.dropNullsAny(Seq("l_orderkey", "l_partkey", "l_extendedprice"))(
          t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")))
      Validate.semiJoinRI(validOrders, "l_orderkey")(
        graft.io.Sources.fanOut(items, "l_orderkey"))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_extendedprice"))
    }),

    // §0 README-intent mode: the reference README claims two checks its
    // code never performs — products price > 0 (README.md:33; Task_1
    // reads products but never validates them, task_1.py:120) and
    // order-item quantity > 0 (README.md:34; the reference data has no
    // quantity column at all). The default q_validate_all implements
    // CODE behavior; this variant implements the documented INTENT on
    // the transposed schema (products→part with p_retailprice, and the
    // testdata lineitem carries l_quantity, making the phantom check
    // expressible). Composed purely from the §2.B primitives.
    "q_validate_readme" -> ((s, d) => {
      val validOrders = Validate.dropNullsAny(Seq("o_orderkey", "o_custkey", "o_orderdate"))(
        t(s, d, "orders")).select(col("o_orderkey").as("l_orderkey"))
      val validParts = Validate.positive("p_retailprice")(t(s, d, "part"))
        .select(col("p_partkey").as("l_partkey"))
      val items = Validate.positive("l_quantity")(
        Validate.positive("l_extendedprice")(
          Validate.dropNullsAny(Seq("l_orderkey", "l_partkey", "l_extendedprice"))(
            t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_partkey",
              "l_quantity", "l_extendedprice"))))
      Validate.semiJoinRI(validOrders, "l_orderkey")(
        Validate.semiJoinRI(validParts, "l_partkey")(items))
        .orderBy(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    }),

    // Declarative data-quality constraint suite (ops.Quality, the
    // Deequ shape): the MEASURING counterpart of the filtering
    // validators above — named checks over lineitem + orders, each
    // table one aggregation pass, exact-integer pass/total ratios and
    // cross-multiplied rational thresholds (no float-boundary flips).
    "dq_report" -> ((s, d) => {
      import graft.ops.Quality, Quality.Check._
      val li = Quality.report(t(s, d, "lineitem"), Seq(
        Complete("l_orderkey"),
        Complete("l_partkey"),
        InRange("l_quantity", 1, 50),
        InSet("l_returnflag", Seq("A", "N", "R")),
        Satisfies("l_price_pos", col("l_extendedprice") > 0),
        InRange("l_discount", 0, 0.05, 1, 2))) // ≥ half at most 5% off
      val ord = Quality.report(t(s, d, "orders"), Seq(
        Complete("o_custkey"),
        Unique("o_orderkey"),
        Satisfies("o_total_pos", col("o_totalprice") > 0),
        InRange("o_totalprice", 0, 100000, 95, 100)))
      li.unionByName(ord).orderBy(col("check"))
    }),

    // §2.E window top-k (beyond the reference — engine completeness):
    // top-3 highest-price items per order, deterministic tiebreak.
    "win_topk_per_order" -> ((s, d) => {
      val w = Window.partitionBy(col("l_orderkey"))
        .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
      tf(s, d, "lineitem", "l_orderkey")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderBy(col("l_orderkey"), col("rn"))
    }),

    // §2.I streaming shape, batch-equivalent: tumbling 1-day event-time
    // aggregation over the events stream table.
    "evt_daily" -> ((s, d) =>
      tf(s, d, "events", "event_id")
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sumMoney(col("value")).as("total_value"),
          countDistinct(col("user_id")).as("unique_users"))
        .orderBy(col("day"), col("event_type"))),

    // §2.G JSON scalar function surface over the events props column.
    "evt_json_props" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_with_k"))
        .orderBy(col("event_type"))),

    // §2.B prj_drop_cols (Task_2/task_2.py:117) — projection-as-drop
    "prj_drop_cols" -> ((s, d) =>
      t(s, d, "orders")
        .drop("o_orderpriority", "o_totalprice")
        .orderBy(col("o_orderkey"))),

    // §2.G scalar-function suite: the fn_* rows in one projection
    // (to_date, ISO formatting, decimal rounding path, mul/div, null test)
    "fn_scalar_suite" -> ((s, d) =>
      t(s, d, "orders")
        .select(
          col("o_orderkey"),
          to_date(col("o_orderdate")).as("order_date"),
          date_format(to_date(col("o_orderdate")), "yyyy-MM-dd").as("order_date_iso"),
          asDouble(dec2(col("o_totalprice"))).as("price_dec"),
          asDouble((dec2(col("o_totalprice")) * 2).cast(DecimalType(12, 2))).as("price_x2"),
          (col("o_totalprice") / 100.0).as("price_ratio"),
          col("o_orderdate").isNotNull.as("has_date"))
        .orderBy(col("o_orderkey"))),

    // beyond-reference §2.D: ROLLUP grouping sets (engine completeness)
    "agg_rollup" -> ((s, d) =>
      t(s, d, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sumMoney(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // beyond-reference §2.D: pivot (statuses to columns)
    "agg_pivot" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("order_date", to_date(col("o_orderdate")))
        .groupBy(col("order_date"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sumMoney(col("o_totalprice")))
        .select(col("order_date"), col("F").as("rev_f"),
          col("O").as("rev_o"), col("P").as("rev_p"))
        .orderBy(col("order_date"))),

    // beyond-reference §2.H: running/lag window functions over a
    // customer's order history
    "win_running" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice")))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("double").as("running_spend"),
          lag(dec2(col("o_totalprice")), 1).over(w).cast("double").as("prev_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // beyond-reference §2.F: INTERSECT / EXCEPT (distinct set semantics)
    "set_intersect" -> ((s, d) =>
      t(s, d, "customer").filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey"))
        .intersect(t(s, d, "orders").select(col("o_custkey").as("custkey")))
        .orderBy(col("custkey"))),

    "set_except" -> ((s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("custkey"))
        .except(t(s, d, "customer").filter(col("c_acctbal") >= 0)
          .select(col("c_custkey").as("custkey")))
        .orderBy(col("custkey"))),

    // beyond-reference §2.C: LEFT OUTER join preserved-side aggregation
    "join_left_agg" -> ((s, d) =>
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy(col("c_custkey"))),

    // beyond-reference §2.C: AS-OF join — each event enriched with the
    // latest order at or before its timestamp (ops.AsOf union+window
    // linear formulation; oracle is DuckDB's native ASOF LEFT JOIN).
    "join_asof" -> ((s, d) => {
      val ev = t(s, d, "events").select("event_id", "user_id", "ts")
      graft.ops.AsOf.asOfJoin(ev, t(s, d, "orders"),
        "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("event_id"))
    }),

    // Multi-way dimension-CHAIN analytic join (the TPC-H Q5 "local
    // supplier volume" shape) — exercises the star schema's full
    // depth: lineitem ⋈ orders is the single fact-fact shuffle;
    // customer/supplier/nation/region are explicit broadcasts, so at
    // 100 TB the fact stream moves exactly once and every dim hop is
    // map-side. Money in exact DECIMAL space end to end.
    "join_dim_chain" -> ((s, d) => {
      val li = t(s, d, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val ord = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
        .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val cust = broadcast(t(s, d, "customer")
        .select("c_custkey", "c_nationkey"))
      val sup = broadcast(t(s, d, "supplier")
        .select("s_suppkey", "s_nationkey"))
      val nat = broadcast(t(s, d, "nation")
        .select("n_nationkey", "n_name", "n_regionkey"))
      val reg = broadcast(t(s, d, "region")
        .select("r_regionkey", "r_name").where(col("r_name") === "ASIA"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(sup, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey")) // LOCAL supplier
        .join(nat, col("s_nationkey") === col("n_nationkey"))
        .join(reg, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
          (lit(1.0) - col("l_discount")).cast("decimal(12,2)"))
          .cast("decimal(38,4)").cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Same as-of semantics through the NATIVE Catalyst operator
    // (graft.plans: custom LogicalPlan + Strategy + streaming-merge
    // SparkPlan via SparkSessionExtensions) — same DuckDB oracle as
    // join_asof, so the custom exec is hash-checked end to end.
    "join_asof_native" -> ((s, d) => {
      val ev = t(s, d, "events").select("event_id", "user_id", "ts")
      graft.plans.AsOfJoinPlan.asOfJoinNative(ev, t(s, d, "orders"),
        "user_id", "o_custkey", "ts", "o_orderdate",
        Seq("o_orderkey", "o_totalprice"))
        .select(col("event_id"), col("user_id"),
          col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("event_id"))
    }),

    // §2.A src_csv_multi (Task_1/task_1.py:88-104): multi-file CSV scan +
    // union-all over the reference's own part-files — oracle-checked:
    // DuckDB reads the same CSV glob directly (read_csv), so the
    // boundary-format scan is hash-compared end to end, not just the
    // parquet star schema.
    "src_csv_multi" -> ((s, _) => {
      val corpus = "/root/reference/Data"
      if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(corpus)))
        throw new IllegalStateException(s"reference corpus absent at $corpus")
      graft.ops.Validate.dropNullsAny(Seq("order_id"))(
        Sources.csvMulti(s, s"$corpus/orders", graft.schema.Schemas.orders))
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"))
        .orderBy(col("status"))
    }),

    // beyond-reference layout: the z-order clustering key (ops.Layout /
    // functions.ZOrder2) — bit-for-bit oracle of the Morton interleave
    // the write path sorts on; the SKIPPING it buys is asserted in
    // LayoutSpec (row groups pruned on both dimensions).
    "lay_zorder" -> ((s, d) => {
      val day = datediff(col("o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long")
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), day.as("day"),
          graft.functions.GraftExpressions.zorder2(col("o_custkey"), day).as("zkey"))
        .orderBy(col("o_orderkey"))
    }),

    // Hilbert index (functions.Hilbert2, the clusterHilbert key —
    // Morton's locality-superior sibling): bit-for-bit oracle via a
    // 31-step recursive-CTE replay of the classic xy2d walk.
    "lay_hilbert" -> ((s, d) => {
      val day = datediff(col("o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long")
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), day.as("day"),
          graft.functions.GraftExpressions.hilbert2(col("o_custkey"), day).as("hkey"))
        .orderBy(col("o_orderkey"))
    }),

    // 3-D Morton interleave (functions.ZOrder3, the clusterZ3 key):
    // bit-for-bit oracle of the 21-bit three-way interleave.
    "lay_zorder3" -> ((s, d) => {
      val day = datediff(col("o_orderdate"),
        lit("1995-01-01").cast("date")).cast("long")
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), day.as("day"),
          graft.functions.GraftExpressions.zorder3(col("o_custkey"), day,
            col("o_orderkey")).as("zkey"))
        .orderBy(col("o_orderkey"))
    }),

    // Non-integral z-order curve inputs (ops.Layout.mortonInput, the
    // clusterZ/clusterZ3 mapping for DATE and STRING keys): epoch-day
    // for dates, big-endian 3-byte UTF-8 window for strings, then the
    // 31-bit interleave — bit-for-bit oracle of the production
    // date+string clustering key (normalization is pinned separately
    // in ManifestScanSpec; it needs table stats, not SQL).
    "lay_zorder_date" -> ((s, d) => {
      import org.apache.spark.sql.types.{DateType, StringType}
      val x = graft.ops.Layout.mortonInput(DateType,
        to_date(col("o_orderdate")), 31)
      val y = graft.ops.Layout.mortonInput(StringType,
        col("o_orderpriority"), 31)
      t(s, d, "orders")
        .select(col("o_orderkey"), x.as("epoch_day"), y.as("prio_window"),
          graft.functions.GraftExpressions.zorder2(x, y).as("zkey"))
        .orderBy(col("o_orderkey"))
    }),

    // beyond-reference layout: join + aggregate over bucketed managed
    // tables (ops.Layout.bucketedTable) — results must be identical to
    // the plain-table plan (the oracle) while the physical plan is
    // exchange-free (asserted in LayoutSpec).
    "lay_bucket_join" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val li = graft.ops.Layout.bucketedTable(s,
        t(s, d, "lineitem").select("l_orderkey", "l_extendedprice"),
        s"li_bkt_$tag", "l_orderkey", 8)
      val ord = graft.ops.Layout.bucketedTable(s,
        t(s, d, "orders").select("o_orderkey", "o_orderstatus"),
        s"ord_bkt_$tag", "o_orderkey", 8)
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(sumMoney(col("l_extendedprice")).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("o_orderstatus"))
    }),

    // beyond-reference lake upsert (ops.Merge): the reference's keyed
    // put_item semantics (Task_2/task_2.py:144-197) as a copy-on-write,
    // partition-pruned MERGE into partitioned parquet. The query REALLY
    // runs the write path — bootstrap base, merge an update batch, read
    // the table back — and the oracle recomputes the merged relation as
    // a FULL OUTER JOIN with update-wins coalesce.
    "mrg_upsert" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_merge_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
      val updates = orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.ops.Merge.mergeInto(s, dir, base, Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Merge.mergeInto(s, dir, updates, Seq("o_orderkey"), "o_orderstatus")
      s.read.parquet(dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // Copy-on-write keyed DELETE (ops.Merge.deleteWhere): bootstrap the
    // orders table, delete every 7th key, read back. REALLY runs the
    // write path; the oracle is the retained relation.
    "mrg_delete" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_delete_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      orders.write.partitionBy("o_orderstatus").parquet(dir)
      graft.ops.Merge.deleteWhere(s, dir,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      s.read.parquet(dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // Snapshot-isolated table protocol (ops.Manifest — the table-format
    // answer to dynamic overwrite's commit-phase crash window): full
    // lifecycle create → upsert → keyed delete → compact under atomic
    // manifest commits, then read the final snapshot. Same merge/delete
    // row semantics as mrg_upsert/mrg_delete, so the oracle composes
    // their SQL; compaction is answer-invariant.
    "man_upsert" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_manifest_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
      val updates = orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.ops.Manifest.create(s, dir, base, "o_orderstatus")
      graft.ops.Manifest.upsert(s, dir, updates, Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.delete(s, dir,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.compact(s, dir, "o_orderstatus")
      graft.ops.Manifest.read(s, dir).orderBy(col("o_orderkey"))
    }),

    // Time travel: after the upsert, version 1 must still read back as
    // EXACTLY the relation the table was created from — snapshot
    // isolation made oracle-checkable (the oracle is the plain base
    // SELECT; any leakage of the upsert into old files mismatches).
    "man_timetravel" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_timetravel_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
      graft.ops.Manifest.create(s, dir, base, "o_orderstatus")
      graft.ops.Manifest.upsert(s, dir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.readVersion(s, dir, 1L).orderBy(col("o_orderkey"))
    }),

    // RESTORE: after an upsert AND a keyed delete, rolling back to v1
    // must make the TIP read as exactly the create input again — and as
    // a new commit, not a pointer mutation (the pre-restore tip stays
    // time-travelable; ManifestRestoreSpec pins that and the O(1)
    // no-new-manifest property). The oracle is the plain base SELECT:
    // any leakage of the undone writes into the restored tip mismatches.
    "man_restore" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_restore_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
      graft.ops.Manifest.create(s, dir, base, "o_orderstatus")
      graft.ops.Manifest.upsert(s, dir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.delete(s, dir,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.restore(s, dir, 1L)
      graft.ops.Manifest.read(s, dir).orderBy(col("o_orderkey"))
    }),

    // The graft-manifest BATCH DataSource end to end (io.ManifestRelation
    // / ManifestStreamProvider.createRelation): CREATE through
    // DataFrameWriter, SaveMode.Append, an atomic whole-snapshot
    // Overwrite (prices doubled), then read the TIP and a versionAsOf=1
    // time travel back through spark.read.format — the left join flags
    // which keys the first commit carried, so ONE result pins both
    // snapshots and the writer/reader round trip.
    "man_datasource" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_datasource_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      orders.filter(col("o_orderkey") % 3 === 0)
        .write.format("graft-manifest")
        .option("partitionCol", "o_orderstatus").save(dir)
      orders.filter(col("o_orderkey") % 3 =!= 0)
        .write.format("graft-manifest").mode("append")
        .option("partitionCol", "o_orderstatus").save(dir)
      orders.withColumn("o_totalprice", col("o_totalprice") * 2)
        .write.format("graft-manifest").mode("overwrite")
        .option("partitionCol", "o_orderstatus").save(dir)
      val tip = s.read.format("graft-manifest").load(dir)
      val v1 = s.read.format("graft-manifest").option("versionAsOf", "1")
        .load(dir).select(col("o_orderkey").as("k1"))
      tip.join(v1, tip("o_orderkey") === v1("k1"), "left")
        .select(col("o_orderkey"), col("o_totalprice").as("tp2"),
          col("o_orderstatus").cast("string").as("o_orderstatus"),
          col("k1").isNotNull.as("in_v1"))
        .orderBy(col("o_orderkey"))
    }),

    // TABLE REPLICATION (ops.Manifest.applyChanges): B bootstraps from
    // A's v1 snapshot, then ONE applyChanges call folds the net change
    // feed changes(A, 1, tip). The %10 keys genuinely MOVE partitions
    // in A (delete at the old status + re-insert at 'R' — upsert's own
    // contract forbids partition moves, so the move is the two-commit
    // form), which makes the feed carry a cross-partition delete+insert
    // pair per moved key: exactly the case applyChanges' per-(key,
    // partition) representative logic exists for. B's read must equal
    // A's tip.
    "man_replicate" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_replicate_$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val a = s"$root/a"; val b = s"$root/b"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val movers = orders.filter(col("o_orderkey") % 10 === 0)
      graft.ops.Manifest.create(s, a, orders, "o_orderstatus")
      // v2+v3: move %10 keys to status 'R' at doubled price; v4:
      // delete %7 keys (the %70 ones now live at 'R')
      graft.ops.Manifest.delete(s, a,
        movers.select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.append(s, a,
        movers.withColumn("o_totalprice", col("o_totalprice") * 2)
          .withColumn("o_orderstatus", lit("R")),
        "o_orderstatus")
      graft.ops.Manifest.delete(s, a,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"),
            when(col("o_orderkey") % 10 === 0, lit("R"))
              .otherwise(col("o_orderstatus")).as("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.create(s, b,
        graft.ops.Manifest.readVersion(s, a, 1L), "o_orderstatus")
      graft.ops.Manifest.applyChanges(s, b,
        graft.ops.Manifest.changes(s, a, 1L, 4L),
        Seq("o_orderkey"), "o_orderstatus")
      // the defining property, asserted in-query: B == A's tip
      val aTip = graft.ops.Manifest.read(s, a)
      val bTip = graft.ops.Manifest.read(s, b)
      require(bTip.exceptAll(aTip).isEmpty && aTip.exceptAll(bTip).isEmpty,
        "replication divergence: B != A's tip")
      bTip
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // COMMIT PROVENANCE (ops.Manifest.history — DESCRIBE HISTORY):
    // every commit's pointer carries op:/ts: tag lines; history()
    // reads the retained pointers alone (no manifest or data file
    // opened). The operation SEQUENCE is deterministic, so the oracle
    // pins it literally; timestamps are excluded (wall clock).
    "man_history" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_history_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 2 === 0), "o_orderstatus")
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") % 2 =!= 0), "o_orderstatus")
      graft.ops.Manifest.upsert(s, dir,
        orders.filter(col("o_orderkey") % 100 === 0), Seq("o_orderkey"),
        "o_orderstatus")
      graft.ops.Manifest.delete(s, dir,
        orders.filter(col("o_orderkey") % 99 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.renameColumn(s, dir, "o_totalprice", "price")
      graft.ops.Manifest.history(s, dir)
        .select(col("version"), col("operation"), col("multi_table"))
        .orderBy(col("version"))
    }),

    // DROP + UNDROP (ops.Manifest.dropColumn/undropColumn): both
    // metadata-only — the dropped column's physical slot keeps its
    // values in the files, invisible until the undrop re-binds it
    // (possibly under a new logical name). Writes BETWEEN drop and
    // undrop null-fill the hidden slot, so the re-exposed column is
    // exactly "original values, null for rows written while hidden".
    "man_undrop" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_undrop_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 2 === 0), "o_orderstatus")
      graft.ops.Manifest.dropColumn(s, dir, "o_totalprice")
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") % 2 =!= 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        "o_orderstatus")
      graft.ops.Manifest.undropColumn(s, dir, "o_totalprice", "price2")
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("price2"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // COLUMN MAPPING (ops.Manifest.renameColumn): RENAME is a
    // metadata-only commit — no data file rewrites — and every later
    // write speaks the new name; the read surfaces the logical face.
    // Half the orders commit under the OLD name, the rename lands, the
    // other half appends under the NEW name, and the tip must read as
    // the full table renamed.
    "man_rename" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_rename_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 2 === 0), "o_orderstatus")
      graft.ops.Manifest.renameColumn(s, dir, "o_totalprice", "price")
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") % 2 =!= 0)
          .withColumnRenamed("o_totalprice", "price"),
        "o_orderstatus")
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("price"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // File-stat range pruning (ops.Manifest.readRange): the table is
    // partitioned by STATUS but ingested in date bands (the time-ordered
    // append pattern of a daily feed), so per-file min/max on
    // o_orderdate lets a date-ranged read open only the band it needs —
    // the reference's date-ranged KPI scans (Task_2/task_2.py:107,126)
    // without a date partition. ManifestSpec asserts the file skip; the
    // oracle here pins the ANSWER to a plain BETWEEN.
    "man_stats_prune" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_statsprune_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderdate") < "1994-01-01"),
        "o_orderstatus", statsCols = Seq("o_orderdate"))
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderdate") >= "1994-01-01" &&
          col("o_orderdate") < "1996-01-01"), "o_orderstatus")
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderdate") >= "1996-01-01"), "o_orderstatus")
      graft.ops.Manifest.readRange(s, dir, "o_orderdate",
          Some("1995-01-01"), Some("1995-12-31"))
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // Planner-integrated data skipping (plans.ManifestScan): the same
    // date-banded table, but the predicate is a PLAIN WHERE on the
    // scan DataFrame — no readRange/readPartitions cooperation. The
    // custom FileIndex receives Catalyst's pushed dataFilters and skips
    // files by manifest stats (date min/max) AND partition-value sets
    // (status equality) during planning; parquet row-group pushdown and
    // codegen stay stock. ManifestScanSpec asserts the numFiles metric.
    "man_scan_prune" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_scanprune_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderdate") < "1994-01-01"),
        "o_orderstatus", statsCols = Seq("o_orderdate"))
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderdate") >= "1994-01-01" &&
          col("o_orderdate") < "1996-01-01"), "o_orderstatus")
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderdate") >= "1996-01-01"), "o_orderstatus")
      graft.plans.ManifestScan.scan(s, dir, Some("o_orderstatus"))
        .filter(col("o_orderdate").between("1995-01-01", "1995-12-31") &&
          col("o_orderstatus") === "F")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // MERGE-ON-READ lifecycle (ops.Manifest.upsertMor/deleteMor):
    // identical row semantics to man_upsert — the oracle SQL is shared —
    // but neither the upsert nor the delete rewrites ONE data file; each
    // commits a deletion vector + (for upsert) new files, and the read
    // applies the position mask. At 100 TB this is the write path that
    // scales with the CHANGE, not the resident candidate files.
    "man_upsert_mor" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_mor_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
      val updates = orders.filter(col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.ops.Manifest.create(s, dir, base, "o_orderstatus")
      graft.ops.Manifest.upsertMor(s, dir, updates, Seq("o_orderkey"),
        "o_orderstatus")
      graft.ops.Manifest.deleteMor(s, dir,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.read(s, dir).orderBy(col("o_orderkey"))
    }),

    // Layout maintenance must NEVER change the answer: cluster (range
    // clustering on the date stat column) and the full maintain cycle
    // (materialize DVs + compact + vacuum) both rewrite files, and the
    // oracle pins the relation as invariant across them. The deleteMor
    // in the middle proves the maintenance path folds vectors, not
    // drops them.
    "man_maintain" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_maint_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderdate") < "1995-01-01"),
        "o_orderstatus", statsCols = Seq("o_orderdate"))
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderdate") >= "1995-01-01"), "o_orderstatus")
      graft.ops.Manifest.deleteMor(s, dir,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.cluster(s, dir, "o_orderstatus", "o_orderdate")
      graft.ops.Manifest.maintain(s, dir, "o_orderstatus",
        keepVersions = 1, staleMillis = 0L)
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // DV-aware change feed: a MoR delete's feed rows come from reading
    // the masked POSITIONS back out of untouched data files (no file
    // was added or removed — the naive file-diff feed would be empty).
    "man_changes_mor" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_morcf_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 3 =!= 0), "o_orderstatus")
      graft.ops.Manifest.deleteMor(s, dir,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.changes(s, dir, 1L, 2L)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"),
          col("change"))
        .orderBy(col("o_orderkey"))
    }),

    // Metadata-only schema evolution (ops.Manifest.evolve): ADD COLUMN
    // commits a widened sentinel and rewrites NOTHING — old files read
    // the new column as null, post-evolve appends carry it. O(1) in
    // table size (Delta's metadata-only ADD COLUMNS contract);
    // ManifestSpec asserts zero data files rewritten.
    "man_evolve" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_manevolve_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 3 =!= 0), "o_orderstatus")
      graft.ops.Manifest.evolve(s, dir, Seq("o_flag" -> "STRING"))
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") % 3 === 0)
          .withColumn("o_flag", lit("late")), "o_orderstatus")
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"),
          col("o_flag"))
        .orderBy(col("o_orderkey"))
    }),

    // Partition-scoped Z-order (ops.Manifest.clusterZWhere — OPTIMIZE
    // WHERE ... ZORDER BY): re-clusters ONLY the 'F' partition's files
    // on the (custkey, order date) curve — a date key, so the
    // stats-normalized non-integral Morton mapping runs inside a
    // committed lifecycle — and the oracle recomputes the relation from
    // scratch: layout maintenance must never change the answer.
    "lay_zorder_where" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_zwhere_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("o_date"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 2 === 0), "o_orderstatus",
        statsCols = Seq("o_custkey", "o_date"))
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") % 2 =!= 0), "o_orderstatus")
      graft.ops.Manifest.clusterZWhere(s, dir, "o_orderstatus",
        "o_custkey", "o_date", values = Seq("F"))
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // INCREMENTAL (liquid-style) clustering: a first full curve pass
    // starts the watermark, a second ingest wave lands un-curved, and
    // the incremental pass rewrites ONLY the post-watermark files —
    // maintenance must never change the answer, so the oracle is the
    // plain relation.
    "lay_cluster_incr" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_clincr_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          to_date(col("o_orderdate")).as("o_date"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 2 === 0), "o_orderstatus",
        statsCols = Seq("o_custkey", "o_date"))
      graft.ops.Manifest.clusterIncremental(s, dir, "o_orderstatus",
        "o_custkey", "o_date") // full pass; watermark starts
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") % 2 =!= 0), "o_orderstatus")
      graft.ops.Manifest.clusterIncremental(s, dir, "o_orderstatus",
        "o_custkey", "o_date", hilbert = true) // curves ONLY the wave
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_date"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // Metadata-only TYPE WIDENING (ops.Manifest.widenColumn): the
    // sentinel re-types qty int→bigint without rewriting a file; old
    // int-physical parquet reads under the widened schema via the
    // reader's widening promotions, and the appended rows carry values
    // only a LONG can hold — the oracle recomputes the final relation
    // from scratch, so the hash match proves the promotion is exact.
    "man_widen" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_manwiden_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
      graft.ops.Manifest.create(s, dir,
        orders.select(col("o_orderkey"),
          (col("o_orderkey") % 1000).cast("int").as("qty"),
          col("o_orderstatus")), "o_orderstatus")
      graft.ops.Manifest.widenColumn(s, dir, "qty", "bigint")
      graft.ops.Manifest.append(s, dir,
        orders.select((col("o_orderkey") + lit(10000000L)).as("o_orderkey"),
          (col("o_orderkey") + lit(5000000000L)).as("qty"),
          col("o_orderstatus")), "o_orderstatus")
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("qty"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"), col("qty"), col("o_orderstatus"))
    }),

    // Row-level change feed between snapshots (ops.Manifest.changes):
    // the CDC source computed from the FILE diff — an update surfaces as
    // its delete+insert pair, unchanged rows of rewritten files cancel
    // in the multiset difference, and cost scales with the changed
    // files, never the table.
    "man_changes" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_manchanges_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 3 =!= 0), "o_orderstatus")
      graft.ops.Manifest.upsert(s, dir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.changes(s, dir, 1L, 2L)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"),
          col("change"))
        .orderBy(col("o_orderkey"), col("change"))
    }),

    // SHALLOW CLONE: a metadata-only fork — the clone lists the
    // source's files by reference (zero data copied), then diverges:
    // an append lands clone-local, a post-clone SOURCE delete must be
    // invisible (snapshot independence), and a merge-on-read delete on
    // the clone masks rows that live in SOURCE files (the DV keys on
    // the root-independent path tail). The oracle recomputes the final
    // clone relation from scratch.
    "man_clone" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val base = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_manclone_$tag"
      val fs = new org.apache.hadoop.fs.Path(base)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val src = s"$base/src_tbl"; val dst = s"$base/dst_tbl"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, src,
        orders.filter(col("o_orderkey") % 2 === 0), "o_orderstatus")
      graft.ops.Manifest.shallowClone(s, src, dst)
      graft.ops.Manifest.append(s, dst,
        orders.filter(col("o_orderkey") % 2 =!= 0), "o_orderstatus")
      graft.ops.Manifest.delete(s, src,
        orders.filter(col("o_orderkey") % 10 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.deleteWhereMor(s, dst,
        "o_orderkey % 9 = 0", "o_orderstatus")
      graft.ops.Manifest.read(s, dst)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // Predicate DELETE (`DELETE FROM t WHERE p`) through all three
    // planning tiers: a retention predicate on the partition column
    // drops whole months METADATA-ONLY (exact value-set tier), a
    // price predicate rewrites only the files whose recorded min/max
    // can match (stats tier), and a key predicate lands as one
    // deletion vector (merge-on-read). The oracle recomputes the
    // surviving relation from scratch — three deletes, one WHERE.
    "man_delete_where" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_mandelw_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
          trunc(col("o_orderdate"), "month").as("o_month"))
      graft.ops.Manifest.create(s, dir, orders, "o_month",
        statsCols = Seq("o_totalprice"))
      graft.ops.Manifest.deleteWhere(s, dir,
        "o_month < DATE '1994-01-01'", "o_month")
      graft.ops.Manifest.deleteWhere(s, dir,
        "o_totalprice > 400000.0", "o_month")
      graft.ops.Manifest.deleteWhereMor(s, dir,
        "o_orderkey % 10 = 0", "o_month")
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
        .orderBy(col("o_orderkey"))
    }),

    // Predicate UPDATE (`UPDATE t SET ... WHERE p`): a date-banded
    // CoW update (stats tier prunes the clean files) followed by a
    // key-banded MERGE-ON-READ update (one deletion vector + updated
    // re-inserts). The oracle recomputes both SETs as nested CASE
    // WHENs — the tiers and the MoR shape must never change the
    // answer.
    "man_update_where" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_manupdw_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir, orders, "o_orderstatus",
        statsCols = Seq("o_orderdate"))
      graft.ops.Manifest.updateWhere(s, dir,
        Seq("o_totalprice" -> "o_totalprice * 2"),
        "o_orderdate < DATE '1994-01-01'", "o_orderstatus")
      graft.ops.Manifest.updateWhereMor(s, dir,
        Seq("o_totalprice" -> "o_totalprice + 1.0"),
        "o_orderkey % 7 = 0", "o_orderstatus")
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // SQL STATEMENT surface over a registered manifest table: the same
    // three-tier DELETE lifecycle as man_delete_where plus a predicate
    // UPDATE and an OPTIMIZE, every step issued as SQL TEXT
    // (graft.sql.GraftSqlParser routes DELETE FROM / UPDATE / OPTIMIZE
    // to the existing planners; the registered view refreshes after
    // each statement, so the final SELECT is SQL end-to-end too).
    "sql_dml_surface" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_sqldml_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
          trunc(col("o_orderdate"), "month").as("o_month"))
      graft.ops.Manifest.create(s, dir, orders, "o_month",
        statsCols = Seq("o_totalprice"))
      graft.plans.ManifestScan.register(s, "sqldml_t", dir, Some("o_month"))
      s.sql("DELETE FROM sqldml_t WHERE o_month < DATE '1994-01-01'")
      s.sql("DELETE FROM sqldml_t WHERE o_totalprice > 400000.0")
      s.conf.set("graft.sql.dml.mor", "true")
      try s.sql("DELETE FROM sqldml_t WHERE o_orderkey % 10 = 0")
      finally s.conf.unset("graft.sql.dml.mor")
      s.sql("UPDATE sqldml_t SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderdate < DATE '1995-01-01'")
      s.sql("OPTIMIZE sqldml_t")
      s.sql("SELECT o_orderkey, o_totalprice, o_orderdate FROM sqldml_t " +
        "ORDER BY o_orderkey")
    }),

    // SQL time travel: `FROM t VERSION AS OF 1` must read back EXACTLY
    // the create input, the later upsert notwithstanding — the SQL
    // spelling of man_timetravel, resolved through the same pruning
    // scan pinned at the old snapshot.
    "sql_time_travel" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_sqltt_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val base = orders.filter(col("o_orderkey") % 3 =!= 0)
      graft.ops.Manifest.create(s, dir, base, "o_orderstatus")
      graft.ops.Manifest.upsert(s, dir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey"), "o_orderstatus")
      graft.plans.ManifestScan.register(s, "sqltt_t", dir,
        Some("o_orderstatus"))
      s.sql("SELECT o_orderkey, o_totalprice, " +
        "CAST(o_orderstatus AS STRING) AS o_orderstatus " +
        "FROM sqltt_t VERSION AS OF 1 ORDER BY o_orderkey")
    }),

    // Catalog-unified SQL DML: the table is known to the session ONLY
    // through `CREATE TABLE ... USING graft-manifest` — DELETE/UPDATE/
    // INSERT resolve the manifest dir from the catalog relation, no
    // Scala registration anywhere, and each write invalidates the
    // cached relation so the next statement sees it.
    "sql_catalog_dml" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_sqlcat_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
          trunc(col("o_orderdate"), "month").as("o_month"))
      graft.ops.Manifest.create(s, dir, orders, "o_month",
        statsCols = Seq("o_totalprice"))
      s.sql("DROP TABLE IF EXISTS sqlcat_t")
      s.sql(s"CREATE TABLE sqlcat_t USING `graft-manifest` " +
        s"OPTIONS (path '$dir', partitionCol 'o_month')")
      s.sql("DELETE FROM sqlcat_t WHERE o_totalprice > 400000.0")
      s.sql("UPDATE sqlcat_t SET o_totalprice = o_totalprice * 2 " +
        "WHERE o_orderdate < DATE '1995-01-01'")
      s.sql("INSERT INTO sqlcat_t VALUES " +
        "(-1, CAST(111.5 AS DOUBLE), DATE '1997-06-15', DATE '1997-06-01')")
      // partial-column INSERT: omitted nullable columns fill NULL
      // (ANSI DEFAULT NULL)
      s.sql("INSERT INTO sqlcat_t (o_orderkey, o_orderdate) VALUES " +
        "(-2, DATE '1997-07-01')")
      s.sql("SELECT o_orderkey, o_totalprice, o_orderdate FROM sqlcat_t " +
        "ORDER BY o_orderkey")
    }),

    // CONVERT-IN-PLACE: adopt a plain parquet dir as a manifest table
    // by reference (zero rewrite — the 100 TB onboarding path), then
    // prove the table is LIVE: a merge-on-read delete masks rows
    // INSIDE the adopted files (the raw-path rel derivation keying the
    // DVs) and a SQL statement drives it — the oracle replays both as
    // one WHERE over the original relation.
    "man_convert" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val rootT = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_convert_$tag"
      val fs = new org.apache.hadoop.fs.Path(rootT)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(rootT), true)
      val pdir = s"$rootT/raw"; val dir = s"$rootT/orders_tbl"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      orders.repartition(4).write.parquet(pdir)
      s.sql(s"CONVERT TO MANIFEST '$pdir' AS conv_t " +
        s"PARTITIONED BY (o_orderstatus) LOCATION '$dir' " +
        "STATS BY (o_totalprice)")
      s.conf.set("graft.sql.dml.mor", "true")
      try s.sql("DELETE FROM conv_t WHERE o_orderkey % 7 = 0")
      finally s.conf.unset("graft.sql.dml.mor")
      s.sql("SELECT o_orderkey, o_totalprice, " +
        "CAST(o_orderstatus AS STRING) AS o_orderstatus FROM conv_t " +
        "ORDER BY o_orderkey")
    }),

    // CONVERT-IN-PLACE over a HIVE-PARTITIONED layout (`status=X/`
    // dirs — the most common plain-parquet lake shape): the partition
    // column lives in directory names, never in the files, and every
    // read re-derives it from each file's own path. DML-liveness is
    // the proof: a CoW DELETE prunes by the dir-derived values and
    // rewrites adopted files locally (the rewritten files carry the
    // column in-data, coexisting with path-derived files in one scan),
    // then an UPDATE hits another partition. Oracle replays both over
    // the original relation.
    "man_convert_hive" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val rootT = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_converth_$tag"
      val fs = new org.apache.hadoop.fs.Path(rootT)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(rootT), true)
      val pdir = s"$rootT/hive"; val dir = s"$rootT/orders_tbl"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
      orders.write.partitionBy("o_orderstatus").parquet(pdir)
      s.sql(s"CONVERT TO MANIFEST '$pdir' AS convh_t " +
        s"PARTITIONED BY (o_orderstatus) LOCATION '$dir' " +
        "STATS BY (o_totalprice)")
      s.sql("DELETE FROM convh_t " +
        "WHERE o_orderstatus = 'F' AND o_orderkey % 3 = 0")
      s.sql("UPDATE convh_t SET o_totalprice = o_totalprice + 1.0 " +
        "WHERE o_orderstatus = 'O'")
      s.sql("SELECT o_orderkey, o_totalprice, " +
        "CAST(o_orderstatus AS STRING) AS o_orderstatus FROM convh_t " +
        "ORDER BY o_orderkey")
    }),

    // The ALTER TABLE surface, all metadata-only: RENAME COLUMN (a
    // colmap commit), ADD COLUMNS (sentinel evolve, null-filled), a
    // predicate UPDATE filling the new column, DROP COLUMN (slot
    // hidden) — the oracle replays the whole lifecycle as one SELECT
    // with a CASE over the original relation.
    "sql_alter_surface" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_sqlalter_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_custkey"),
          col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir, orders, "o_orderstatus")
      graft.plans.ManifestScan.register(s, "sqlalter_t", dir,
        Some("o_orderstatus"))
      s.sql("ALTER TABLE sqlalter_t RENAME COLUMN o_totalprice TO price")
      s.sql("ALTER TABLE sqlalter_t ADD COLUMNS (bonus DOUBLE)")
      s.sql("UPDATE sqlalter_t SET bonus = price * 0.5 " +
        "WHERE o_orderkey % 2 = 0")
      s.sql("ALTER TABLE sqlalter_t DROP COLUMN o_custkey")
      s.sql("SELECT o_orderkey, price, bonus FROM sqlalter_t " +
        "ORDER BY o_orderkey")
    }),

    // The change-feed TVF: table_changes('t', 1, 2) between the create
    // and an append is exactly the appended rows flagged 'insert' —
    // the SQL spelling of the CDC read, oracle-replayed as the plain
    // append-side SELECT.
    "sql_table_changes" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_sqltvf_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 3 =!= 0), "o_orderstatus")
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") % 3 === 0), "o_orderstatus")
      graft.plans.ManifestScan.register(s, "sqltvf_t", dir,
        Some("o_orderstatus"))
      s.sql("SELECT o_orderkey, o_totalprice, " +
        "CAST(o_orderstatus AS STRING) AS o_orderstatus, change " +
        "FROM table_changes('sqltvf_t', 1, 2) ORDER BY o_orderkey")
    }),

    // The change-feed TVF with TIMESTAMP bounds — "changes since
    // yesterday", the spelling a debugging user actually types —
    // resolved through the same monotone in-commit-timestamp machinery
    // as TIMESTAMP AS OF, so it returns exactly what the version
    // spelling of the same range returns (the oracle is the same
    // append-side SELECT as sql_table_changes).
    "sql_table_changes_ts" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_sqltvfts_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 3 =!= 0), "o_orderstatus")
      Thread.sleep(1100) // distinct in-commit millis for v1 vs v2
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") % 3 === 0), "o_orderstatus")
      graft.plans.ManifestScan.register(s, "sqltvfts_t", dir,
        Some("o_orderstatus"))
      // render commit times in the session zone (UTC) explicitly — a
      // JVM default-zone Timestamp.toString would skew the literal
      val fmt = java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        .withZone(java.time.ZoneOffset.UTC)
      val ts = graft.ops.Manifest.history(s, dir)
        .select(col("version"), col("timestamp")).collect()
        .map(r => r.getLong(0) -> fmt.format(r.getTimestamp(1).toInstant))
        .toMap
      s.sql("SELECT o_orderkey, o_totalprice, " +
        "CAST(o_orderstatus AS STRING) AS o_orderstatus, change " +
        s"FROM table_changes('sqltvfts_t', TIMESTAMP '${ts(1L)}', " +
        s"TIMESTAMP '${ts(2L)}') ORDER BY o_orderkey")
    }),

    // Conditional-clause MERGE INTO as one atomic commit, issued as
    // SQL: matched DELETE (guarded), matched UPDATE, NOT MATCHED
    // INSERT, and a guarded NOT MATCHED BY SOURCE UPDATE — the oracle
    // replays the clause algebra as joins over the same source
    // derivation. Source: the %3 keys as updates (+1000), the %5 keys
    // NEGATED as guaranteed-new inserts.
    "mrg_merge_clauses" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_mrgcl_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir, orders, "o_orderstatus")
      graft.plans.ManifestScan.register(s, "mrgcl_t", dir,
        Some("o_orderstatus"))
      orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey").as("k"),
          (col("o_totalprice") + 1000.0).as("nv"),
          col("o_orderstatus").as("st"))
        // o_orderkey 0 exists in the testdata: -0 = 0 would collide
        // with the %3 branch's key 0, tripping the (correct)
        // multiple-match refusal — negate strictly positive keys only
        .unionByName(orders.filter(col("o_orderkey") % 5 === 0 &&
            col("o_orderkey") > 0)
          .select((-col("o_orderkey")).as("k"),
            col("o_totalprice").as("nv"), col("o_orderstatus").as("st")))
        .createOrReplaceTempView("mrgcl_src")
      s.sql(
        """MERGE INTO mrgcl_t AS t USING mrgcl_src AS s ON t.o_orderkey = s.k
          |WHEN MATCHED AND s.nv > 200000.0 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET o_totalprice = s.nv
          |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice, o_orderstatus)
          |  VALUES (s.k, s.nv, s.st)
          |WHEN NOT MATCHED BY SOURCE AND t.o_totalprice < 50000.0
          |  THEN UPDATE SET o_totalprice = 0.0
          |""".stripMargin)
      s.sql("SELECT o_orderkey, o_totalprice, " +
        "CAST(o_orderstatus AS STRING) AS o_orderstatus FROM mrgcl_t " +
        "ORDER BY o_orderkey")
    }),

    // Keyed DELETE on the Manifest path alone (the mrg_delete sibling):
    // a fully-emptied file just drops out of the manifest — no
    // emptied-directory special case — and the commit is the atomic
    // pointer swap.
    "man_delete" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_mandelete_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir, orders, "o_orderstatus")
      graft.ops.Manifest.delete(s, dir,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // OPTIMIZE on the Manifest path alone (the lay_compact sibling):
    // fragment the table across four append batches, compact under the
    // atomic swap, read back — answer-invariant, and with no
    // delete-before-rename window (old files stay until vacuum).
    "man_compact" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_mancompact_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") % 4 === 0), "o_orderstatus")
      (1 to 3).foreach { r =>
        graft.ops.Manifest.append(s, dir,
          orders.filter(col("o_orderkey") % 4 === r), "o_orderstatus")
      }
      graft.ops.Manifest.compact(s, dir, "o_orderstatus")
      graft.ops.Manifest.read(s, dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // SCD2 folds with the history COMMITTED through the Manifest
    // protocol between batches (the mrg_scd2 sibling + the scd2Stream
    // storage path): same fold semantics, but each batch lands as an
    // atomic snapshot version — a crash mid-fold can never lose or fork
    // the dimension history.
    "man_scd2" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_manscd2_$tag/hist_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val hist0 = cust
        .withColumn("valid_from", to_date(lit("2024-01-01")))
        .withColumn("valid_to", lit(null).cast("date"))
      graft.ops.Manifest.create(s, dir, hist0, "valid_to")
      val b1 = cust.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_V2")))
        .unionByName(cust.filter(
          col("c_custkey") % 2 =!= 0 && col("c_custkey") % 5 === 1))
        .withColumn("eff", to_date(lit("2024-02-01")))
      val b2 = cust.filter(col("c_custkey") % 4 === 0)
        .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_V2")))
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("eff", to_date(lit("2024-03-01")))
      Seq(b1, b2).foreach { b =>
        val h = graft.ops.Manifest.read(s, dir)
        graft.ops.Manifest.overwrite(s, dir,
          graft.ops.Merge.scd2Apply(h, b, Seq("c_custkey"),
            Seq("c_mktsegment", "c_acctbal"), "eff"), "valid_to")
      }
      graft.ops.Manifest.read(s, dir)
        .orderBy(col("c_custkey"), col("valid_from"))
    }),

    // Incrementally-maintained materialized aggregate
    // (ops.Incremental over ops.Manifest.changes): a per-customer
    // revenue view kept current from the base table's row-level change
    // feed — create, full-refresh, then upsert + delete + append the
    // base and DELTA-refresh. The refresh reads only the changed files
    // and rewrites only the touched view buckets; the oracle recomputes
    // the GROUP BY from scratch over the final base relation, so the
    // hash match proves the delta fold converges to the full answer.
    "man_incr_kpi" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_incr_$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val baseDir = s"$root/base"; val viewDir = s"$root/view"
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), col("o_orderstatus"))
      graft.ops.Manifest.create(s, baseDir,
        orders.filter(col("o_orderkey") % 3 =!= 0), "o_orderstatus")
      graft.ops.Incremental.refresh(s, baseDir, viewDir,
        Seq("o_custkey"), "o_totalprice")
      graft.ops.Manifest.upsert(s, baseDir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.delete(s, baseDir,
        orders.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Incremental.refresh(s, baseDir, viewDir,
        Seq("o_custkey"), "o_totalprice")
      graft.ops.Incremental.read(s, viewDir)
        .select(col("o_custkey"),
          col("sum_value").cast("double").as("sum_value"), col("n_rows"))
        .orderBy(col("o_custkey"))
    }),

    // Incrementally-maintained materialized JOIN view
    // (ops.Incremental.refreshJoin — the bilinear Z-set delta
    // Δ(A⋈B) = ΔA⋈B_new + A_old⋈ΔB over signed change feeds, with the
    // packed two-sided watermark riding the fold commit atomically):
    // bootstrap, then mutate BOTH sides (A: upsert that moves rows
    // across price bands + keyed delete; B: upsert that moves
    // customers to a new segment) and delta-refresh. The oracle
    // recomputes the final inner join + multiplicity GROUP BY from
    // scratch, so the hash match proves the two-sided delta fold
    // converges to the full answer.
    "man_incr_join" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_incrj_$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val aDir = s"$root/a"; val bDir = s"$root/b"
      val viewDir = s"$root/view"
      def bandOf(price: org.apache.spark.sql.Column) =
        floor(price / lit(1000.0)).as("price_band")
      val orders = t(s, d, "orders")
      val aRows = orders.select(col("o_orderkey"), col("o_custkey"),
        bandOf(col("o_totalprice")), col("o_orderstatus"))
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"),
          pmod(col("c_custkey"), lit(4L)).as("q"))
      graft.ops.Manifest.create(s, aDir,
        aRows.filter(col("o_orderkey") % 3 =!= 0), "o_orderstatus")
      graft.ops.Manifest.create(s, bDir, cust, "q")
      graft.ops.Incremental.refreshJoin(s, aDir, bDir, viewDir,
        "o_custkey", "c_custkey",
        Seq("o_custkey", "price_band"), Seq("c_mktsegment"))
      graft.ops.Manifest.upsert(s, aDir,
        orders.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_custkey"),
            bandOf(col("o_totalprice") * 2), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.delete(s, aDir,
        aRows.filter(col("o_orderkey") % 7 === 0)
          .select(col("o_orderkey"), col("o_orderstatus")),
        Seq("o_orderkey"), "o_orderstatus")
      graft.ops.Manifest.upsert(s, bDir,
        cust.filter(col("c_custkey") % 5 === 0)
          .withColumn("c_mktsegment", lit("MOVED")),
        Seq("c_custkey"), "q")
      graft.ops.Incremental.refreshJoin(s, aDir, bDir, viewDir,
        "o_custkey", "c_custkey",
        Seq("o_custkey", "price_band"), Seq("c_mktsegment"))
      graft.ops.Incremental.read(s, viewDir)
        .orderBy(col("o_custkey"), col("price_band"), col("c_mktsegment"))
    }),

    // Exactly-once streaming ingest into a Manifest table
    // (pipeline.Streaming.manifestIngest): orders arrive as files, the
    // stream appends each micro-batch under an atomic (appId, batchId)
    // txn commit — the Delta txnAppId/txnVersion sink pattern. The
    // oracle is the plain full relation: any dropped or double-applied
    // batch hash-mismatches. Replay idempotence itself is spec-gated
    // (StreamingSpec pre-commits a batch and replays it).
    "man_ingest" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_maningest_$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      orders.repartition(3).write.parquet(s"$root/raw")
      val arrivals = s.readStream.schema(orders.schema)
        .option("maxFilesPerTrigger", "1") // several real micro-batches
        .parquet(s"$root/raw")
      val q = graft.pipeline.Streaming.manifestIngest(arrivals,
        s"$root/tbl", "o_orderstatus", s"$root/ckpt", appId = s"ingest_$tag")
      q.processAllAvailable(); q.stop()
      graft.ops.Manifest.read(s, s"$root/tbl")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // MULTI-TABLE atomic commit (ops.Manifest.commitAll): the
    // Step-Function contract — publish the category KPI and the order
    // KPI as ONE unit (reference StateMachine.txt:3-41 runs both tasks
    // inside one execution). A first commitAll creates both tables
    // with deliberately WRONG placeholder rows, a second atomically
    // OVERWRITES both with the real aggregates; the read-back proves
    // readers only ever see the final all-or-nothing state (a torn
    // publish would leak a placeholder row and mismatch the oracle —
    // MultiCommitSpec covers the crash-between-pointers half).
    "man_commit_all" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_commitall_$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val orders = t(s, d, "orders")
      def kpi(keyCol: String, kpiName: String) = orders
        .groupBy(col(keyCol).cast("string").as("k"))
        .agg(count(lit(1)).as("n"), sumMoney(col("o_totalprice")).as("rev"))
        .select(lit(kpiName).as("kpi"), col("k"), col("n"), col("rev"))
      val catReal = kpi("o_orderpriority", "priority")
      val ordReal = kpi("o_orderstatus", "status")
      val placeholder = catReal.limit(1)
        .select(lit("placeholder").as("kpi"), lit("x").as("k"),
          lit(-1L).as("n"), lit(-1.0).as("rev"))
      graft.ops.Manifest.commitAll(s, Seq(
        graft.ops.StagedWrite(s"$root/cat_kpi", placeholder, "kpi"),
        graft.ops.StagedWrite(s"$root/ord_kpi", placeholder, "kpi")),
        s"$root/_txns")
      graft.ops.Manifest.commitAll(s, Seq(
        graft.ops.StagedWrite(s"$root/cat_kpi", catReal, "kpi",
          overwrite = true),
        graft.ops.StagedWrite(s"$root/ord_kpi", ordReal, "kpi",
          overwrite = true)),
        s"$root/_txns")
      graft.ops.Manifest.read(s, s"$root/cat_kpi")
        .unionByName(graft.ops.Manifest.read(s, s"$root/ord_kpi"))
        .orderBy(col("kpi"), col("k"))
    }),

    // Dynamic partition overwrite (Manifest.overwritePartitions): one
    // priority partition's rows are replaced (price doubled) in one
    // atomic commit; every other partition carries by reference. The
    // final table must equal the per-partition CASE rewrite.
    "man_overwrite_parts" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val root = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_owparts_$tag"
      val fs = new org.apache.hadoop.fs.Path(root)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(root), true)
      val dir = s"$root/tbl"
      val base = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
      graft.ops.Manifest.create(s, dir, base, "o_orderpriority")
      val repl = base.filter(col("o_orderpriority") === "1-URGENT")
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      graft.ops.Manifest.overwritePartitions(s, dir, repl,
        "o_orderpriority")
      graft.ops.Manifest.read(s, dir)
        .orderBy(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
    }),

    // Bloom point-lookup file skipping (ops.Manifest.readPoint): the
    // table is partitioned by STATUS and ingested in three key bands
    // with a per-file bloom on o_orderkey, so fetching one order by key
    // opens only the files whose bloom admits it — the needle-in-the-
    // lake shape min/max stats can't serve when keys are unclustered.
    // ManifestSpec asserts the file skip; the oracle pins the ANSWER
    // (min + max key probes) to plain equality reads.
    "man_bloom_point" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_bloom_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      val bounds = orders.agg(min(col("o_orderkey")), max(col("o_orderkey"))).head()
      val (loK, hiK) = (bounds.getLong(0), bounds.getLong(1))
      val cut1 = loK + (hiK - loK) / 3; val cut2 = loK + 2 * (hiK - loK) / 3
      graft.ops.Manifest.create(s, dir,
        orders.filter(col("o_orderkey") <= cut1), "o_orderstatus",
        bloomCols = Seq("o_orderkey"))
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") > cut1 && col("o_orderkey") <= cut2),
        "o_orderstatus")
      graft.ops.Manifest.append(s, dir,
        orders.filter(col("o_orderkey") > cut2), "o_orderstatus")
      graft.ops.Manifest.readPoint(s, dir, "o_orderkey", loK.toString)
        .unionByName(
          graft.ops.Manifest.readPoint(s, dir, "o_orderkey", hiK.toString))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // beyond-reference SCD Type-2 history fold (ops.Merge.scd2Apply):
    // the history-keeping upgrade of mrg_upsert's last-write-wins puts.
    // Bootstrap every customer at v1, fold two update batches — batch 1
    // re-segments the even keys (plus verbatim no-op rows for keys
    // ≡1 mod 5, which must NOT fork a version), batch 2 bumps acctbal
    // for keys ≡0 mod 4 — and return the full version history. The
    // oracle rebuilds the expected history arithmetically per key class.
    "mrg_scd2" -> ((s, d) => {
      val cust = t(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val hist0 = cust
        .withColumn("valid_from", to_date(lit("2024-01-01")))
        .withColumn("valid_to", lit(null).cast("date"))
      val b1 = cust.filter(col("c_custkey") % 2 === 0)
        .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_V2")))
        .unionByName(cust.filter(
          col("c_custkey") % 2 =!= 0 && col("c_custkey") % 5 === 1))
        .withColumn("eff", to_date(lit("2024-02-01")))
      val h1 = graft.ops.Merge.scd2Apply(hist0, b1, Seq("c_custkey"),
        Seq("c_mktsegment", "c_acctbal"), "eff")
      val b2 = cust.filter(col("c_custkey") % 4 === 0)
        .withColumn("c_mktsegment", concat(col("c_mktsegment"), lit("_V2")))
        .withColumn("c_acctbal", col("c_acctbal") + 100.0)
        .withColumn("eff", to_date(lit("2024-03-01")))
      graft.ops.Merge.scd2Apply(h1, b2, Seq("c_custkey"),
        Seq("c_mktsegment", "c_acctbal"), "eff")
        .orderBy(col("c_custkey"), col("valid_from"))
    }),

    // beyond-reference lake maintenance (ops.Layout.compact): OPTIMIZE-
    // style small-file bin-packing compaction. The query REALLY runs the
    // write path — fragment a partitioned copy of orders (8 files per
    // partition), compact it, read it back. The oracle is the plain
    // uncompacted relation, so the hash match proves answer-invariance;
    // LayoutSpec covers idempotence + untouched-file byte-identity.
    "lay_compact" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_compact_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      val orders = t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      orders.repartition(8).write.partitionBy("o_orderstatus").parquet(dir)
      graft.ops.Layout.compact(s, dir, "o_orderstatus")
      s.read.parquet(dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // Retention vacuum (ops.Layout.vacuum): REALLY runs the delete path —
    // partition a copy of orders by status, expire the 'F' partition,
    // read the table back. The oracle is the retained relation.
    "lay_vacuum" -> ((s, d) => {
      val tag = d.replaceAll("[^0-9a-zA-Z]", "_")
      val dir = s"${sys.props.getOrElse("java.io.tmpdir", "/tmp")}/graft_vacuum_$tag/orders_tbl"
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      t(s, d, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.partitionBy("o_orderstatus").parquet(dir)
      graft.ops.Layout.vacuum(s, dir, "o_orderstatus", _ != Some("F"))
      s.read.parquet(dir)
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderstatus").cast("string").as("o_orderstatus"))
        .orderBy(col("o_orderkey"))
    }),

    // §2.D declared approx variant (SURVEY §2.D: offer HLL alongside the
    // exact countDistinct, never silently substitute). The sketch's raw
    // estimate has no SQL oracle (DuckDB's HLL internals differ), so the
    // query carries its own quantitative contract instead: per group it
    // emits the EXACT distinct plus a flag that the HLL estimate landed
    // within max(2%, ±1) of it — the oracle replays the exact half and
    // pins the flag TRUE, so an out-of-bound sketch is a correctness
    // FAILURE, not an unchecked number. The ±1 absolute slack is for
    // tiny groups, where 2% demands bit-exactness and a single
    // sparse-mode hash collision (measured: one 6-customer date at
    // sf0.01 estimates 5) is within the sketch's design, not a defect.
    // (PropertySpec holds the pure ≤2% gate at sf0.1 across three
    // grouping cardinalities, where groups are large enough that the
    // slack never engages.) This exact+flag form is the CORRECTNESS
    // shape only — the exact countDistinct dominates its runtime, so
    // it is deliberately NOT in benchQueries; time the sketch through
    // a bare approx_count_distinct if perf ever matters.
    "agg_approx_distinct" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("order_date", to_date(col("o_orderdate")))
        .groupBy(col("order_date"))
        .agg(
          approx_count_distinct(col("o_custkey"), 0.008).as("approx"),
          countDistinct(col("o_custkey")).as("exact_customers"))
        .select(col("order_date"), col("exact_customers"),
          (abs(col("approx") - col("exact_customers"))
            <= greatest(lit(1.0), col("exact_customers") * lit(0.02)))
            .as("within_bound"))
        .orderBy(col("order_date"))),

    // beyond-reference §2.I: gap-based sessionization (30-min gap) over
    // the events table — batch window-function form of the stateful
    // streaming op (ops.Sessions.sessionizeStreaming).
    "evt_sessionize" -> ((s, d) =>
      graft.ops.Sessions.sessionizeBatch(t(s, d, "events"))
        .orderBy(col("user_id"), col("session_id"))),

    // ---- training-data extensions (documents / embeddings tables) ----

    // Text analysis: char-class + token statistics, one scan.
    "txt_stats" -> ((s, d) =>
      TextAnalysis.docStats(t(s, d, "documents"))
        .select("doc_id", "n_len", "n_tokens", "n_alpha", "n_digits", "n_punct")
        .orderBy(col("doc_id"))),

    // Text analysis: quality-score prefilter.
    "txt_quality" -> ((s, d) =>
      TextAnalysis.qualityScore(t(s, d, "documents"))
        .select("doc_id", "quality_score")
        .orderBy(col("doc_id"))),

    // Gopher §A.1.1 rule gate (TextAnalysis.gopherRules): the published
    // per-rule booleans + conjunction, fully replayed in the oracle. On
    // this single-line corpus the line-shape rules are structurally
    // true — the oracle still computes them; the synthetic-fixture spec
    // exercises every rule both ways.
    "doc_gopher" -> ((s, d) =>
      TextAnalysis.gopherRules(t(s, d, "documents"))
        .select("doc_id", "r_word_count", "r_mean_word_len",
          "r_symbol_ratio", "r_bullet_lines", "r_ellipsis_lines",
          "r_alpha_words", "r_stopwords", "r_dup_lines", "gopher_kept")
        .orderBy(col("doc_id"))),

    // Text analysis: content-addressable fingerprint (normalized md5).
    "txt_fingerprint" -> ((s, d) =>
      TextAnalysis.fingerprints(t(s, d, "documents"))
        .select("doc_id", "fp_md5")
        .orderBy(col("doc_id"))),

    // Text analysis: heuristic language ID — oracle-checked: stopword
    // hits are list_filter/list_contains in DuckDB, the CJK gate a
    // regexp char-class count, and the argmax a CASE cascade in the
    // same fixed language order.
    "txt_lang_id" -> ((s, d) =>
      TextAnalysis.langId(t(s, d, "documents"))
        .select("doc_id", "lang", "lang_pred", "score_en", "score_fr",
          "score_es", "score_de")
        .orderBy(col("doc_id"))),

    // Text analysis: rolling-hash fingerprint (custom Catalyst
    // expression) — oracle-checked: DuckDB replays the same Karp–Rabin
    // recurrence over HUGEINT with an explicit mod-2^64 per step. The
    // corpus is pure ASCII, so per-character ord == per-byte value;
    // empty strings hash to 0 in both engines.
    "txt_fingerprint_rolling" -> ((s, d) =>
      TextAnalysis.fingerprints(t(s, d, "documents"))
        .select("doc_id", "fp_rolling")
        .orderBy(col("doc_id"))),

    // Text analysis: BPE-ish subword-count estimate (tokenizer
    // budgeting without tokenizer libs) — oracle-checked, the regex
    // char classes translate 1:1 to DuckDB's RE2.
    "txt_tokens_bpe" -> ((s, d) =>
      t(s, d, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCountBpe(col("text")).as("token_count_bpe"))
        .orderBy(col("doc_id"))),

    // §2.J UDTF surface: custom shingle Generator — corpus-wide 3-gram
    // frequency top-20 (deterministic: ties broken by shingle text).
    // Oracle = DuckDB unnest over the same lambda-built shingle lists.
    "txt_top_shingles" -> ((s, d) =>
      t(s, d, "documents")
        .select(graft.functions.GraftExpressions
          .explode_shingles(col("text"), 3).as("shingle"))
        .groupBy(col("shingle"))
        .agg(count(lit(1)).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("shingle"))
        .limit(20)),

    // Dedup: exact, keyed on content fingerprint.
    "dedup_exact" -> ((s, d) =>
      Dedup.exactByFingerprint(t(s, d, "documents"), "doc_id", "text")
        .select(col("fp"), col("doc_id"), col("dup_count"))
        .orderBy(col("doc_id"))),

    // Dedup: MinHash+LSH near-dup candidate pairs — the PRODUCTION
    // DEFAULT path (Dedup.minhashPairs), ORACLE-CHECKED end to end
    // since round 5: signatures are the native KR-permutation
    // expression (fused codegen loop, replayable arithmetic), banding
    // joins on literal band values, est_jaccard is the signature
    // agreement fraction — all replayed in the DuckDB SQL below. The
    // xxhash64 signature variant survives as Dedup.minhashPairsXx
    // (perf-only; pair-set parity spec-asserted in DedupSpec).
    "dedup_minhash" -> ((s, d) =>
      Dedup.minhashPairs(t(s, d, "documents"), "doc_id", "text", threshold = 0.4)
        .orderBy(col("id_a"), col("id_b"))),

    // Dedup: SimHash banding + Hamming verify — ORACLE-CHECKED end to
    // end since round 6: the default sketch is KR affine bit votes
    // (kr_simhash64, SQL-replayable; the full 64-bit sketch, banding,
    // bucket cap, and Hamming verify are all replayed in DuckDB). The
    // seeded-xxhash64 sketch survives as Dedup.simHashPairsXx
    // (perf-only; different hash family, so pair sets are similar but
    // not bitwise-identical — property-spec'd, not parity-spec'd).
    "dedup_simhash" -> ((s, d) =>
      Dedup.simHashPairs(t(s, d, "documents"), "doc_id", "text", maxHamming = 8)
        .orderBy(col("id_a"), col("id_b"))),

    // Dedup: two-stage MinHash-candidates → exact n-gram Jaccard verify
    // — ORACLE-CHECKED end to end since round 5 (KR candidate stage at
    // threshold 0.3, exact-Jaccard verify at 0.5).
    "dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.nearDupNgram(t(s, d, "documents"), "doc_id", "text", threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))),

    // Dedup: embedding-cosine near-dup via hyperplane LSH —
    // ORACLE-CHECKED pair set (plane constants inlined into the DuckDB
    // SQL; threshold margin ≈ 1.3e-4 ≫ ulp, same as dedup_embed_exact).
    // Threshold 0.4: this corpus has no truly-duplicate vectors (max
    // pairwise cosine ≈ 0.51), so the declared query surfaces the top of
    // the similarity range; production near-dup would use ≥0.9.
    "dedup_embed_cosine" -> ((s, d) =>
      Similarity.cosinePairsLsh(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4, numPlanes = 4)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))),

    // Dedup: SemDeDup-style semantic dedup (ops.Dedup.semanticDedup) —
    // anchored-quantizer clusters, within-cluster cosine ε-groups, keep
    // the smallest id per group. ORACLE-CHECKED end to end: the anchor
    // selection / assignment replay the proven sim_topk_ivf_anchored
    // CTEs and the 0.4 threshold has the same ~1.3e-4 engine margin as
    // dedup_embed_cosine (production would use ≥0.9; this corpus's max
    // pairwise cosine is ~0.51).
    "dedup_semantic" -> ((s, d) =>
      Dedup.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)
        .orderBy(col("vec_id"))),

    // Dedup: embedding-cosine near-dup, EXACT all-pairs variant —
    // oracle-checked (DuckDB list_cosine_similarity on DOUBLE[] lists).
    // Output is the id pair set only: the cosine double itself can
    // differ in the last ulp between engines, but the smallest
    // |cosine − 0.4| margin on this corpus is ~1.3e-4, so the ≥
    // threshold decision is engine-stable. This is the verify stage of
    // the near-dup pipeline — at lake scale it runs on LSH candidate
    // pairs (~linear), not the full cross product; the all-pairs form
    // here is the sf-scale oracle harness.
    "dedup_embed_exact" -> ((s, d) =>
      Similarity.cosinePairsExact(t(s, d, "embeddings"), "vec_id", "embedding",
        threshold = 0.4)
        .select(col("id_a"), col("id_b"))
        .orderBy(col("id_a"), col("id_b"))),

    // Dedup: exact n-gram Jaccard over all pairs — oracle-checked
    // (DuckDB list lambdas build the same word 3-gram shingle sets;
    // jaccard = |∩| / |∪| is a ratio of small exact ints, so the double
    // division is bit-identical in both engines). Same scale note as
    // dedup_embed_exact: production runs this verify stage on MinHash
    // candidates (dedup_ngram_jaccard), not all pairs.
    "dedup_ngram_exact" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val ids = docs.select(col("doc_id"))
      val allPairs = ids.select(col("doc_id").as("id_a"))
        .crossJoin(ids.select(col("doc_id").as("id_b")))
        .filter(col("id_a") < col("id_b"))
      Dedup.ngramJaccard(allPairs, docs, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Edit-distance entity resolution (ops.Dedup.fuzzyPairs): distinct
    // part names within Levenshtein distance 2, candidates from
    // rarest-first q-gram prefix blocking, verified exactly. The oracle
    // replays the CONTRACT (all-pairs Levenshtein over distinct names) —
    // blocking must lose nothing, so the hash match IS the
    // no-false-negative proof at this scale.
    "dedup_fuzzy" -> ((s, d) =>
      Dedup.fuzzyPairs(t(s, d, "part"), "p_name", maxDist = 2)
        .orderBy(col("str_a"), col("str_b"))),

    // The entity-resolution pipeline completed: fuzzy pairs → connected
    // components → canonical spelling per variant family (min string).
    // Same composition contract as dedup_clusters, at the name level;
    // the oracle replays it with a recursive CTE over the all-pairs
    // Levenshtein edge set.
    "dedup_fuzzy_clusters" -> ((s, d) => {
      val names = t(s, d, "part").select(col("p_name"))
        .filter(col("p_name").isNotNull).distinct()
      val pairs = Dedup.fuzzyPairs(t(s, d, "part"), "p_name", maxDist = 2)
        .select(col("str_a").as("id_a"), col("str_b").as("id_b"))
      Dedup.connectedComponents(pairs, names, "p_name")
        .select(col("p_name"), col("cluster_id").as("canonical"))
        .orderBy(col("p_name"))
    }),

    // §2.D breadth: EXACT median (percentile interpolation) per group —
    // both engines compute lower + (upper-lower)·frac over the sorted
    // values, so the double hash-matches.
    "agg_median" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(expr("percentile(l_extendedprice, 0.5)").as("median_price"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))),

    // §2.J UDAF surface: element-wise quantized vector sum per label
    // (class-centroid numerator) via the typed Aggregator — integer
    // quantization makes the aggregate order-independent, so it
    // hash-matches DuckDB (posexplode only flattens the k-vector
    // RESULT for the driver compare; the aggregation itself moves one
    // array per group partial, not rows × dim triples).
    "agg_vector_qsum" -> ((s, d) =>
      t(s, d, "embeddings")
        .groupBy(col("label"))
        .agg(graft.functions.VectorAgg.quantized_vector_sum(col("embedding")).as("qv"),
          count(lit(1)).as("n_vecs"))
        .select(col("label"), col("n_vecs"), posexplode(col("qv")).as(Seq("pos", "qsum")))
        .select(col("label"), col("pos"), col("qsum"), col("n_vecs"))
        .orderBy(col("label"), col("pos"))),

    // Similarity: exact brute-force cosine top-5 for the first 10
    // vectors as queries. Oracle-checked on the RANK ORDER only (ids +
    // rank, ints): the raw cosine double can differ between engines in
    // the last ulp (summation order), but the measured adjacent top-k
    // gap on this corpus is ~2e-5 — ten orders of magnitude above
    // double rounding error — so the ordering (ties broken by id in
    // both engines) is stable across engines.
    "sim_topk_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Hard-negative mining (Similarity.hardNegatives): top-5 most
    // similar non-positives per query; each query vec_id<10 declares
    // positives vec_id+100 and vec_id+200. Rank-only output, same
    // determinism contract as the brute oracle.
    "sim_hard_negatives" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val pairs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"))
        .select(col("query_id"),
          explode(array(col("query_id") + 100, col("query_id") + 200))
            .as("positive_id"))
      Similarity.hardNegatives(emb, pairs, "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Similarity: same exact top-k through the bounded TopKAgg
    // aggregator (map-side k-heaps; the window form shuffles every
    // scored pair) — same rank-only oracle as sim_topk_brute.
    "sim_topk_agg" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteForceTopKAgg(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Similarity: hyperplane-LSH bucketed top-5 (the scale path) —
    // ORACLE-CHECKED on rank order: the deterministic plane constants
    // are inlined into the DuckDB SQL, the bucket's sign test replays
    // the same sequential left-fold dot product (list_reduce), and the
    // ranking is ids+rank only (same ulp argument as sim_topk_brute).
    "sim_topk_lsh" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, numPlanes = 4)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Similarity: ORACLE-CHECKED top-k via integer quantization — dims
    // quantized to exact BIGINTs (floor(x·1000)), dot product in integer
    // arithmetic, so the score is order-independent and hash-matches
    // DuckDB (float-sum top-k can't be oracled; this variant can).
    "sim_topk_quantized" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      val q = broadcast(emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe")))
      val qdot = aggregate(
        zip_with(col("qe"), col("embedding"), (x, y) =>
          floor(x.cast("double") * 1000).cast("long") *
            floor(y.cast("double") * 1000).cast("long")),
        lit(0L), (acc, v) => acc + v)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("dotq").desc, col("vec_id"))
      emb.crossJoin(q)
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("dotq", qdot)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .select(col("query_id"), col("vec_id").as("neighbor_id"), col("dotq"), col("rnk"))
        .orderBy(col("query_id"), col("rnk"))
    }),

    // Similarity: IVF with a data-anchored quantizer — ORACLE-CHECKED
    // (anchors = the 16 vec_ids with the smallest two-round Lehmer hash,
    // a FIXED-size set however large the corpus; nearest-anchor
    // assignment and nprobe probing replay in DuckDB; rank-only output).
    "sim_topk_ivf_anchored" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopKAnchored(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("rank"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Similarity: product-quantization ADC top-5 (ops.Similarity
    // .pqTopKAnchored) — anchored integer codebooks, fused-codegen
    // encode, literal-table codeword lookup. ORACLE-CHECKED INCLUDING
    // THE SCORE: all arithmetic is integer-exact, so the asymmetric-
    // distance value itself hash-matches the DuckDB replay.
    "sim_topk_pq" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqTopKAnchored(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Similarity: IVF with a TRAINED coarse quantizer — spherical
    // Lloyd's over integer-quantized vectors with sum-vector centroids
    // (cosine is scale-invariant, so no float mean ever exists), Lehmer-
    // anchored init, two unrolled update rounds. ORACLE-CHECKED END TO
    // END including training: every centroid sum is an exact integer
    // vector, so DuckDB replays init, both Lloyd rounds, the final
    // assignment, probing, and the rank (the Spark-ML k-means variant
    // ivfTopK remains spec-gated by recall — seeded distributed float
    // k-means is not engine-replayable).
    "sim_topk_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfTopKTrained(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, nlist = 8, nprobe = 3, iters = 2)
        .orderBy(col("query_id"), col("rank"))
    }),

    // Multimodal: typed metadata over opaque binary payloads.
    "mm_meta" -> ((s, d) =>
      Multimodal.asMediaTable(t(s, d, "documents"))
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.mime").as("mime"), col("meta.modality").as("modality"))
        .orderBy(col("media_id"))),

    // Multimodal: REAL header decode → byte-histogram features → frame
    // sampling, over a corpus of structurally-real PNG/JPEG blobs
    // (asImageTable synthesizes true IHDR/SOF headers with md5-derived
    // dims). ORACLE-CHECKED the strong way: Spark's output comes from
    // PARSING the header bytes back; the DuckDB oracle computes the
    // dims directly from md5 and rebuilds the same blob hex for the
    // histogram — equality proves the synthesize→parse round trip is
    // byte-exact. The feature vector is surfaced as a comma-joined
    // string of exact longs — raw array columns break the driver's
    // pandas row-sort (round-1: "unhashable type: ndarray").
    "mm_extract" -> ((s, d) => {
      val out = Multimodal.extractAll(
        Multimodal.asImageTable(t(s, d, "documents")))
      val hx = hex(col("content"))
      // GENUINE carried-bytes extraction: the payload after the parsed
      // header (PNG: fixed 33-byte signature+IHDR; JPEG: 21-byte
      // SOI+SOF0 prefix, minus the EOI trailer) — md5 over the hex
      // rendering, which the oracle reproduces from the raw text
      val payloadHex = when(col("decoded.format") === "png",
          hx.substr(lit(67), length(hx)))
        .when(col("decoded.format") === "jpeg",
          hx.substr(lit(43), length(hx) - lit(46)))
      out.select(col("media_id"),
          col("decoded.format").as("format"),
          col("decoded.width").as("width"),
          col("decoded.height").as("height"), col("decoded.channels").as("channels"),
          array_join(graft.functions.GraftExpressions.byte_histogram(col("content")), ",")
            .as("hist_csv"),
          col("n_frames"),
          md5(payloadHex).as("payload_md5"))
        .orderBy(col("media_id"))
    }),

    // Multimodal: GENUINE content decode — real uncompressed 24-bit
    // BMPs whose pixel array IS the document's bytes; every output row
    // is one actual pixel row extracted with true bottom-up BMP
    // arithmetic from the PARSED header (offset/height/bpp read back
    // from the little-endian bytes). The oracle rebuilds the padded
    // pixel array from the raw text and slices the same windows —
    // equality proves the synthesized container AND the content
    // extraction are byte-exact.
    "mm_frames" -> ((s, d) =>
      Multimodal.bmpFrames(Multimodal.asBmpTable(t(s, d, "documents")))
        .orderBy(col("media_id"), col("row_idx"))),

    // Multimodal: GENUINE video-frame extraction — a structurally-real
    // RIFF/AVI MJPEG container walked chunk-by-chunk via the stored
    // little-endian size fields; each '00dc' frame's JPEG header is
    // parsed back (decodeImage) and its carried slice of the document
    // bytes md5-pinned. The oracle reconstructs every frame from the
    // raw text (ground truth) — a hash match proves container
    // synthesis, the chunk walk, and the frame extraction byte-exact.
    "mm_video" -> ((s, d) =>
      Multimodal.aviFrames(Multimodal.asAviTable(t(s, d, "documents")))
        .orderBy(col("media_id"), col("frame_idx"))),

    // Multimodal: GENUINE audio content decode — real RIFF/WAVE PCM
    // whose sample data is the document bytes; the header fields come
    // from PARSING the little-endian bytes back and the sample stats
    // (peak, exact sum of squares — integer math only) from decoding
    // the signed 16-bit samples at the parsed offsets. The oracle
    // recomputes both from the raw text.
    "mm_audio" -> ((s, d) =>
      Multimodal.asWavTable(t(s, d, "documents"))
        .withColumn("w", Multimodal.decodeWav(col("content")))
        .withColumn("st", Multimodal.wavStats(col("content")))
        .select(col("media_id"),
          col("w.channels").as("channels"),
          col("w.sample_rate").as("sample_rate"),
          col("w.bps").as("bps"),
          col("st.n_samples").as("n_samples"),
          col("st.duration_ms").as("duration_ms"),
          col("st.peak_abs").as("peak_abs"),
          col("st.sum_sq").as("sum_sq"))
        .orderBy(col("media_id"))),

    // Multimodal: ORACLE-CHECKED feature extraction — the byte-histogram
    // expression vs DuckDB counting high nibbles in the hex encoding of
    // the same payload (hex char at odd position i = high nibble of byte
    // i/2, so the 16 bins are exact character counts).
    "mm_features" -> ((s, d) =>
      Multimodal.asMediaTable(t(s, d, "documents"))
        .select(col("media_id"), col("meta.n_bytes").as("n_bytes"),
          col("meta.modality").as("modality"),
          array_join(graft.functions.GraftExpressions.byte_histogram(col("content")), ",")
            .as("hist_csv"))
        .orderBy(col("media_id"))),

    // ---- deterministic sampling (ops.Sampling — reproducible subsets,
    // per-stratum rates, disjoint splits; the oracle replays the exact
    // Lehmer arithmetic, so membership is hash-compared, not just counted).

    "smp_hash" -> ((s, d) =>
      graft.ops.Sampling.sampleByHash(t(s, d, "orders"), "o_orderkey", 0.1)
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderkey"))),

    "smp_stratified" -> ((s, d) =>
      graft.ops.Sampling.stratifiedSample(t(s, d, "orders"), "o_orderkey",
        "o_orderstatus", Seq("F" -> 0.2, "O" -> 0.05, "P" -> 0.5))
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .orderBy(col("o_orderkey"))),

    "smp_split" -> ((s, d) =>
      graft.ops.Sampling.assignSplit(t(s, d, "orders"), "o_orderkey",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"), sumMoney(col("o_totalprice")).as("revenue"))
        .orderBy(col("split"), col("o_orderstatus"))),

    // Sequence packing: documents → fixed token-budget training
    // sequences via the custom next-fit AggregateWindowFunction
    // (stateful scan per Lehmer shard; oracle replays it with a
    // recursive CTE). Budget 512 ≈ 9 docs/pack at the testdata's
    // ~56-token median.
    "seq_pack" -> ((s, d) =>
      graft.ops.Packing.packAssignments(
        t(s, d, "documents"), "doc_id", "text", budget = 512L, shards = 8)
        .select("doc_id", "n_tok", "shard", "pack_id", "oversize")
        .orderBy(col("doc_id"))),

    // Per-pack roll-up of the same assignment: sizes and fill rate.
    "seq_pack_stats" -> ((s, d) =>
      graft.ops.Packing.packStats(
        graft.ops.Packing.packAssignments(
          t(s, d, "documents"), "doc_id", "text", budget = 512L, shards = 8),
        budget = 512L)
        .select("shard", "pack_id", "n_docs", "pack_tokens", "fill_frac")
        .orderBy(col("shard"), col("pack_id"))),

    // Next-fit-DECREASING variant: longest-first order within each
    // shard (classic bin-packing fill improvement), same window
    // machinery, same recursive-CTE oracle with the flipped sort.
    "seq_pack_nfd" -> ((s, d) =>
      graft.ops.Packing.packAssignments(
        t(s, d, "documents"), "doc_id", "text", budget = 512L, shards = 8,
        decreasing = true)
        .select("doc_id", "n_tok", "shard", "pack_id")
        .orderBy(col("doc_id"))),

    // Budget chunking: oversize-doc complement of packing — one row
    // per contiguous token window, pure projection + generator.
    "seq_chunk" -> ((s, d) =>
      graft.ops.Packing.chunkByBudget(
        t(s, d, "documents"), "doc_id", "text", budget = 32)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Packing: sliding 16-token windows every 8 tokens with the actual
    // text slice — the overlapping-chunk shape embedding pipelines feed.
    "seq_chunk_sliding" -> ((s, d) =>
      graft.ops.Packing.chunkSliding(
        t(s, d, "documents"), "doc_id", "text", size = 16, stride = 8)
        .orderBy(col("doc_id"), col("chunk_idx"))),

    // Export: deterministic global shuffle + shard assignment (the
    // training-loader layout). Lehmer order key, mod-shards, windowed
    // within-shard position — all exact integer arithmetic.
    "exp_shuffle" -> ((s, d) =>
      graft.ops.Export.shuffledShards(
        t(s, d, "documents").select("doc_id"), "doc_id", numShards = 8)
        .select("doc_id", "shuffle_key", "shard", "pos")
        .orderBy(col("shard"), col("pos"))),

    // Corpus stats: CCNet-style unigram-LM quality signal — mean
    // bit-surprisal per token (= log2 perplexity within 1 bit; integer
    // bit lengths instead of ln so the oracle replays exactly).
    "txt_perplexity" -> ((s, d) =>
      graft.ops.CorpusStats.unigramSurprisal(
        t(s, d, "documents"), minCount = 2L)
        .orderBy(col("doc_id"))),

    // Bigram conditional surprisal (CorpusStats.bigramSurprisal): the
    // smallest LM that sees word order; integer-bit log2, so the whole
    // pipeline replays exactly in SQL.
    "txt_perplexity_bigram" -> ((s, d) =>
      graft.ops.CorpusStats.bigramSurprisal(
        t(s, d, "documents"), minCount = 2L)
        .orderBy(col("doc_id"))),

    // BPE training's per-round aggregate, round 0 (ops.Tokenize
    // .pairCounts over the symbolized word dictionary): corpus-weighted
    // adjacent-symbol-pair counts — the oracle-checked sibling of the
    // iterative bpe_merges internal.
    "bpe_pair_counts" -> ((s, d) => {
      val words = graft.ops.Tokenize.wordDict(t(s, d, "documents"))
        .select(col("wc"),
          graft.ops.Tokenize.initialSymbols(col("token")).as("syms"))
      graft.ops.Tokenize.pairCounts(words)
        .orderBy(col("l"), col("r"))
    }),

    // The learned merge table itself: 20 SEQUENTIAL merges (batchCap 1
    // = one argmax by (count DESC, left, right) per round) — the
    // textbook BPE loop, which TokenizeSpec proves the batched path
    // reproduces exactly. Sequential rounds ARE the batched replay at
    // budget 1, so the same recursive-CTE oracle replays this end to
    // end (rounds = merges) — the last formerly rows-only query.
    "bpe_merges" -> ((s, d) =>
      graft.ops.Tokenize.bpeTrain(t(s, d, "documents"), numMerges = 20,
        batchCap = 1, maxRounds = 20)
        .orderBy(col("step"))),

    // Three BATCHED training rounds (budget 8), SQL-replayed end to
    // end: pair counting, the greedy disjoint-prefix selection with
    // its strictness trim (a recursive CTE over the ranked pair list),
    // and the one-pass multi-merge fold — so the batching logic that
    // makes 32k-merge training round-bound (not merge-bound) is
    // oracle-PROVEN, not only parity-spec'd against the reference
    // implementation.
    "bpe_merges_batched" -> ((s, d) =>
      graft.ops.Tokenize.bpeTrain(t(s, d, "documents"), numMerges = 1000,
        batchCap = 8, maxRounds = 8)
        .orderBy(col("step"))),

    // Corpus stats: top-5 TF-IDF terms per document (integer bit-gap
    // IDF, rank ties broken by token).
    "txt_tfidf" -> ((s, d) =>
      graft.ops.CorpusStats.tfIdfTopK(t(s, d, "documents"), k = 5)
        .orderBy(col("doc_id"), col("rank"))),

    // Text analysis: Gopher-style repeated n-gram fraction (repetition
    // signal for boilerplate/spam filtering) — exact small-int ratio,
    // oracle via the proven DuckDB shingle-list recipe.
    "txt_dup_ngrams" -> ((s, d) =>
      TextAnalysis.dupNgramFraction(t(s, d, "documents"))
        .select("doc_id", "n_ngrams", "n_distinct_ngrams", "dup_ngram_frac")
        .orderBy(col("doc_id"))),

    // Text analysis: PII redaction + audit counts. The corpus has no
    // planted PII, so the query appends a deterministic contact string
    // per doc (still a pure function of the testdata) and both engines
    // redact the same augmented text with the same RE2-subset regexes.
    "txt_redact_pii" -> ((s, d) =>
      TextAnalysis.redactPii(
        t(s, d, "documents").withColumn("aug",
          concat(col("text"), lit(" Contact: user"),
            col("doc_id").cast("string"), lit("@example.com or +1 555 01"),
            col("doc_id").cast("string"), lit("."))), "aug")
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("text_redacted"))
        .orderBy(col("doc_id"))),

    // Text analysis: benchmark-contamination screen — per-doc fraction
    // of distinct 3-gram shingles that appear in the (broadcast)
    // benchmark shingle set; benchmark = every 50th doc.
    "txt_contamination" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.contamination(docs, docs.filter(col("doc_id") % 50 === 0))
        .select("doc_id", "n_shingles", "n_contaminated", "contamination_frac")
        .orderBy(col("doc_id"))
    }),

    // Lake-scale variant of the same screen: distributed-built Bloom
    // sketch probed in the scan pass (a miss proves the doc clean, no
    // join), exact explode-join verify on the bloom-HIT docs only —
    // for benchmark sets too large to embed as expression constants.
    // Result is EXACT (one-sided error corrected by the verify), so it
    // shares txt_contamination's oracle verbatim.
    "txt_contamination_bloom" -> ((s, d) => {
      val docs = t(s, d, "documents")
      TextAnalysis.contaminationBloom(docs, docs.filter(col("doc_id") % 50 === 0))
        .select("doc_id", "n_shingles", "n_contaminated", "contamination_frac")
        .orderBy(col("doc_id"))
    }),

    // Text analysis: C4-style line-level dedup (fixed 3-word segments as
    // the line unit) — any segment occurring in >= 3 distinct docs is
    // removed corpus-wide and each doc's text is rebuilt from its
    // surviving segments. Shuffles move md5 fingerprints and int lists,
    // never document text (ops.TextAnalysis.lineDedup). ORACLE-CHECKED
    // including the rebuilt string.
    "txt_line_dedup" -> ((s, d) =>
      TextAnalysis.lineDedup(t(s, d, "documents"))
        .orderBy(col("doc_id"))),

    // Composed curation pipeline (ops.Curation): lang gate → quality
    // gate → exact dedup → MinHash near-dup drop → contamination
    // screen, each stage over the previous stage's survivors
    // (benchmark set = every 50th doc, as in txt_contamination).
    // ORACLE-CHECKED end to end — the DuckDB replay composes the
    // already-proven txt_lang_id / txt_quality / dedup_exact /
    // dedup_minhash / txt_contamination CTEs over the same staged
    // survivor sets. Per-doc verdict: first rejecting stage + kept.
    "doc_curate" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Curation.curate(docs, docs.filter(col("doc_id") % 50 === 0))
        .orderBy(col("doc_id"))
    }),

    // The curation audit table: documents rejected per stage + kept.
    "doc_curate_funnel" -> ((s, d) => {
      val docs = t(s, d, "documents")
      graft.ops.Curation.funnel(
        graft.ops.Curation.curate(docs, docs.filter(col("doc_id") % 50 === 0)))
        .orderBy(col("stage"))
    }),

    // beyond-reference §2.C: bucketed range (interval) join — each event
    // aggregated against the same user's orders in the trailing 90 days.
    // Equi-join-ified via window-width time buckets (ops.RangeJoin); the
    // oracle is the plain SQL range join.
    "join_range" -> ((s, d) =>
      graft.ops.RangeJoin.trailingWindowAgg(
        tf(s, d, "events", "event_id").select("event_id", "user_id", "ts"),
        t(s, d, "orders"),
        "event_id", "user_id", "o_custkey", "ts", "o_orderdate",
        "o_totalprice", windowDays = 90)
        .orderBy(col("event_id"))),

    // §2.H RANGE window frame (value-based, not row-based): each
    // order's trailing-30-day spend for the same customer — the frame
    // bounds are epoch seconds, so RANGE arithmetic is exact in both
    // engines.
    "win_range_frame" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("ep"))
        .rangeBetween(-30L * 86400L, 0L)
      t(s, d, "orders")
        .withColumn("ep", unix_timestamp(col("o_orderdate").cast("timestamp")))
        .select(col("o_custkey"), col("o_orderkey"),
          sum(dec2(col("o_totalprice"))).over(w).cast("double").as("spend_30d"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // §2.F UNION with distinct semantics (completes the set-op family).
    "set_union_distinct" -> ((s, d) =>
      t(s, d, "orders").select(col("o_custkey").as("custkey"))
        .union(t(s, d, "customer").filter(col("c_acctbal") < 0)
          .select(col("c_custkey").as("custkey")))
        .distinct()
        .orderBy(col("custkey"))),

    // §2.D arg-max/arg-min aggregates: the order id holding each
    // status's highest/lowest price. The ordering key packs
    // (price-in-cents, orderkey) into one exact BIGINT (cents ≤ 6e7,
    // ×1e9 + key < 2^63) so ties are impossible and both engines'
    // arg-max agree deterministically.
    "agg_argmax" -> ((s, d) => {
      val key = (dec2(col("o_totalprice")) * 100).cast("long") * 1000000000L +
        col("o_orderkey")
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          max_by(col("o_orderkey"), key).as("max_price_order"),
          min_by(col("o_orderkey"), key).as("min_price_order"))
        .orderBy(col("o_orderstatus"))
    }),

    // §2.J SQL surface: the injected graft functions resolve in plain
    // SQL text (GraftExtensions.injectFunction) — same rolling-hash
    // oracle as txt_fingerprint_rolling, but through the parser and
    // FunctionRegistry instead of the Scala DSL.
    "sql_function_surface" -> ((s, d) => {
      t(s, d, "documents").createOrReplaceTempView("documents_v")
      s.sql(
        """SELECT doc_id,
          |  rolling_hash64(lower(regexp_replace(trim(text), '\\s+', ' '))) AS fp_rolling
          |FROM documents_v ORDER BY doc_id""".stripMargin)
    }),

    // §2.D skew path, oracle-proven result-identical: the two-phase
    // salted aggregation (ops.Skew) against the PLAIN group-by oracle —
    // the mitigation must be invisible in the result.
    "agg_salted" -> ((s, d) =>
      graft.ops.Skew.saltedSumCount(
        t(s, d, "lineitem").select(col("l_returnflag"), dec2(col("l_quantity")).as("q")),
        Seq("l_returnflag"), "q")
        .select(col("l_returnflag"), col("sum_q").cast("double").as("sum_qty"),
          col("n_rows"))
        .orderBy(col("l_returnflag"))),

    // §2.D skew path for the JOIN shape (ops.Skew.saltedJoin): the
    // fact side salted by row content, the dimension replicated
    // ×buckets, result row-identical to the plain equi-join — the
    // explicit fallback for the hot key AQE's runtime skew handling
    // can't fix (a single key too big for one reducer at 100×).
    // The oracle is the PLAIN join aggregate, so the hash match proves
    // the mitigation is invisible in the result.
    "join_salted" -> ((s, d) => {
      val fact = t(s, d, "lineitem")
        .select(col("l_partkey").as("partkey"), dec2(col("l_extendedprice")).as("price"))
      val dim = t(s, d, "part")
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.ops.Skew.saltedJoin(fact, dim, "partkey", buckets = 8)
        .groupBy(col("p_brand"))
        .agg(sum(col("price")).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    }),

    // Training-data mixture: three "sources" (doc_id mod 3) sampled at
    // different weights into one corpus, with per-source audit counts —
    // the deterministic-mixing op of dataset curation (weights are
    // reproducible because membership is the Lehmer hash, not RNG).
    "smp_mixture" -> ((s, d) =>
      t(s, d, "documents")
        .withColumn("source", (col("doc_id") % 3).cast("int"))
        .withColumn("source_s", col("source").cast("string"))
        .transform(df => graft.ops.Sampling.stratifiedSample(
          df, "doc_id", "source_s", Seq("0" -> 0.8, "1" -> 0.5, "2" -> 0.2)))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"))),

    // Sampling: temperature-smoothed (T=1/2, square-root) language
    // mixture at half the corpus — low-resource langs keep a larger
    // share than proportional sampling would give. All-integer quota
    // and membership arithmetic; the oracle replays it exactly.
    "smp_mixture_temp" -> ((s, d) =>
      graft.ops.Sampling.temperatureMixture(
        t(s, d, "documents"), "doc_id", "lang", targetFrac = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_kept"),
          max(col("n_d")).as("n_docs"),
          max(col("k_quota")).as("quota"))
        .orderBy(col("lang"))),

    // Sampling: hard per-language cap at 60 docs, survivors chosen by
    // Lehmer rank so the subset is deterministic and ingest-order-free.
    "smp_domain_cap" -> ((s, d) =>
      graft.ops.Sampling.capPerDomain(
        t(s, d, "documents"), "doc_id", "lang", maxPerDomain = 60)
        .select("doc_id", "lang")
        .orderBy(col("doc_id"))),

    // §2.B predicate-type coverage in one filter: LIKE, IN-list,
    // BETWEEN, null test, boolean combination.
    "flt_predicates" -> ((s, d) =>
      t(s, d, "part")
        .filter(col("p_name").like("%green%") &&
          col("p_brand").isin("Brand#11", "Brand#22", "Brand#33") &&
          col("p_size").between(5, 30) &&
          col("p_type").isNotNull)
        .select("p_partkey", "p_name", "p_brand", "p_size")
        .orderBy(col("p_partkey"))),

    // §2.D collect_list / collect_set — order pinned by sort_array so
    // the array aggregation is deterministic; surfaced as joined
    // strings (raw arrays break the driver's row-sort compare).
    "agg_collect" -> ((s, d) =>
      t(s, d, "orders")
        .filter(col("o_custkey") < 200)
        .groupBy(col("o_custkey"))
        .agg(
          array_join(sort_array(collect_list(col("o_orderstatus"))), ",")
            .as("statuses_all"),
          array_join(sort_array(collect_set(col("o_orderstatus"))), ",")
            .as("statuses_distinct"),
          count(lit(1)).as("n_orders"))
        .orderBy(col("o_custkey"))),

    // beyond-reference §2.C: FULL OUTER join — both unmatched sides
    // surface (customers without orders AND orphan order custkeys).
    "join_full_outer" -> ((s, d) =>
      t(s, d, "customer").select(col("c_custkey"), col("c_acctbal"))
        .join(t(s, d, "orders").groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("n_orders")),
          col("c_custkey") === col("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("o_custkey"), col("n_orders"))
        .orderBy(col("c_custkey").asc_nulls_first, col("o_custkey").asc_nulls_first)),

    // §2.D multi-quantile: exact percentile interpolation at 4 points
    // (Spark `percentile` == DuckDB `quantile_cont` bit for bit).
    "agg_percentiles" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, 0.25)").as("p25"),
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.75)").as("p75"),
          expr("percentile(l_extendedprice, 0.9)").as("p90"))
        .orderBy(col("l_returnflag"))),

    // §2.G datetime-function suite: extraction, ISO week, arithmetic,
    // month boundaries, truncation.
    "fn_datetime_suite" -> ((s, d) =>
      t(s, d, "orders")
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("dom"),
          dayofweek(col("o_orderdate")).as("dow_sun1"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          date_add(to_date(col("o_orderdate")), 30).as("plus_30d"),
          last_day(col("o_orderdate")).as("month_end"),
          trunc(col("o_orderdate"), "mm").as("month_start"))
        .orderBy(col("o_orderkey"))),

    // beyond-reference §2.I/§2.D: ordered-funnel analysis — per user,
    // the first 'view', the first 'click' at-or-after it, the first
    // 'purchase' at-or-after that; then users counted by deepest stage
    // reached. Three conditional-min windows over ONE partitioning =
    // one shuffle of events total (Spark reuses the exchange across
    // same-partitioned window passes).
    "evt_funnel" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
      tf(s, d, "events", "event_id")
        .withColumn("t1", min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t2", min(when(col("event_type") === "click" &&
          col("ts") >= col("t1"), col("ts"))).over(w))
        .withColumn("t3", min(when(col("event_type") === "purchase" &&
          col("ts") >= col("t2"), col("ts"))).over(w))
        .groupBy(col("user_id"))
        .agg(min(col("t1")).as("t1"), min(col("t2")).as("t2"), min(col("t3")).as("t3"))
        .select(
          when(col("t3").isNotNull, 3).when(col("t2").isNotNull, 2)
            .when(col("t1").isNotNull, 1).otherwise(0).as("stage"))
        .groupBy(col("stage"))
        .agg(count(lit(1)).as("n_users"))
        .orderBy(col("stage"))
    }),

    // beyond-reference §2.D: cohort retention — users bucketed by their
    // first-seen day, activity counted per (cohort, day offset).
    "evt_retention" -> ((s, d) => {
      val ev = tf(s, d, "events", "event_id")
        .select(col("user_id"), to_date(col("ts")).as("day"))
      val cohorts = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort"))
      ev.join(cohorts, Seq("user_id"))
        .groupBy(col("cohort"), datediff(col("day"), col("cohort")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort"), col("day_offset"))
    }),

    // beyond-reference §2.D: CUBE grouping sets (completes the
    // rollup/pivot/cube trio).
    "agg_cube" -> ((s, d) =>
      t(s, d, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(sumMoney(col("l_quantity")).as("sum_qty"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // beyond-reference §2.H: full rank-function suite. rank/dense_rank/
    // percent_rank/cume_dist run over a TIED ordering (priority has few
    // values, so tie semantics are actually exercised); ntile needs a
    // total order per partition to be deterministic, so it gets the
    // fully-tiebroken window.
    "win_rank_suite" -> ((s, d) => {
      val wTies = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority"))
      val wFull = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
      t(s, d, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"), col("o_orderkey"),
          rank().over(wTies).as("rnk"),
          dense_rank().over(wTies).as("drnk"),
          percent_rank().over(wTies).as("prnk"),
          cume_dist().over(wTies).as("cdist"),
          ntile(4).over(wFull).as("quartile"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"), col("o_orderkey"))
    }),

    // §2.G string-function suite: case, substring, split_part, padding,
    // translate, reverse, edit distance, position — all exact
    // string/int outputs, every function paired 1:1 with a DuckDB
    // builtin of identical semantics.
    "fn_string_suite" -> ((s, d) =>
      t(s, d, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("name_upper"),
          substring(col("p_name"), 1, 10).as("name_prefix"),
          length(col("p_name")).as("name_len"),
          split_part(col("p_name"), lit(" "), lit(2)).as("second_word"),
          lpad(col("p_brand"), 12, "*").as("brand_padded"),
          translate(col("p_name"), "aeiou", "AEIOU").as("name_devoweled"),
          reverse(col("p_brand")).as("brand_rev"),
          levenshtein(col("p_brand"), col("p_type")).as("brand_type_dist"),
          instr(col("p_name"), "a").as("first_a"))
        .orderBy(col("p_partkey"))),

    // §2.D distributed moments the scale-correct way: ONE pass of exact
    // decimal partial sums (Σx, Σx²) — order-independent, mergeable
    // map-side — then variance/stddev derived in double with an
    // expression tree mirrored exactly in the oracle, so the IEEE
    // results are bit-identical. (Built-in var_samp/stddev float-sums
    // in data order and can't be oracle-checked; this form can, and is
    // also what a 1000-executor aggregation should run.)
    "agg_moments" -> ((s, d) => {
      val x = dec2(col("o_totalprice"))
      val agged = t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(x).cast("double").as("sum_price"),
          sum((x * x).cast(DecimalType(38, 4))).cast("double").as("sum_price_sq"))
      val nd = col("n_orders").cast("double")
      agged
        .withColumn("mean_price", col("sum_price") / nd)
        .withColumn("var_price",
          (nd * col("sum_price_sq") - col("sum_price") * col("sum_price")) /
            (nd * (nd - 1.0)))
        .withColumn("stddev_price", sqrt(col("var_price")))
        .orderBy(col("o_orderstatus"))
    }),

    // Dedup: ORACLE-CHECKED MinHash signatures — the xxhash64-based
    // native expression (dedup_minhash) is the perf path but has no SQL
    // replay; this variant derives each of 8 min-hashes from the
    // Karp–Rabin shingle hash via affine permutations over the
    // Park–Miller prime, which DuckDB replays exactly (HUGEINT mod-2^64
    // for the rolling hash, plain BIGINT for the permutations). The
    // signature computation itself — shingle → hash → k-way min — is
    // what gets hash-compared.
    "dedup_minhash_sig" -> ((s, d) => {
      val sh = Dedup.shingles(col("text"), 3)
      val sigCols = krConsts.zipWithIndex.map { case ((a, b), j) =>
        array_min(transform(sh, sStr => pmod(
          pmod(graft.functions.GraftExpressions.rolling_hash64(sStr), lit(krP))
            * a + b, lit(krP)))).as(s"h$j")
      }
      t(s, d, "documents")
        .select(col("doc_id") +: sigCols: _*)
        .orderBy(col("doc_id"))
    }),

    // Dedup: ORACLE-CHECKED SimHash — same deal as dedup_minhash_sig:
    // the xxhash64-based SimHash64 expression stays the perf path; this
    // 16-bit variant derives each bit as the majority vote of the
    // Karp–Rabin token hashes' bits (strictly-positive vote → 1), which
    // DuckDB replays exactly. Covers the sketch math: token → hash →
    // per-bit vote → sign.
    "dedup_simhash_sig" -> ((s, d) => {
      val toks = TextAnalysis.tokens(col("text"))
      val g = transform(toks, tk => pmod(
        graft.functions.GraftExpressions.rolling_hash64(tk), lit(krP)))
      val sh = (0 until 16).map { i =>
        val setCnt = size(filter(g, x => x.bitwiseAND(1L << i) =!= 0L))
        when(setCnt * 2 > size(toks), 1L << i).otherwise(0L)
      }.reduce(_ + _)
      t(s, d, "documents")
        .select(col("doc_id"), sh.cast("int").as("simhash16"))
        .orderBy(col("doc_id"))
    }),

    // Dedup: the FULL two-stage near-dup pipeline — MinHash signatures →
    // LSH band candidates → exact n-gram Jaccard verify — with every
    // stage ORACLE-CHECKED: 64 Karp–Rabin affine min-hashes (replayable,
    // unlike xxhash64), 16 bands of 4 joined on the literal band values
    // (no band hash needed), and the proven Jaccard recipe. This is the
    // production dedup_minhash/dedup_ngram_jaccard pipeline shape with
    // a cross-engine-deterministic candidate stage.
    "dedup_lsh_kr" -> ((s, d) => {
      val n = 64
      val docs = t(s, d, "documents")
      val aArr = array(krConstsN(n).map(c => lit(c._1)): _*)
      val bArr = array(krConstsN(n).map(c => lit(c._2)): _*)
      // materialize the per-shingle base hashes so the 64 permutations
      // reference an attribute, not 64 re-inlined shingle pipelines
      val g = graft.io.Sources.fanOut(docs, "doc_id")
        .select(col("doc_id"),
          transform(Dedup.shingles(col("text"), 3), sStr => pmod(
            graft.functions.GraftExpressions.rolling_hash64(sStr), lit(krP)))
            .as("g"))
        .localCheckpoint(true)
      val sig = transform(sequence(lit(0), lit(n - 1)), j =>
        array_min(transform(col("g"), x =>
          pmod(x * element_at(aArr, j + 1) + element_at(bArr, j + 1), lit(krP)))))
      val banded = g.select(col("doc_id"), sig.as("sig"))
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), lit(15)), b =>
            concat_ws(",", slice(col("sig"), b * 4 + 1, lit(4))))).as(Seq("band", "bstr")))
      val pairs = banded.select(col("doc_id").as("id_a"), col("band"), col("bstr"))
        .join(banded.select(col("doc_id").as("id_b"), col("band"), col("bstr")),
          Seq("band", "bstr"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
      Dedup.ngramJaccard(pairs, docs, "doc_id", "text", n = 3)
        .filter(col("jaccard") >= 0.5)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Dedup: transitive closure of the exact-Jaccard near-dup pairs —
    // connected components by hash-min label propagation; the oracle
    // replays reachability with a recursive CTE. cluster_id = min
    // member id; singletons are their own cluster.
    "dedup_clusters" -> ((s, d) =>
      docClusters(s, d).orderBy(col("doc_id"))),

    // Sampling: leakage-safe train/valid/test split — the split key is
    // the near-dup CLUSTER id, so a duplicate family can never straddle
    // train and test (oracle replays the recursive-CTE clusters plus
    // the exact Lehmer bucket arithmetic on the cluster id).
    "smp_split_safe" -> ((s, d) =>
      graft.ops.Sampling.leakageSafeSplit(
        t(s, d, "documents").select("doc_id"), docClusters(s, d), "doc_id",
        Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1))
        .select("doc_id", "cluster_id", "split")
        .orderBy(col("doc_id"))),

    // Curation: one survivor per near-dup cluster, highest n_chars wins
    // (id tiebreak) — quality-argmax instead of arbitrary min-id.
    "doc_curate_best" -> ((s, d) =>
      graft.ops.Curation.keepBestInCluster(
        t(s, d, "documents"), docClusters(s, d), "doc_id", col("n_chars"))
        .select("doc_id", "cluster_id", "n_chars")
        .orderBy(col("doc_id"))),

    // Index: pruned inverted postings — token -> full document
    // frequency + first-100 sorted doc ids, stopwords (df > 80% of the
    // corpus) and hapaxes (df < 2) pruned, cap applied by rank BEFORE
    // list aggregation.
    "idx_postings" -> ((s, d) =>
      graft.ops.Index.postings(t(s, d, "documents"),
        minDf = 2L, maxDfFrac = 0.8, maxPostings = 100)
        // the library op returns a typed array; the declared query
        // stringifies it (driver compare is scalar-only)
        .select(col("token"), col("df"),
          array_join(col("postings"), ",").as("postings"))
        .orderBy(col("token"))),

    // Index: positional postings — (token, doc, ascending occurrence
    // offsets) under the same df pruning as idx_postings; the layer
    // exact-phrase probes seek against.
    "idx_postings_pos" -> ((s, d) =>
      graft.ops.Index.positionalPostings(t(s, d, "documents"),
        minDf = 2L, maxDfFrac = 0.8)
        .select(col("token"), col("doc_id"), col("df"),
          array_join(col("positions"), ",").as("positions"))
        .orderBy(col("token"), col("doc_id"))),

    // Corpus stats: one-row corpus health report (doc/dup/token/vocab
    // counts) — the summary a curation run logs per stage.
    "corpus_report" -> ((s, d) =>
      graft.ops.CorpusStats.corpusReport(t(s, d, "documents"))),

    // Curation: exact top-20%-by-score cut (tie-inclusive) — histogram
    // threshold + broadcast membership on the engine side, global RANK
    // on the oracle side; same set, scale-safe plan.
    "doc_top_frac" -> ((s, d) =>
      graft.ops.Curation.keepTopFraction(t(s, d, "documents"), "n_chars", 0.2)
        .select("doc_id", "n_chars")
        .orderBy(col("doc_id")))
  )

  /** Shared near-dup cluster assignment over `documents` — exact
    * 3-gram Jaccard >= 0.5 on all pairs (the oracle-replayable edge
    * recipe; production edge generation is the banded LSH path),
    * transitively closed by [[Dedup.connectedComponents]].
    * `(doc_id, cluster_id)`, cluster_id = min member id. */
  private def docClusters(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val ids = docs.select(col("doc_id"))
    val allPairs = ids.select(col("doc_id").as("id_a"))
      .crossJoin(ids.select(col("doc_id").as("id_b")))
      .filter(col("id_a") < col("id_b"))
    val edges = Dedup.ngramJaccard(allPairs, docs, "doc_id", "text", n = 3)
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b")
    Dedup.connectedComponents(edges, ids, "doc_id")
  }

  // -------- oracle SQL (DuckDB dialect, same tables) --------

  /** DuckDB replay of [[graft.ops.Similarity.lshBucket]]: the same
    * deterministic plane constants inlined as literals, the same
    * sequential left-fold dot product (`list_reduce` folds left exactly
    * like the fused codegen loop; 0.0 + x = x, so the missing explicit
    * zero seed changes nothing), the same sign test per plane. */
  private def lshBucketSql(vecExpr: String, numPlanes: Int): String = {
    val ps = graft.ops.Similarity.planes(numPlanes, 64, 42L)
    ps.zipWithIndex.map { case (p, i) =>
      val arr = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_reduce(list_transform(range(1, 65), j -> $vecExpr[j] * ($arr::DOUBLE[])[j]), (x, y) -> x + y) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n     + ", ")")
  }

  /** DuckDB recursive-CTE replay of [[docClusters]] (exact 3-gram
    * Jaccard >= 0.5 edges, reachability closure): ends in
    * `cl(doc_id, cluster_id)` for the consuming query to select from
    * or extend with further `, name AS (...)` CTE clauses. */
  private val clusterCteSql: String =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |    list_distinct(CASE WHEN LEN(toks) < 3 THEN [array_to_string(toks, ' ')]
      |         ELSE list_transform(range(1, LEN(toks) - 1),
      |                             i -> array_to_string(toks[i:i+2], ' '))
      |         END) AS sh
      |  FROM (SELECT doc_id,
      |          regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
      |        FROM documents)
      |), p AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
      |    AND CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        CAST(GREATEST(LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh)), 1)
      |             AS DOUBLE) >= 0.5
      |), e AS (
      |  SELECT id_a AS a, id_b AS b FROM p
      |  UNION ALL
      |  SELECT id_b AS a, id_a AS b FROM p
      |), reach(id, r) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
      |), cl AS (
      |  SELECT id AS doc_id, MIN(r) AS cluster_id
      |  FROM reach GROUP BY id
      |)""".stripMargin

  /** SQL replay of [[graft.ops.Tokenize.bpeTrain]]'s BATCHED rounds —
    * generated per round (straight-line CTE chain, `rounds` deep) so
    * every piece of the batching machinery is DuckDB-checkable: pair
    * counting over the symbolized dictionary, the greedy
    * disjoint-prefix selection with its strictness trim (a recursive
    * CTE walking the ranked pair list carrying the used-symbol set),
    * and the one-pass non-overlapping multi-merge (a per-word
    * positional recursion — DuckDB 1.0's `list_reduce` corrupts
    * struct-with-list accumulators, so the fold recurses on (row,
    * position) instead). CTEs are MATERIALIZED: default inlining
    * re-expands each round's two references exponentially. */
  private def bpeBatchedOracleSql(rounds: Int, budget: Int,
                                  minc: Long): String = {
    def roundSql(i: Int): String = s"""
c$i AS MATERIALIZED (
  SELECT p[1] AS l, p[2] AS r, CAST(SUM(wc) AS BIGINT) AS pair_count
  FROM (SELECT wc, unnest(list_transform(range(1, LEN(syms)),
          j -> [syms[j], syms[j+1]])) AS p
        FROM s$i WHERE LEN(syms) >= 2)
  GROUP BY 1, 2
),
t$i AS MATERIALIZED (
  SELECT l, r, pair_count,
    row_number() OVER (ORDER BY pair_count DESC, l, r) AS rn
  FROM c$i
  QUALIFY rn <= ${budget + 1}
),
g$i(rn, used, sel, cstop, halted) AS (
  SELECT 0, []::VARCHAR[],
    []::STRUCT(l VARCHAR, r VARCHAR, c BIGINT)[],
    CAST(${minc - 1} AS BIGINT), false
  UNION ALL
  SELECT t.rn,
    CASE WHEN t.pair_count >= $minc AND LEN(g$i.sel) < $budget
           AND NOT list_contains(g$i.used, t.l)
           AND NOT list_contains(g$i.used, t.r)
      THEN list_append(list_append(g$i.used, t.l), t.r)
      ELSE g$i.used END,
    CASE WHEN t.pair_count >= $minc AND LEN(g$i.sel) < $budget
           AND NOT list_contains(g$i.used, t.l)
           AND NOT list_contains(g$i.used, t.r)
      THEN list_append(g$i.sel, {'l': t.l, 'r': t.r, 'c': t.pair_count})
      ELSE g$i.sel END,
    CASE WHEN t.pair_count >= $minc AND (LEN(g$i.sel) = $budget
           OR list_contains(g$i.used, t.l) OR list_contains(g$i.used, t.r))
      THEN t.pair_count ELSE g$i.cstop END,
    (t.pair_count < $minc OR LEN(g$i.sel) = $budget
      OR list_contains(g$i.used, t.l) OR list_contains(g$i.used, t.r))
  FROM g$i, t$i t
  WHERE t.rn = g$i.rn + 1 AND NOT g$i.halted
),
p$i AS MATERIALIZED (
  SELECT sel, cstop FROM g$i ORDER BY rn DESC LIMIT 1
),
b$i AS MATERIALIZED (
  SELECT CASE
    WHEN LEN(trimmed) > 0 THEN trimmed
    WHEN EXISTS (SELECT 1 FROM t$i WHERE rn = 1 AND pair_count >= $minc)
      THEN (SELECT [{'l': l, 'r': r, 'c': pair_count}]
            FROM t$i WHERE rn = 1)
    ELSE []::STRUCT(l VARCHAR, r VARCHAR, c BIGINT)[] END AS batch
  FROM (SELECT list_filter(sel, x -> x.c > cstop) AS trimmed FROM p$i)
),
sr$i AS MATERIALIZED (
  SELECT row_number() OVER () AS rid, wc, syms FROM s$i
),
f$i(rid, pos, out, prev) AS (
  SELECT rid, 1, []::VARCHAR[], syms[1] FROM sr$i
  UNION ALL
  SELECT f.rid, f.pos + 1,
    CASE WHEN f.prev IS NULL THEN f.out
         WHEN LEN(list_filter(batch,
                q -> q.l = f.prev AND q.r = s.syms[f.pos + 1])) > 0
           THEN list_append(f.out, f.prev || s.syms[f.pos + 1])
         ELSE list_append(f.out, f.prev) END,
    CASE WHEN f.prev IS NULL THEN s.syms[f.pos + 1]
         WHEN LEN(list_filter(batch,
                q -> q.l = f.prev AND q.r = s.syms[f.pos + 1])) > 0
           THEN CAST(NULL AS VARCHAR)
         ELSE s.syms[f.pos + 1] END
  FROM f$i f JOIN sr$i s ON s.rid = f.rid, b$i
  WHERE f.pos < LEN(s.syms)
),
s${i + 1} AS MATERIALIZED (
  SELECT s.wc,
    CASE WHEN f.prev IS NULL THEN f.out
         ELSE list_append(f.out, f.prev) END AS syms
  FROM f$i f JOIN sr$i s ON s.rid = f.rid
  WHERE f.pos = LEN(s.syms)
),
m$i AS MATERIALIZED (
  SELECT j AS ord, batch[j].l AS lft, batch[j].r AS rgt,
    batch[j].l || batch[j].r AS merged, batch[j].c AS pair_count
  FROM b$i, (SELECT unnest(range(1, ${budget + 1})) AS j)
  WHERE j <= LEN(batch)
)"""
    def offsetExpr(i: Int): String =
      if (i == 0) "0"
      else (0 until i).map(k => s"(SELECT LEN(batch) FROM b$k)")
        .mkString(" + ")
    val unions = (0 until rounds).map { i =>
      s"""SELECT CAST(ord + ${offsetExpr(i)} AS INTEGER) AS step, """ +
        s"""lft AS "left", rgt AS "right", merged, pair_count FROM m$i"""
    }.mkString("\nUNION ALL\n")
    s"""WITH RECURSIVE
wd AS MATERIALIZED (
  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS wc
  FROM (SELECT unnest(list_filter(
          regexp_split_to_array(LOWER(TRIM(text)), '\\s+'),
          x -> LENGTH(x) > 0)) AS t
        FROM documents)
  GROUP BY t
),
s0 AS MATERIALIZED (
  SELECT wc, list_append(regexp_split_to_array(token, ''), '</w>') AS syms
  FROM wd
),${(0 until rounds).map(roundSql).mkString(",")}
$unions
ORDER BY step"""
  }

  def oracleSql: Map[String, String] = Map(

    // Eight batched BPE training rounds replayed end to end in SQL —
    // the selection/trim/multi-merge logic itself is oracle-proven
    // (rounds 6-8 carry multi-merge batches on this corpus).
    "bpe_merges_batched" -> bpeBatchedOracleSql(rounds = 8, budget = 8,
      minc = 2L),

    // Sequential BPE = the batched replay at budget 1: each round's
    // recursive-CTE selection degenerates to the single argmax, so 20
    // rounds replay the 20-merge textbook loop exactly.
    "bpe_merges" -> bpeBatchedOracleSql(rounds = 20, budget = 1,
      minc = 2L),

    "sim_topk_lsh" ->
      s"""WITH c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), b AS (
        |  SELECT vec_id, e,
        |    ${lshBucketSql("e", 4)} AS bucket
        |  FROM c
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe, bucket FROM b WHERE vec_id < 10
        |), s AS (
        |  SELECT q.query_id, cb.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qe, cb.e) AS sim
        |  FROM q JOIN b cb ON cb.bucket = q.bucket AND cb.vec_id != q.query_id
        |), r AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "dedup_embed_cosine" ->
      s"""WITH c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), b AS (
        |  SELECT vec_id, e,
        |    ${lshBucketSql("e", 4)} AS bucket
        |  FROM c
        |)
        |SELECT a.vec_id AS id_a, bb.vec_id AS id_b
        |FROM b a JOIN b bb ON a.bucket = bb.bucket AND a.vec_id < bb.vec_id
        |WHERE list_cosine_similarity(a.e, bb.e) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,
    "src_scan" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_extendedprice > 1000.0 ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,

    "flt_notnull_orders" ->
      """SELECT o_orderkey, o_custkey, o_orderdate, o_orderstatus FROM orders
        |WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
        |ORDER BY o_orderkey""".stripMargin,

    "flt_price_pos" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_extendedprice > 0 ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,

    "prj_derive_dates" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    "prj_is_returned" ->
      """SELECT l_orderkey, l_linenumber, (l_returnflag = 'R') AS is_returned
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, is_returned""".stripMargin,

    "prj_total_price" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice AS total_price
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, total_price""".stripMargin,

    "prj_round_pct" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(CAST(CAST(l_discount AS DECIMAL(12,2)) * 100 AS DECIMAL(12,2)) AS DOUBLE) AS discount_pct,
        |  CAST(CAST(CAST(l_tax AS DECIMAL(12,2)) * 100 AS DECIMAL(12,2)) AS DOUBLE) AS tax_pct
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, discount_pct, tax_pct""".stripMargin,

    "join_semi_ri" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders)
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,

    "join_anti_orphans" ->
      """SELECT l_orderkey, l_linenumber FROM lineitem
        |WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "join_inner_eq" ->
      """SELECT l.l_orderkey, l.l_linenumber, l.l_extendedprice, o.o_custkey, o.o_orderstatus
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |ORDER BY l.l_orderkey, l.l_linenumber, l.l_extendedprice""".stripMargin,

    "join_lookup_cat" ->
      """SELECT l.l_orderkey, l.l_linenumber, p.p_brand AS category
        |FROM lineitem l LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |ORDER BY l.l_orderkey, l.l_linenumber, category NULLS FIRST""".stripMargin,

    "set_union_all" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_linenumber <= 3
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_linenumber > 3
        |) ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "agg_sum" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_count" ->
      """SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_count_distinct" ->
      """SELECT CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS unique_customers
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // the sketch estimate itself is un-oracle-able (different HLL
    // internals); the exact half replays in SQL and the max(2%, ±1)
    // flag is pinned TRUE — an out-of-bound estimate hash-mismatches
    "agg_approx_distinct" ->
      """SELECT CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_customers,
        |  TRUE AS within_bound
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "agg_bool" ->
      """SELECT l_linestatus,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS return_count,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS return_rate
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "agg_cat_kpi" ->
      """WITH merged AS (
        |  SELECT p.p_brand AS category, CAST(o.o_orderdate AS DATE) AS order_date,
        |         l.l_orderkey, l.l_extendedprice, l.l_returnflag
        |  FROM lineitem l
        |  JOIN orders o ON l.l_orderkey = o.o_orderkey
        |  LEFT JOIN part p ON l.l_partkey = p.p_partkey
        |)
        |SELECT category, order_date,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS daily_revenue,
        |  CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS order_count,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT) AS return_count,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
        |    / CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS avg_order_value,
        |  CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS avg_return_rate
        |FROM merged WHERE category IS NOT NULL
        |GROUP BY category, order_date ORDER BY category, order_date""".stripMargin,

    "agg_order_kpi" ->
      """SELECT CAST(o.o_orderdate AS DATE) AS order_date,
        |  CAST(COUNT(DISTINCT l.l_orderkey) AS BIGINT) AS total_orders,
        |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS total_revenue,
        |  CAST(COUNT(*) AS BIGINT) AS total_items_sold,
        |  CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS return_rate,
        |  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS unique_customers
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_validate_all" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice FROM lineitem
        |WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |  AND l_extendedprice IS NOT NULL AND l_extendedprice > 0
        |  AND l_orderkey IN (
        |    SELECT o_orderkey FROM orders
        |    WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL AND o_orderdate IS NOT NULL)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice""".stripMargin,

    "q_validate_readme" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_orderkey IS NOT NULL AND l_partkey IS NOT NULL
        |  AND l_extendedprice IS NOT NULL AND l_extendedprice > 0
        |  AND l_quantity > 0
        |  AND l_partkey IN (SELECT p_partkey FROM part WHERE p_retailprice > 0)
        |  AND l_orderkey IN (
        |    SELECT o_orderkey FROM orders
        |    WHERE o_orderkey IS NOT NULL AND o_custkey IS NOT NULL AND o_orderdate IS NOT NULL)
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_quantity, l_extendedprice""".stripMargin,

    // Each check is an exact-integer (n_pass, n_total) pair; metric and
    // threshold are single double divisions and `passed` is the
    // cross-multiplied integer compare — bit-identical on both engines.
    "dq_report" ->
      """WITH raw AS (
        |  SELECT 'complete(l_orderkey)' AS "check",
        |    CAST(SUM(CASE WHEN l_orderkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
        |    CAST(COUNT(*) AS BIGINT) AS n_total, 1 AS tn, 1 AS td FROM lineitem
        |  UNION ALL
        |  SELECT 'complete(l_partkey)',
        |    CAST(SUM(CASE WHEN l_partkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), 1, 1 FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_quantity,1.0,50.0)',
        |    CAST(SUM(CASE WHEN l_quantity IS NOT NULL AND l_quantity >= 1 AND l_quantity <= 50
        |                  THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), 1, 1 FROM lineitem
        |  UNION ALL
        |  SELECT 'in_set(l_returnflag)',
        |    CAST(SUM(CASE WHEN l_returnflag IN ('A','N','R') THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), 1, 1 FROM lineitem
        |  UNION ALL
        |  SELECT 'satisfies(l_price_pos)',
        |    CAST(SUM(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), 1, 1 FROM lineitem
        |  UNION ALL
        |  SELECT 'in_range(l_discount,0.0,0.05)',
        |    CAST(SUM(CASE WHEN l_discount IS NOT NULL AND l_discount >= 0 AND l_discount <= 0.05
        |                  THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), 1, 2 FROM lineitem
        |  UNION ALL
        |  SELECT 'complete(o_custkey)',
        |    CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), 1, 1 FROM orders
        |  UNION ALL
        |  SELECT 'unique(o_orderkey)',
        |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT),
        |    CAST(COUNT(o_orderkey) AS BIGINT), 1, 1 FROM orders
        |  UNION ALL
        |  SELECT 'satisfies(o_total_pos)',
        |    CAST(SUM(CASE WHEN o_totalprice > 0 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), 1, 1 FROM orders
        |  UNION ALL
        |  SELECT 'in_range(o_totalprice,0.0,100000.0)',
        |    CAST(SUM(CASE WHEN o_totalprice IS NOT NULL AND o_totalprice >= 0
        |                   AND o_totalprice <= 100000 THEN 1 ELSE 0 END) AS BIGINT),
        |    CAST(COUNT(*) AS BIGINT), 95, 100 FROM orders
        |)
        |SELECT "check", n_pass, n_total,
        |  CAST(n_pass AS DOUBLE) / CAST(n_total AS DOUBLE) AS metric,
        |  CAST(tn AS DOUBLE) / CAST(td AS DOUBLE) AS threshold,
        |  n_pass * td >= tn * n_total AS passed
        |FROM raw ORDER BY "check"""".stripMargin,

    "win_topk_per_order" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY l_orderkey
        |      ORDER BY l_extendedprice DESC, l_linenumber) AS INT) AS rn
        |  FROM lineitem
        |) WHERE rn <= 3 ORDER BY l_orderkey, rn""".stripMargin,

    "evt_daily" ->
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS unique_users
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "evt_json_props" ->
      """SELECT event_type,
        |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS n_with_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "prj_drop_cols" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "fn_scalar_suite" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate AS DATE) AS order_date,
        |  strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date_iso,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec,
        |  CAST(CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(12,2)) AS DOUBLE) AS price_x2,
        |  o_totalprice / 100.0 AS price_ratio,
        |  (o_orderdate IS NOT NULL) AS has_date
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "agg_pivot" ->
      """SELECT CAST(o_orderdate AS DATE) AS order_date,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_f,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_o,
        |  CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(12,2)) END) AS DOUBLE) AS rev_p
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    "win_running" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend,
        |  CAST(LAG(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_price
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "set_intersect" ->
      """SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders
        |ORDER BY custkey""".stripMargin,

    "set_except" ->
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal >= 0
        |ORDER BY custkey""".stripMargin,

    "join_left_agg" ->
      """SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin,

    // The dimension-chain join over the star schema's full depth —
    // exact-decimal revenue, cast through DECIMAL(38,4) on both sides.
    "join_dim_chain" ->
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                CAST(1 - l_discount AS DECIMAL(12,2)))
        |            AS DECIMAL(38,4)) AS DOUBLE) AS revenue
        |FROM lineitem, orders, customer, supplier, nation, region
        |WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin,

    // ASOF tie rule parity: the Spark side breaks same-(key, ts) right
    // rows to the largest payload tuple, so the oracle pre-dedups to
    // the max o_orderkey per (custkey, orderdate) before the ASOF join.
    "join_asof" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        |  FROM orders
        |  QUALIFY ROW_NUMBER() OVER (
        |    PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1
        |)
        |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    // identical oracle to join_asof — the native Catalyst exec must
    // reproduce the declarative form bit for bit
    "join_asof_native" ->
      """WITH o AS (
        |  SELECT o_custkey, o_orderdate, o_orderkey, o_totalprice
        |  FROM orders
        |  QUALIFY ROW_NUMBER() OVER (
        |    PARTITION BY o_custkey, o_orderdate ORDER BY o_orderkey DESC) = 1
        |)
        |SELECT e.event_id, e.user_id, o.o_orderkey, o.o_totalprice
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    "evt_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ms(ts) AS ms FROM events
        |), m AS (
        |  SELECT user_id, event_id, ms,
        |    CASE WHEN LAG(ms) OVER w IS NULL OR ms - LAG(ms) OVER w > 1800000
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
        |), s AS (
        |  SELECT user_id, ms,
        |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM m
        |)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  MIN(ms) AS start_ms, MAX(ms) AS end_ms
        |FROM s GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "txt_stats" ->
      """SELECT doc_id,
        |  CAST(LENGTH(text) AS INT) AS n_len,
        |  CAST(LEN(regexp_split_to_array(LOWER(TRIM(text)), '\s+')) AS INT) AS n_tokens,
        |  CAST(LENGTH(regexp_replace(text, '[^\p{L}]', '', 'g')) AS INT) AS n_alpha,
        |  CAST(LENGTH(regexp_replace(text, '[^0-9]', '', 'g')) AS INT) AS n_digits,
        |  CAST(LENGTH(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g')) AS INT) AS n_punct
        |FROM documents ORDER BY doc_id""".stripMargin,

    "txt_quality" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(LENGTH(text) AS DOUBLE) AS len,
        |    CAST(LENGTH(regexp_replace(text, '[^\p{L}]', '', 'g')) AS DOUBLE) AS alpha,
        |    regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, len, alpha,
        |    GREATEST(LEN(toks), 1)::DOUBLE AS ntoks,
        |    LEN(list_filter(toks, t -> list_contains(
        |      ['the','a','of','and','to','in','is','it','that','for',
        |       'le','la','les','de','et','un','une','est','que','pour',
        |       'el','los','y','una','es','por',
        |       'der','die','das','und','ein','eine','ist','zu','den','für'], t)))::DOUBLE AS stophits
        |  FROM s
        |)
        |SELECT doc_id,
        |  ROUND(
        |    LEAST(len / 200.0, 1.0) * 0.3
        |    + (alpha / GREATEST(len, 1.0)) * 0.3
        |    + (CASE WHEN alpha / ntoks BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.2
        |    + LEAST(stophits / ntoks * 5.0, 1.0) * 0.2, 4) AS quality_score
        |FROM m ORDER BY doc_id""".stripMargin,

    "txt_fingerprint" ->
      """SELECT doc_id, md5(LOWER(regexp_replace(TRIM(text), '\s+', ' ', 'g'))) AS fp_md5
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Full replay of every Gopher rule. Tokens/lines follow the shared
    // contracts (nonEmptyTokens; split on chr(10) keeping empties).
    // All ratios are small-int-over-small-int IEEE divisions — bitwise
    // identical across engines, so the booleans can't flap.
    "doc_gopher" ->
      """WITH s AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |                x -> LENGTH(x) > 0) AS toks,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents
        |), m AS (
        |  SELECT doc_id,
        |    CAST(LEN(toks) AS DOUBLE) AS nw,
        |    GREATEST(CAST(LEN(toks) AS DOUBLE), 1.0) AS nws,
        |    CAST(COALESCE(list_sum(list_transform(toks, t -> LENGTH(t))), 0)
        |         AS DOUBLE) AS sumlen,
        |    CAST(LENGTH(text) - LENGTH(replace(text, '#', '')) AS DOUBLE) AS nhash,
        |    (LENGTH(text) - LENGTH(replace(text, '...', ''))) / 3
        |      + (LENGTH(text) - LENGTH(replace(text, '…', ''))) AS nell,
        |    CAST(LEN(list_filter(toks, t -> regexp_matches(t, '\p{L}')))
        |         AS DOUBLE) AS alphaw,
        |    LEN(list_filter(toks, t -> list_contains(
        |      ['the','be','to','of','and','that','have','with'], t))) AS stop8,
        |    GREATEST(CAST(LEN(lines) AS DOUBLE), 1.0) AS nlines,
        |    CAST(LEN(list_filter(lines, l ->
        |      substr(TRIM(l), 1, 1) = '-' OR substr(TRIM(l), 1, 1) = '*'
        |        OR substr(TRIM(l), 1, 1) = '•')) AS DOUBLE) AS bullets,
        |    CAST(LEN(list_filter(lines, l ->
        |      ends_with(TRIM(l), '...') OR ends_with(TRIM(l), '…')))
        |         AS DOUBLE) AS ells,
        |    CAST(LEN(lines) - LEN(list_distinct(lines)) AS DOUBLE) AS duplines,
        |    CAST(COALESCE(list_sum(list_transform(lines, l -> LENGTH(l))), 0)
        |         AS DOUBLE) AS linechars,
        |    CAST(COALESCE(list_sum(list_transform(list_distinct(lines),
        |                                          l -> LENGTH(l))), 0)
        |         AS DOUBLE) AS dlinechars
        |  FROM s
        |), r AS (
        |  SELECT doc_id,
        |    nw BETWEEN 50.0 AND 100000.0 AS r_word_count,
        |    (sumlen / nws) BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
        |    nhash / nws <= 0.1 AND nell / nws <= 0.1 AS r_symbol_ratio,
        |    bullets / nlines <= 0.9 AS r_bullet_lines,
        |    ells / nlines <= 0.3 AS r_ellipsis_lines,
        |    alphaw / nws >= 0.8 AS r_alpha_words,
        |    stop8 >= 2 AS r_stopwords,
        |    duplines / nlines <= 0.3
        |      AND (linechars - dlinechars) / GREATEST(linechars, 1.0) <= 0.2
        |      AS r_dup_lines
        |  FROM m
        |)
        |SELECT doc_id, r_word_count, r_mean_word_len, r_symbol_ratio,
        |  r_bullet_lines, r_ellipsis_lines, r_alpha_words, r_stopwords,
        |  r_dup_lines,
        |  r_word_count AND r_mean_word_len AND r_symbol_ratio
        |    AND r_bullet_lines AND r_ellipsis_lines AND r_alpha_words
        |    AND r_stopwords AND r_dup_lines AS gopher_kept
        |FROM r ORDER BY doc_id""".stripMargin,

    "txt_lang_id" ->
      """WITH s AS (
        |  SELECT doc_id, lang, text,
        |    regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
        |  FROM documents
        |), m AS (
        |  SELECT doc_id, lang,
        |    CAST(LEN(list_filter(toks, t -> list_contains(
        |      ['the','a','of','and','to','in','is','it','that','for'], t))) AS INT) AS score_en,
        |    CAST(LEN(list_filter(toks, t -> list_contains(
        |      ['le','la','les','de','et','un','une','est','que','pour'], t))) AS INT) AS score_fr,
        |    CAST(LEN(list_filter(toks, t -> list_contains(
        |      ['el','la','los','de','y','un','una','es','que','por'], t))) AS INT) AS score_es,
        |    CAST(LEN(list_filter(toks, t -> list_contains(
        |      ['der','die','das','und','ein','eine','ist','zu','den','für'], t))) AS INT) AS score_de,
        |    CAST(LENGTH(regexp_replace(text, '[^\x{4e00}-\x{9fff}]', '', 'g')) AS DOUBLE)
        |      / CAST(GREATEST(LENGTH(text), 1) AS DOUBLE) AS cjk_ratio
        |  FROM s
        |)
        |SELECT doc_id, lang,
        |  CASE WHEN cjk_ratio > 0.3 THEN 'zh'
        |       WHEN GREATEST(score_en, score_fr, score_es, score_de) = 0 THEN 'und'
        |       WHEN score_en = GREATEST(score_en, score_fr, score_es, score_de) THEN 'en'
        |       WHEN score_fr = GREATEST(score_en, score_fr, score_es, score_de) THEN 'fr'
        |       WHEN score_es = GREATEST(score_en, score_fr, score_es, score_de) THEN 'es'
        |       ELSE 'de' END AS lang_pred,
        |  score_en, score_fr, score_es, score_de
        |FROM m ORDER BY doc_id""".stripMargin,

    "sim_topk_brute" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id < 10
        |), s AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qe, c.embedding::DOUBLE[]) AS sim
        |  FROM q, embeddings c WHERE c.vec_id != q.query_id
        |), r AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // Brute ranking minus self and the two declared positives per query.
    "sim_hard_negatives" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id < 10
        |), s AS (
        |  SELECT q.query_id, c.vec_id AS negative_id,
        |    list_cosine_similarity(q.qe, c.embedding::DOUBLE[]) AS sim
        |  FROM q, embeddings c
        |  WHERE c.vec_id != q.query_id
        |    AND c.vec_id != q.query_id + 100
        |    AND c.vec_id != q.query_id + 200
        |), r AS (
        |  SELECT query_id, negative_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, negative_id) AS INT) AS rank
        |  FROM s
        |)
        |SELECT query_id, negative_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // identical to sim_topk_brute: the aggregator must reproduce the
    // window form's ranking exactly
    "sim_topk_agg" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qe
        |  FROM embeddings WHERE vec_id < 10
        |), s AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    list_cosine_similarity(q.qe, c.embedding::DOUBLE[]) AS sim
        |  FROM q, embeddings c WHERE c.vec_id != q.query_id
        |), r AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "sim_topk_ivf_anchored" ->
      """WITH c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), a AS (
        |  -- fixed-size anchor set: 16 smallest two-round Lehmer hashes
        |  SELECT vec_id AS cluster, e AS ce FROM c
        |  ORDER BY ((((vec_id % 2147483647) * 48271) % 2147483647) * 48271)
        |             % 2147483647, vec_id
        |  LIMIT 16
        |), asg AS (
        |  SELECT vec_id, e, cluster FROM (
        |    SELECT c.vec_id, c.e, a.cluster,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_cosine_similarity(c.e, a.ce) DESC, a.cluster) AS rn
        |    FROM c, a
        |  ) WHERE rn = 1
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe FROM c WHERE vec_id < 10
        |), qp AS (
        |  SELECT query_id, qe, cluster FROM (
        |    SELECT q.query_id, q.qe, a.cluster,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qe, a.ce) DESC, a.cluster) AS rn
        |    FROM q, a
        |  ) WHERE rn <= 3
        |), s AS (
        |  SELECT qp.query_id, asg.vec_id AS neighbor_id,
        |    list_cosine_similarity(qp.qe, asg.e) AS sim
        |  FROM qp JOIN asg ON qp.cluster = asg.cluster
        |  WHERE asg.vec_id != qp.query_id
        |), r AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // TRAINED IVF replayed end to end: quantize to ints, Lehmer-anchor
    // init, two spherical-Lloyd rounds with exact integer SUM-vector
    // centroids (cosine is scale-invariant so counts never divide),
    // final assignment + 3-probe + rank. Every centroid component is an
    // exact integer in both engines, so training replays bit-for-bit.
    "sim_topk_ivf" ->
      """WITH c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e,
        |    list_transform(embedding::DOUBLE[], x -> floor(x*1000)) AS v
        |  FROM embeddings
        |), a0 AS (
        |  SELECT vec_id AS cluster, v AS s FROM c
        |  ORDER BY ((((vec_id % 2147483647) * 48271) % 2147483647) * 48271)
        |             % 2147483647, vec_id
        |  LIMIT 8
        |), asg1 AS (
        |  SELECT vec_id, v, cluster FROM (
        |    SELECT c.vec_id, c.v, a0.cluster,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_cosine_similarity(c.v, a0.s) DESC, a0.cluster) AS rn
        |    FROM c, a0) WHERE rn = 1
        |), c1 AS (
        |  SELECT a0.cluster, COALESCE(u.s, a0.s) AS s FROM a0 LEFT JOIN (
        |    SELECT cluster, list(sv ORDER BY idx) AS s FROM (
        |      SELECT cluster, idx, SUM(val) AS sv FROM (
        |        SELECT cluster, unnest(v) AS val,
        |          generate_subscripts(v, 1) AS idx FROM asg1)
        |      GROUP BY cluster, idx) GROUP BY cluster
        |  ) u ON a0.cluster = u.cluster
        |), asg2 AS (
        |  SELECT vec_id, v, cluster FROM (
        |    SELECT c.vec_id, c.v, c1.cluster,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_cosine_similarity(c.v, c1.s) DESC, c1.cluster) AS rn
        |    FROM c, c1) WHERE rn = 1
        |), c2 AS (
        |  SELECT c1.cluster, COALESCE(u.s, c1.s) AS s FROM c1 LEFT JOIN (
        |    SELECT cluster, list(sv ORDER BY idx) AS s FROM (
        |      SELECT cluster, idx, SUM(val) AS sv FROM (
        |        SELECT cluster, unnest(v) AS val,
        |          generate_subscripts(v, 1) AS idx FROM asg2)
        |      GROUP BY cluster, idx) GROUP BY cluster
        |  ) u ON c1.cluster = u.cluster
        |), asgf AS (
        |  SELECT vec_id, cluster FROM (
        |    SELECT c.vec_id, c2.cluster,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_cosine_similarity(c.v, c2.s) DESC, c2.cluster) AS rn
        |    FROM c, c2) WHERE rn = 1
        |), q AS (
        |  SELECT vec_id AS query_id, e AS qe, v AS qv FROM c WHERE vec_id < 10
        |), qp AS (
        |  SELECT query_id, qe, cluster FROM (
        |    SELECT q.query_id, q.qe, c2.cluster,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id
        |        ORDER BY list_cosine_similarity(q.qv, c2.s) DESC, c2.cluster) AS rn
        |    FROM q, c2) WHERE rn <= 3
        |), s AS (
        |  SELECT qp.query_id, t.vec_id AS neighbor_id,
        |    list_cosine_similarity(qp.qe, t.e) AS sim
        |  FROM qp JOIN asgf a ON qp.cluster = a.cluster
        |    JOIN c t ON t.vec_id = a.vec_id
        |  WHERE t.vec_id != qp.query_id
        |), r AS (
        |  SELECT query_id, neighbor_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, neighbor_id) AS INT) AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // SemDeDup: same anchor-selection/assignment CTEs as
    // sim_topk_ivf_anchored, then within-cluster ε-groups with the
    // smallest-id exemplar kept.
    "dedup_semantic" ->
      """WITH c AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
        |), a AS (
        |  SELECT vec_id AS cluster, e AS ce FROM c
        |  ORDER BY ((((vec_id % 2147483647) * 48271) % 2147483647) * 48271)
        |             % 2147483647, vec_id
        |  LIMIT 16
        |), asg AS (
        |  SELECT vec_id, e, cluster FROM (
        |    SELECT c.vec_id, c.e, a.cluster,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id
        |        ORDER BY list_cosine_similarity(c.e, a.ce) DESC, a.cluster) AS rn
        |    FROM c, a
        |  ) WHERE rn = 1
        |), drp AS (
        |  SELECT DISTINCT y.vec_id FROM asg x JOIN asg y
        |    ON x.cluster = y.cluster AND x.vec_id < y.vec_id
        |  WHERE list_cosine_similarity(x.e, y.e) >= 0.4
        |)
        |SELECT asg.vec_id, asg.cluster, (drp.vec_id IS NULL) AS kept
        |FROM asg LEFT JOIN drp ON asg.vec_id = drp.vec_id
        |ORDER BY asg.vec_id""".stripMargin,

    // PQ replay: quantize to exact BIGINTs, codebook = the 16 Lehmer-
    // anchored vectors' subvectors (codeword index = id rank), encode by
    // integer-L2 argmin (ties to the smaller index), ADC score = exact
    // integer dot of the query subvectors with the coded reconstruction.
    "sim_topk_pq" ->
      """WITH c AS (
        |  SELECT vec_id, list_transform(embedding::DOUBLE[],
        |    x -> CAST(FLOOR(x * 1000) AS BIGINT)) AS qv
        |  FROM embeddings
        |), a AS (
        |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY avid) - 1 AS INT) AS cw, aqv
        |  FROM (
        |    SELECT vec_id AS avid, qv AS aqv FROM c
        |    ORDER BY ((((vec_id % 2147483647) * 48271) % 2147483647) * 48271)
        |               % 2147483647, vec_id
        |    LIMIT 16
        |  )
        |), enc AS (
        |  SELECT vec_id, s, code FROM (
        |    SELECT c.vec_id, t.s, a.cw AS code,
        |      ROW_NUMBER() OVER (PARTITION BY c.vec_id, t.s ORDER BY
        |        list_sum(list_transform(range(1, 9),
        |          i -> (c.qv[CAST(t.s*8+i AS INT)] - a.aqv[CAST(t.s*8+i AS INT)])
        |             * (c.qv[CAST(t.s*8+i AS INT)] - a.aqv[CAST(t.s*8+i AS INT)]))),
        |        a.cw) AS rn
        |    FROM c, UNNEST(range(0, 8)) AS t(s), a
        |  ) WHERE rn = 1
        |), q AS (
        |  SELECT vec_id AS query_id, qv AS qqv FROM c WHERE vec_id < 10
        |), sc AS (
        |  SELECT q.query_id, e.vec_id AS neighbor_id,
        |    CAST(SUM(list_sum(list_transform(range(1, 9),
        |      i -> q.qqv[CAST(e.s*8+i AS INT)] * a.aqv[CAST(e.s*8+i AS INT)])))
        |      AS BIGINT) AS score
        |  FROM q, enc e JOIN a ON e.code = a.cw
        |  WHERE e.vec_id != q.query_id
        |  GROUP BY q.query_id, e.vec_id
        |), r AS (
        |  SELECT query_id, neighbor_id, score,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, neighbor_id) AS INT) AS rank
        |  FROM sc
        |)
        |SELECT query_id, neighbor_id, score, rank FROM r WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "dedup_embed_exact" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id < b.vec_id
        |  AND list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    "dedup_ngram_exact" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN LEN(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, LEN(toks) - 1),
        |                             i -> array_to_string(toks[i:i+2], ' '))
        |         END) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
        |        FROM documents)
        |), p AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      CAST(GREATEST(LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh)), 1)
        |           AS DOUBLE) AS jaccard
        |  FROM sh a, sh b WHERE a.doc_id < b.doc_id
        |)
        |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // The fuzzy-join CONTRACT, not its blocking internals: all distinct
    // name pairs at Levenshtein distance 1..2. Spark and DuckDB both
    // implement unit-cost Levenshtein over an ASCII corpus. `dist` is
    // cast BIGINT because Spark's levenshtein returns int, DuckDB's
    // returns BIGINT.
    "dedup_fuzzy" ->
      """WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL)
        |SELECT a.p_name AS str_a, b.p_name AS str_b,
        |  CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
        |FROM n a JOIN n b ON a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
        |ORDER BY str_a, str_b""".stripMargin,

    // Min-label propagation to a fixpoint over the Levenshtein ≤ 2 edge
    // set — the same recursive-CTE replay shape as dedup_clusters.
    "dedup_fuzzy_clusters" ->
      """WITH RECURSIVE n AS (
        |  SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL
        |), p AS (
        |  SELECT a.p_name AS id_a, b.p_name AS id_b
        |  FROM n a JOIN n b ON a.p_name < b.p_name
        |  WHERE levenshtein(a.p_name, b.p_name) <= 2
        |), e AS (
        |  SELECT id_a AS a, id_b AS b FROM p
        |  UNION ALL
        |  SELECT id_b AS a, id_a AS b FROM p
        |), reach(id, r) AS (
        |  SELECT p_name, p_name FROM n
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN e ON e.a = reach.id
        |), cl AS (
        |  SELECT id, MIN(r) AS canonical FROM reach GROUP BY id
        |)
        |SELECT id AS p_name, canonical FROM cl ORDER BY p_name""".stripMargin,

    "src_csv_multi" ->
      """SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM read_csv('/root/reference/Data/orders/*.csv', header=true)
        |WHERE order_id IS NOT NULL
        |GROUP BY status ORDER BY status""".stripMargin,

    // Bit-for-bit replay of the ZOrder2 Morton interleave: bit i of each
    // 31-bit-masked dimension lands at output bits 2i / 2i+1.
    "lay_zorder" ->
      """SELECT o_orderkey, o_custkey, day,
        |  CAST(list_sum(list_transform(range(0, 31), i ->
        |    (((ck >> i) & 1) << (2 * i)) + (((dy >> i) & 1) << (2 * i + 1))
        |  )) AS BIGINT) AS zkey
        |FROM (
        |  SELECT o_orderkey, o_custkey, day,
        |    o_custkey & 2147483647 AS ck, day & 2147483647 AS dy
        |  FROM (SELECT o_orderkey, o_custkey,
        |          CAST(date_diff('day', DATE '1995-01-01',
        |                         CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        |        FROM orders)
        |) ORDER BY o_orderkey""".stripMargin,

    // The 31-level Hilbert walk replayed exactly: per level, the
    // quadrant pair adds s²·((3·rx) XOR ry) and the frame
    // rotates/reflects when ry = 0 — pure integer recursion, so the
    // hash match is bit-for-bit.
    "lay_hilbert" ->
      """WITH RECURSIVE pts AS (
        |  SELECT o_orderkey, o_custkey,
        |    CAST(date_diff('day', DATE '1995-01-01',
        |                   CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        |  FROM orders
        |), h AS (
        |  SELECT o_orderkey,
        |    o_custkey & 2147483647 AS x,
        |    day & 2147483647 AS y,
        |    CAST(0 AS BIGINT) AS dd,
        |    CAST(1073741824 AS BIGINT) AS s
        |  FROM pts
        |  UNION ALL
        |  SELECT o_orderkey,
        |    CASE WHEN (y & s) = 0 THEN
        |      (CASE WHEN (x & s) <> 0 THEN s - 1 - y ELSE y END)
        |    ELSE x END AS x,
        |    CASE WHEN (y & s) = 0 THEN
        |      (CASE WHEN (x & s) <> 0 THEN s - 1 - x ELSE x END)
        |    ELSE y END AS y,
        |    dd + s * s * (CASE
        |      WHEN (x & s) = 0 AND (y & s) = 0 THEN 0
        |      WHEN (x & s) = 0 THEN 1
        |      WHEN (y & s) <> 0 THEN 2
        |      ELSE 3 END) AS dd,
        |    s // 2 AS s
        |  FROM h WHERE s > 0
        |)
        |SELECT p.o_orderkey, p.o_custkey, p.day, h.dd AS hkey
        |FROM pts p JOIN h ON p.o_orderkey = h.o_orderkey AND h.s = 0
        |ORDER BY p.o_orderkey""".stripMargin,

    // 3-way 21-bit interleave, bit positions 3i/3i+1/3i+2.
    "lay_zorder3" ->
      """SELECT o_orderkey, o_custkey, day,
        |  CAST(list_sum(list_transform(range(0, 21), i ->
        |    (((ck >> i) & 1) << (3 * i)) + (((dy >> i) & 1) << (3 * i + 1))
        |    + (((ok >> i) & 1) << (3 * i + 2))
        |  )) AS BIGINT) AS zkey
        |FROM (
        |  SELECT o_orderkey, o_custkey, day,
        |    o_custkey & 2097151 AS ck, day & 2097151 AS dy,
        |    o_orderkey & 2097151 AS ok
        |  FROM (SELECT o_orderkey, o_custkey,
        |          CAST(date_diff('day', DATE '1995-01-01',
        |                         CAST(o_orderdate AS DATE)) AS BIGINT) AS day
        |        FROM orders)
        |) ORDER BY o_orderkey""".stripMargin,

    // Date + string curve inputs: epoch-day via date_diff from the
    // epoch; the 3-byte big-endian UTF-8 window via per-char codes
    // (ASCII column, so code point = byte; shorter strings pad 0).
    "lay_zorder_date" ->
      """SELECT o_orderkey, epoch_day, prio_window,
        |  CAST(list_sum(list_transform(range(0, 31), i ->
        |    (((ed >> i) & 1) << (2 * i)) + (((pw >> i) & 1) << (2 * i + 1))
        |  )) AS BIGINT) AS zkey
        |FROM (
        |  SELECT o_orderkey, epoch_day, prio_window,
        |    epoch_day & 2147483647 AS ed, prio_window & 2147483647 AS pw
        |  FROM (SELECT o_orderkey,
        |          CAST(date_diff('day', DATE '1970-01-01',
        |                         CAST(o_orderdate AS DATE)) AS BIGINT)
        |            AS epoch_day,
        |          CAST(COALESCE(ascii(substr(o_orderpriority, 1, 1)), 0)
        |                 * 65536
        |               + COALESCE(ascii(substr(o_orderpriority, 2, 1)), 0)
        |                 * 256
        |               + COALESCE(ascii(substr(o_orderpriority, 3, 1)), 0)
        |               AS BIGINT) AS prio_window
        |        FROM orders)
        |) ORDER BY o_orderkey""".stripMargin,

    // The bucketed tables must change the PLAN, never the ANSWER: the
    // oracle is the same join over the plain tables.
    "lay_bucket_join" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // The merged table the Spark side materializes on disk, recomputed
    // relationally: base (keys not divisible by 3) FULL OUTER JOIN the
    // update batch (even keys, doubled price), update wins. ×2 of a
    // ≤2dp double is exact in both engines.
    "mrg_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderkey % 3 != 0
        |), upd AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |)
        |SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
        |  COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus
        |FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
        |ORDER BY o_orderkey""".stripMargin,

    // DELETE keeps exactly the non-matching keys.
    "mrg_delete" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey % 7 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // Manifest lifecycle = upsert semantics, minus the deleted keys;
    // compaction is answer-invariant.
    "man_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderkey % 3 != 0
        |), upd AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |)
        |SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
        |  COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus
        |FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
        |WHERE COALESCE(u.o_orderkey, b.o_orderkey) % 7 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // Post-evolve reads: pre-evolution rows carry NULL in the added
    // column, the appended batch carries its value.
    "man_evolve" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
        |  CAST(NULL AS VARCHAR) AS o_flag
        |FROM orders WHERE o_orderkey % 3 != 0
        |UNION ALL
        |SELECT o_orderkey, o_totalprice, o_orderstatus, 'late'
        |FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // Layout maintenance is answer-invariant: the scoped-cluster
    // lifecycle's final relation is just the source projection.
    "lay_zorder_where" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(o_orderdate AS DATE) AS o_date, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // Incremental clustering is pure maintenance: full pass + wave +
    // incremental pass compose to the identity relation.
    "lay_cluster_incr" ->
      """SELECT o_orderkey, o_custkey,
        |  CAST(o_orderdate AS DATE) AS o_date, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // The widened relation recomputed from scratch: the base rows'
    // int-physical qty must read back as exact BIGINTs alongside the
    // appended beyond-int-range rows.
    "man_widen" ->
      """SELECT * FROM (
        |  SELECT o_orderkey, CAST(o_orderkey % 1000 AS BIGINT) AS qty,
        |         o_orderstatus
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_orderkey + 5000000000,
        |         o_orderstatus
        |  FROM orders
        |) ORDER BY o_orderkey, qty, o_orderstatus""".stripMargin,

    // The change feed between create and upsert: updated keys surface
    // as delete(old)+insert(new), brand-new keys as inserts only;
    // unchanged rows of rewritten candidate files must NOT appear.
    "man_changes" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderkey % 3 != 0
        |), upd AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |)
        |SELECT * FROM (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus,
        |    'delete' AS change FROM base WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_totalprice, o_orderstatus,
        |    'insert' AS change FROM upd
        |)
        |ORDER BY o_orderkey, change""".stripMargin,

    // The clone holds: the source's even keys at clone time (the
    // post-clone source delete must NOT show) + the appended odd keys,
    // minus the clone's own MoR delete of %9 keys — i.e. all orders
    // except %9.
    "man_clone" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey % 9 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // Three predicate deletes (metadata-only month drop, stats-tier
    // price rewrite, merge-on-read key mask) compose to one WHERE over
    // the original relation — planning tiers must never change the
    // answer.
    "man_delete_where" ->
      """SELECT o_orderkey, o_totalprice, o_orderdate
        |FROM orders
        |WHERE NOT (date_trunc('month', o_orderdate) < DATE '1994-01-01')
        |  AND NOT (o_totalprice > 400000.0)
        |  AND NOT (o_orderkey % 10 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    // Two stacked predicate updates as nested CASE WHENs (the MoR one
    // applies over the CoW one's result). Pure double arithmetic
    // (*2, +1.0): IEEE-deterministic in both engines.
    "man_update_where" ->
      """SELECT o_orderkey,
        |  (CASE WHEN o_orderdate < DATE '1994-01-01'
        |        THEN o_totalprice * 2 ELSE o_totalprice END)
        |  + (CASE WHEN o_orderkey % 7 = 0 THEN 1.0 ELSE 0.0 END)
        |  AS o_totalprice,
        |  o_orderstatus
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    // The SQL-statement lifecycle composes to one WHERE + one CASE
    // over the original relation — identical tier semantics to
    // man_delete_where/man_update_where, driven through SQL text.
    "sql_dml_surface" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderdate < DATE '1995-01-01'
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate
        |FROM orders
        |WHERE NOT (date_trunc('month', o_orderdate) < DATE '1994-01-01')
        |  AND NOT (o_totalprice > 400000.0)
        |  AND NOT (o_orderkey % 10 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    // VERSION AS OF 1 is the unmodified create input (the SQL twin of
    // man_timetravel's oracle).
    "sql_time_travel" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey % 3 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // The catalog-table DML lifecycle composes to one WHERE + one CASE
    // over the original relation, plus the single inserted row.
    "sql_catalog_dml" ->
      """SELECT * FROM (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderdate < DATE '1995-01-01'
        |         THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate
        |  FROM orders
        |  WHERE NOT (o_totalprice > 400000.0)
        |  UNION ALL
        |  SELECT CAST(-1 AS BIGINT) AS o_orderkey,
        |    CAST(111.5 AS DOUBLE) AS o_totalprice,
        |    DATE '1997-06-15' AS o_orderdate
        |  UNION ALL
        |  SELECT CAST(-2 AS BIGINT) AS o_orderkey,
        |    CAST(NULL AS DOUBLE) AS o_totalprice,
        |    DATE '1997-07-01' AS o_orderdate
        |) ORDER BY o_orderkey""".stripMargin,

    // The adopted files hold every original row; the MoR delete drops
    // the %7 keys via deletion vectors over those very files.
    "man_convert" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey % 7 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // The dir-derived partition column round-trips exactly; the CoW
    // delete drops its rows and the update shifts the 'O' partition.
    "man_convert_hive" ->
      """SELECT o_orderkey,
        |  o_totalprice
        |    + CASE WHEN o_orderstatus = 'O' THEN 1.0 ELSE 0.0 END
        |    AS o_totalprice,
        |  o_orderstatus
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 3 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    // Rename + evolve + conditional fill + drop compose to a SELECT
    // with one CASE; the evolved column is NULL where the UPDATE's
    // predicate did not fill it.
    "sql_alter_surface" ->
      """SELECT o_orderkey,
        |  o_totalprice AS price,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 0.5
        |       ELSE NULL END AS bonus
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    // Changes between the create (v1) and the append (v2) are exactly
    // the appended rows, each flagged 'insert'.
    "sql_table_changes" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
        |       'insert' AS change
        |FROM orders
        |WHERE o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // The TIMESTAMP spelling resolves to the same (v1, v2] range, so
    // the oracle is identical to the version spelling's.
    "sql_table_changes_ts" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
        |       'insert' AS change
        |FROM orders
        |WHERE o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // Clause algebra replayed as joins: matched rows either delete
    // (nv > 200000), or take the update value; unmatched targets with
    // totalprice < 50000 zero out; unmatched source rows insert.
    "mrg_merge_clauses" ->
      """WITH src AS (
        |  SELECT o_orderkey AS k, o_totalprice + 1000.0 AS nv,
        |         o_orderstatus AS st
        |  FROM orders WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT -o_orderkey, o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 5 = 0 AND o_orderkey > 0
        |)
        |SELECT * FROM (
        |  SELECT t.o_orderkey,
        |         CASE WHEN s.k IS NOT NULL THEN s.nv
        |              WHEN t.o_totalprice < 50000.0 THEN 0.0
        |              ELSE t.o_totalprice END AS o_totalprice,
        |         t.o_orderstatus
        |  FROM orders t LEFT JOIN src s ON t.o_orderkey = s.k
        |  WHERE NOT (s.k IS NOT NULL AND s.nv > 200000.0)
        |  UNION ALL
        |  SELECT s.k, s.nv, s.st
        |  FROM src s LEFT JOIN orders t ON t.o_orderkey = s.k
        |  WHERE t.o_orderkey IS NULL
        |)
        |ORDER BY o_orderkey""".stripMargin,

    // Manifest delete keeps exactly the non-matching keys (same
    // semantics as mrg_delete, different commit protocol).
    "man_delete" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderkey % 7 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // Compaction under the manifest protocol is answer-invariant: the
    // four append batches partition the keys by residue mod 4.
    "man_compact" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // Same expected history as mrg_scd2 — the Manifest storage path
    // must not change the fold's answer.
    "man_scd2" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |), hist AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    DATE '2024-01-01' AS valid_from,
        |    CASE WHEN c_custkey % 2 = 0 THEN DATE '2024-02-01' END AS valid_to
        |  FROM cust
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment || '_V2', c_acctbal,
        |    DATE '2024-02-01',
        |    CASE WHEN c_custkey % 4 = 0 THEN DATE '2024-03-01' END
        |  FROM cust WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment || '_V2', c_acctbal + 100.0,
        |    DATE '2024-03-01', NULL
        |  FROM cust WHERE c_custkey % 4 = 0
        |)
        |SELECT * FROM hist ORDER BY c_custkey, valid_from""".stripMargin,

    // Full GROUP BY recompute over the final base relation (the same
    // merged/deleted relation as man_upsert, custkey carried): the
    // delta-folded view must converge to exactly this. Sums replay in
    // DECIMAL space (the view's internal accumulator type) before the
    // double cast, so the compare is exact.
    "man_incr_kpi" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 3 != 0
        |), upd AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), final AS (
        |  SELECT COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
        |    COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice
        |  FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
        |  WHERE COALESCE(u.o_orderkey, b.o_orderkey) % 7 != 0
        |)
        |SELECT o_custkey,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))
        |       AS DOUBLE) AS sum_value,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM final GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    // The join view must equal the from-scratch inner join +
    // multiplicity GROUP BY over both FINAL base relations — any
    // double-counted or dropped delta on either side hash-mismatches.
    "man_incr_join" ->
      """WITH basea AS (
        |  SELECT o_orderkey, o_custkey,
        |    FLOOR(o_totalprice / 1000.0) AS price_band
        |  FROM orders WHERE o_orderkey % 3 != 0
        |), upd AS (
        |  SELECT o_orderkey, o_custkey,
        |    FLOOR(o_totalprice * 2 / 1000.0) AS price_band
        |  FROM orders WHERE o_orderkey % 2 = 0
        |), finala AS (
        |  SELECT COALESCE(u.o_custkey, b.o_custkey) AS o_custkey,
        |    COALESCE(u.price_band, b.price_band) AS price_band
        |  FROM basea b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
        |  WHERE COALESCE(u.o_orderkey, b.o_orderkey) % 7 != 0
        |), finalb AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer
        |)
        |SELECT a.o_custkey, CAST(a.price_band AS BIGINT) AS price_band,
        |  b.c_mktsegment, COUNT(*) AS n_rows
        |FROM finala a JOIN finalb b ON a.o_custkey = b.c_custkey
        |GROUP BY 1, 2, 3
        |ORDER BY 1, 2, 3""".stripMargin,

    // The streamed table must hold exactly the full relation — a
    // dropped or double-applied micro-batch hash-mismatches.
    "man_ingest" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // All-or-nothing multi-table publish: both KPI tables must hold
    // exactly the final aggregates — any placeholder row leaking from
    // the first (overwritten) commit, or one table left stale, breaks
    // the hash.
    "man_commit_all" ->
      """WITH cat AS (
        |  SELECT 'priority' AS kpi, CAST(o_orderpriority AS VARCHAR) AS k,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 2
        |), ord AS (
        |  SELECT 'status' AS kpi, CAST(o_orderstatus AS VARCHAR) AS k,
        |    COUNT(*) AS n,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS rev
        |  FROM orders GROUP BY 2
        |)
        |SELECT * FROM cat UNION ALL SELECT * FROM ord
        |ORDER BY kpi, k""".stripMargin,

    // Dynamic partition overwrite: only the 1-URGENT partition's rows
    // were replaced (doubled price); a stale carried partition or a
    // lost untouched row breaks the hash.
    "man_overwrite_parts" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderpriority
        |FROM orders
        |ORDER BY o_orderkey, o_totalprice, o_orderpriority""".stripMargin,

    // Bloom skipping must not change the answer: min + max key probes
    // equal plain equality reads.
    "man_bloom_point" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_orderkey = (SELECT min(o_orderkey) FROM orders)
        |   OR o_orderkey = (SELECT max(o_orderkey) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    // Range pruning must not change the answer: the pruned read equals
    // a plain BETWEEN over the whole table.
    "man_stats_prune" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'
        |ORDER BY o_orderkey""".stripMargin,

    // Planner-side file skipping must not change the answer: a plain
    // WHERE over the scan equals the same WHERE over the whole table.
    "man_scan_prune" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31'
        |  AND o_orderstatus = 'F'
        |ORDER BY o_orderkey""".stripMargin,

    // Merge-on-read upsert+delete must equal the copy-on-write result
    // row for row — same oracle as man_upsert.
    "man_upsert_mor" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |  WHERE o_orderkey % 3 != 0
        |), upd AS (
        |  SELECT o_orderkey, o_totalprice * 2 AS o_totalprice, o_orderstatus
        |  FROM orders WHERE o_orderkey % 2 = 0
        |)
        |SELECT COALESCE(u.o_orderkey, b.o_orderkey) AS o_orderkey,
        |  COALESCE(u.o_totalprice, b.o_totalprice) AS o_totalprice,
        |  COALESCE(u.o_orderstatus, b.o_orderstatus) AS o_orderstatus
        |FROM base b FULL OUTER JOIN upd u ON b.o_orderkey = u.o_orderkey
        |WHERE COALESCE(u.o_orderkey, b.o_orderkey) % 7 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // Maintenance (cluster + materialize + compact + vacuum) is
    // answer-invariant: the final read equals the base minus the
    // MoR-deleted keys.
    "man_maintain" ->
      """SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus
        |FROM orders
        |WHERE o_orderkey % 7 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // The MoR delete's change feed: exactly the masked rows, as deletes.
    "man_changes_mor" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus,
        |       'delete' AS change
        |FROM orders
        |WHERE o_orderkey % 3 != 0 AND o_orderkey % 7 = 0
        |ORDER BY o_orderkey""".stripMargin,

    // Version 1 is the unmodified create input, upsert notwithstanding.
    "man_timetravel" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey % 3 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // RESTORE to v1 makes the TIP the unmodified create input again —
    // the upsert and the keyed delete both undone.
    "man_restore" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
        |WHERE o_orderkey % 3 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // Tip after the overwrite = every order at doubled price (×2 on a
    // ≤2dp double is exact in both engines); in_v1 flags the keys the
    // create commit carried (o_orderkey % 3 = 0), read back through
    // versionAsOf = 1.
    "man_datasource" ->
      """SELECT o_orderkey, o_totalprice * 2 AS tp2, o_orderstatus,
        |       (o_orderkey % 3 = 0) AS in_v1
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    // B after the replication = A's tip: doubled-and-moved prices for
    // %10 keys, %7 keys gone, everyone else untouched. ×2 on a ≤2dp
    // double is exact in both engines.
    "man_replicate" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice * 2
        |            ELSE o_totalprice END AS o_totalprice,
        |       CASE WHEN o_orderkey % 10 = 0 THEN 'R'
        |            ELSE o_orderstatus END AS o_orderstatus
        |FROM orders
        |WHERE o_orderkey % 7 != 0
        |ORDER BY o_orderkey""".stripMargin,

    // The operation sequence is exactly the calls the builder made,
    // in commit order; none were multi-table commits.
    "man_history" ->
      """SELECT CAST(v AS BIGINT) AS version, operation,
        |       CAST(0 AS BOOLEAN) AS multi_table
        |FROM (VALUES (1, 'CREATE'), (2, 'APPEND'), (3, 'UPSERT'),
        |             (4, 'DELETE'), (5, 'RENAME_COLUMN'))
        |  AS t(v, operation)
        |ORDER BY version""".stripMargin,

    // Even keys committed BEFORE the drop keep their prices (the slot
    // never left the files); odd keys, written while the column was
    // hidden, read the re-exposed slot as NULL.
    "man_undrop" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice END AS price2,
        |       o_orderstatus
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    // RENAME is metadata-only: the tip is simply the whole table with
    // the column under its new name, whichever side of the rename each
    // row committed on.
    "man_rename" ->
      """SELECT o_orderkey, o_totalprice AS price, o_orderstatus
        |FROM orders
        |ORDER BY o_orderkey""".stripMargin,

    // Expected SCD2 history rebuilt per key class: every key has a v1
    // row (closed at 02-01 iff even); evens add a _V2 row at 02-01
    // (closed at 03-01 iff ≡0 mod 4); keys ≡0 mod 4 add the acctbal+100
    // row at 03-01. The batch-1 no-op rows (odd keys ≡1 mod 5, verbatim
    // attributes) must contribute NOTHING — an engine that wrongly
    // closes/reopens on a no-op emits extra rows and hash-mismatches.
    // +100.0 on a 2dp double is exact in both engines.
    "mrg_scd2" ->
      """WITH cust AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
        |), hist AS (
        |  SELECT c_custkey, c_mktsegment, c_acctbal,
        |    DATE '2024-01-01' AS valid_from,
        |    CASE WHEN c_custkey % 2 = 0 THEN DATE '2024-02-01' END AS valid_to
        |  FROM cust
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment || '_V2', c_acctbal,
        |    DATE '2024-02-01',
        |    CASE WHEN c_custkey % 4 = 0 THEN DATE '2024-03-01' END
        |  FROM cust WHERE c_custkey % 2 = 0
        |  UNION ALL
        |  SELECT c_custkey, c_mktsegment || '_V2', c_acctbal + 100.0,
        |    DATE '2024-03-01', NULL
        |  FROM cust WHERE c_custkey % 4 = 0
        |)
        |SELECT * FROM hist ORDER BY c_custkey, valid_from""".stripMargin,

    // Compaction is answer-invariant: the compacted table must read back
    // as exactly the uncompacted relation.
    "lay_compact" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    // Vacuum keeps exactly the non-expired partitions.
    "lay_vacuum" ->
      """SELECT o_orderkey, o_totalprice, o_orderstatus
        |FROM orders WHERE o_orderstatus != 'F'
        |ORDER BY o_orderkey""".stripMargin,

    // Same Karp–Rabin recurrence as the Catalyst RollingHash64 (h = h·B
    // + byte, wrapping at 2^64), replayed in 128-bit HUGEINT with an
    // explicit mod per step, then folded back to signed BIGINT. Valid
    // because the corpus is ASCII (ord == byte); a non-ASCII corpus
    // would need byte-level access DuckDB SQL doesn't expose.
    "txt_fingerprint_rolling" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |            THEN h - 18446744073709551616::HUGEINT ELSE h END
        |       AS BIGINT) AS fp_rolling
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN LENGTH(s) = 0 THEN 0::HUGEINT
        |         ELSE list_reduce(
        |           list_transform(range(1, LENGTH(s) + 1), i -> ord(s[i])::HUGEINT),
        |           (a, b) -> (a * 1000003::HUGEINT + b) % 18446744073709551616::HUGEINT)
        |    END AS h
        |  FROM (SELECT doc_id,
        |          LOWER(regexp_replace(TRIM(text), '\s+', ' ', 'g')) AS s
        |        FROM documents)
        |) ORDER BY doc_id""".stripMargin,

    "txt_top_shingles" ->
      """WITH sh AS (
        |  SELECT unnest(CASE WHEN LEN(toks) < 3 THEN [array_to_string(toks, ' ')]
        |       ELSE list_transform(range(1, LEN(toks) - 1),
        |                           i -> array_to_string(toks[i:i+2], ' '))
        |       END) AS shingle
        |  FROM (SELECT regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
        |        FROM documents)
        |)
        |SELECT shingle, CAST(COUNT(*) AS BIGINT) AS n_occurrences
        |FROM sh GROUP BY shingle
        |ORDER BY n_occurrences DESC, shingle LIMIT 20""".stripMargin,

    "txt_tokens_bpe" ->
      """SELECT doc_id, CAST(
        |    LEN(list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}]+'),
        |                    p -> LENGTH(p) > 0))
        |  + LENGTH(regexp_replace(text, '[\p{L}\p{N}\s]', '', 'g'))
        |  + LEN(list_filter(regexp_split_to_array(text, '[^\p{L}\p{N}]+'),
        |                    p -> LENGTH(p) > 4))
        |  AS INT) AS token_count_bpe
        |FROM documents ORDER BY doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS fp, MIN(doc_id) AS doc_id, CAST(COUNT(*) AS BIGINT) AS dup_count
        |FROM documents GROUP BY md5(text) ORDER BY MIN(doc_id)""".stripMargin,

    "agg_median" ->
      """SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS median_price,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "agg_vector_qsum" ->
      """SELECT label, CAST(i - 1 AS INT) AS pos,
        |  CAST(SUM(CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS qsum,
        |  CAST(COUNT(*) AS BIGINT) AS n_vecs
        |FROM embeddings, UNNEST(range(1, LEN(embedding) + 1)) AS t(i)
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin,

    "sim_topk_quantized" ->
      """WITH q AS (
        |  SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10
        |), s AS (
        |  SELECT q.query_id, c.vec_id AS neighbor_id,
        |    (SELECT CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE)*1000) AS BIGINT)
        |                    * CAST(FLOOR(CAST(y AS DOUBLE)*1000) AS BIGINT)) AS BIGINT)
        |     FROM (SELECT UNNEST(q.qe) AS x, UNNEST(c.embedding) AS y) z) AS dotq
        |  FROM q, embeddings c WHERE c.vec_id != q.query_id
        |), r AS (
        |  SELECT query_id, neighbor_id, dotq,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY dotq DESC, neighbor_id) AS INT) AS rnk
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, dotq, rnk FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    "mm_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS n_bytes,
        |  'fake/utf8' AS mime,
        |  CAST(doc_id % 3 AS INT) AS modality
        |FROM documents ORDER BY doc_id""".stripMargin,

    // Lehmer/minstd bucket, identical arithmetic to ops.Sampling
    // (every intermediate < 2^47, so plain BIGINT math replays it).
    "smp_hash" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |WHERE ((((o_orderkey % 2147483647) * 48271) % 2147483647) * 48271)
        |      % 2147483647 % 10000 < 1000
        |ORDER BY o_orderkey""".stripMargin,

    // Next-fit packing is a stateful scan; DuckDB replays it exactly
    // with a recursive CTE stepping one row per shard per iteration.
    // Same Lehmer shard arithmetic as smp_*, same whitespace token
    // count as txt_stats.
    "seq_pack" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    CAST(LEN(regexp_split_to_array(LOWER(TRIM(text)), '\s+')) AS INT) AS n_tok,
        |    ((((doc_id % 2147483647) * 48271) % 2147483647) * 48271)
        |      % 2147483647 % 8 AS shard
        |  FROM documents
        |), ordered AS (
        |  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |  FROM base
        |), packed AS (
        |  SELECT doc_id, n_tok, shard, rn,
        |         CAST(1 AS BIGINT) AS pack_id, CAST(n_tok AS BIGINT) AS fill
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.n_tok, o.shard, o.rn,
        |    CASE WHEN p.fill + o.n_tok > 512 THEN p.pack_id + 1 ELSE p.pack_id END,
        |    CASE WHEN p.fill + o.n_tok > 512 THEN CAST(o.n_tok AS BIGINT)
        |         ELSE p.fill + o.n_tok END
        |  FROM ordered o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT doc_id, n_tok, shard, pack_id, n_tok > 512 AS oversize
        |FROM packed ORDER BY doc_id""".stripMargin,

    "seq_pack_stats" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    CAST(LEN(regexp_split_to_array(LOWER(TRIM(text)), '\s+')) AS INT) AS n_tok,
        |    ((((doc_id % 2147483647) * 48271) % 2147483647) * 48271)
        |      % 2147483647 % 8 AS shard
        |  FROM documents
        |), ordered AS (
        |  SELECT *, row_number() OVER (PARTITION BY shard ORDER BY doc_id) AS rn
        |  FROM base
        |), packed AS (
        |  SELECT doc_id, n_tok, shard, rn,
        |         CAST(1 AS BIGINT) AS pack_id, CAST(n_tok AS BIGINT) AS fill
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.n_tok, o.shard, o.rn,
        |    CASE WHEN p.fill + o.n_tok > 512 THEN p.pack_id + 1 ELSE p.pack_id END,
        |    CASE WHEN p.fill + o.n_tok > 512 THEN CAST(o.n_tok AS BIGINT)
        |         ELSE p.fill + o.n_tok END
        |  FROM ordered o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT shard, pack_id, count(*) AS n_docs,
        |       CAST(sum(n_tok) AS BIGINT) AS pack_tokens,
        |       round(CAST(sum(n_tok) AS DOUBLE) / 512, 4) AS fill_frac
        |FROM packed GROUP BY shard, pack_id
        |ORDER BY shard, pack_id""".stripMargin,

    // Same recursive replay, longest-first (n_tok DESC, doc_id) order.
    "seq_pack_nfd" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id,
        |    CAST(LEN(regexp_split_to_array(LOWER(TRIM(text)), '\s+')) AS INT) AS n_tok,
        |    ((((doc_id % 2147483647) * 48271) % 2147483647) * 48271)
        |      % 2147483647 % 8 AS shard
        |  FROM documents
        |), ordered AS (
        |  SELECT *, row_number()
        |    OVER (PARTITION BY shard ORDER BY n_tok DESC, doc_id) AS rn
        |  FROM base
        |), packed AS (
        |  SELECT doc_id, n_tok, shard, rn,
        |         CAST(1 AS BIGINT) AS pack_id, CAST(n_tok AS BIGINT) AS fill
        |  FROM ordered WHERE rn = 1
        |  UNION ALL
        |  SELECT o.doc_id, o.n_tok, o.shard, o.rn,
        |    CASE WHEN p.fill + o.n_tok > 512 THEN p.pack_id + 1 ELSE p.pack_id END,
        |    CASE WHEN p.fill + o.n_tok > 512 THEN CAST(o.n_tok AS BIGINT)
        |         ELSE p.fill + o.n_tok END
        |  FROM ordered o JOIN packed p ON o.shard = p.shard AND o.rn = p.rn + 1
        |)
        |SELECT doc_id, n_tok, shard, pack_id
        |FROM packed ORDER BY doc_id""".stripMargin,

    "seq_chunk" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(LEN(regexp_split_to_array(LOWER(TRIM(text)), '\s+')) AS INT) AS n_tok
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, n_tok,
        |    CAST((n_tok + 31) // 32 AS INT) AS n_chunks,
        |    CAST(unnest(generate_series(0, (n_tok + 31) // 32 - 1)) AS INT) AS chunk_idx
        |  FROM t
        |)
        |SELECT doc_id, chunk_idx,
        |       CAST(least(32, n_tok - chunk_idx * 32) AS INT) AS chunk_tok,
        |       n_chunks
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,

    "seq_chunk_sliding" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |                x -> LENGTH(x) > 0) AS toks
        |  FROM documents
        |), w AS (
        |  SELECT doc_id, toks, CAST(LEN(toks) AS INT) AS n_tok,
        |    CASE WHEN LEN(toks) <= 16 THEN 1
        |         ELSE CAST((LEN(toks) - 16 + 7) // 8 AS INT) + 1 END AS n_win
        |  FROM t
        |), e AS (
        |  SELECT doc_id, toks, n_tok,
        |    CAST(unnest(generate_series(0, n_win - 1)) AS INT) AS chunk_idx
        |  FROM w
        |)
        |SELECT doc_id, chunk_idx,
        |  CAST(LEAST(16, n_tok - chunk_idx * 8) AS BIGINT) AS chunk_tok,
        |  array_to_string(toks[chunk_idx * 8 + 1 : chunk_idx * 8 + 16], ' ')
        |    AS chunk_text
        |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    "exp_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id,
        |    (((doc_id % 2147483647) * 48271 % 2147483647) * 48271)
        |      % 2147483647 AS h
        |  FROM documents
        |)
        |SELECT doc_id, CAST(h AS BIGINT) AS shuffle_key,
        |  CAST(h % 8 AS BIGINT) AS shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY h % 8 ORDER BY h, doc_id)
        |       AS BIGINT) AS pos
        |FROM k ORDER BY shard, pos""".stripMargin,

    "txt_perplexity" ->
      """WITH tf AS (
        |  SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(
        |            regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |            x -> LENGTH(x) > 0)) AS t
        |        FROM documents)
        |  GROUP BY doc_id, t
        |), v AS (
        |  SELECT token, CAST(SUM(tf) AS BIGINT) AS c
        |  FROM tf GROUP BY token HAVING SUM(tf) >= 2
        |), tot AS (
        |  SELECT CAST(SUM(tf) AS BIGINT) AS corpus_tokens FROM tf
        |), scored AS (
        |  SELECT tf.doc_id,
        |    CAST(SUM(tf.tf) AS BIGINT) AS n_tokens,
        |    CAST(SUM(CASE WHEN v.c IS NULL THEN tf.tf ELSE 0 END)
        |         AS BIGINT) AS n_oov,
        |    CAST(SUM(tf.tf * (LENGTH(printf('%b', tot.corpus_tokens))
        |        - LENGTH(printf('%b', COALESCE(v.c, 0) + 1)))) AS DOUBLE)
        |      / CAST(SUM(tf.tf) AS DOUBLE) AS bits_per_token
        |  FROM tf LEFT JOIN v USING (token) CROSS JOIN tot
        |  GROUP BY tf.doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(s.n_tokens, 0) AS BIGINT) AS n_tokens,
        |  CAST(COALESCE(s.n_oov, 0) AS BIGINT) AS n_oov,
        |  s.bits_per_token
        |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Bigram replay: adjacent-pair strings from the shared token
    // contract, pair vocab pruned at minCount=2, context counts over ALL
    // pairs, integer-bit-length conditional surprisal. substring match
    // on ' ' is exact because tokens are whitespace-split.
    "txt_perplexity_bigram" ->
      """WITH bf AS (
        |  SELECT doc_id, bg AS bigram, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_transform(range(1, LEN(toks)),
        |            i -> toks[i] || ' ' || toks[i+1])) AS bg
        |        FROM (SELECT doc_id,
        |                list_filter(
        |                  regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |                  x -> LENGTH(x) > 0) AS toks
        |              FROM documents))
        |  GROUP BY doc_id, bg
        |), v AS (
        |  SELECT bigram, CAST(SUM(tf) AS BIGINT) AS c
        |  FROM bf GROUP BY bigram HAVING SUM(tf) >= 2
        |), ctx AS (
        |  SELECT split_part(bigram, ' ', 1) AS w1,
        |    CAST(SUM(tf) AS BIGINT) AS c1
        |  FROM bf GROUP BY split_part(bigram, ' ', 1)
        |), scored AS (
        |  SELECT bf.doc_id,
        |    CAST(SUM(bf.tf) AS BIGINT) AS n_bigrams,
        |    CAST(SUM(CASE WHEN v.c IS NULL THEN bf.tf ELSE 0 END)
        |         AS BIGINT) AS n_unseen,
        |    CAST(SUM(bf.tf * (LENGTH(printf('%b', COALESCE(ctx.c1, 0) + 1))
        |        - LENGTH(printf('%b', COALESCE(v.c, 0) + 1)))) AS DOUBLE)
        |      / CAST(SUM(bf.tf) AS DOUBLE) AS bits_per_bigram
        |  FROM bf LEFT JOIN v USING (bigram)
        |    LEFT JOIN ctx ON split_part(bf.bigram, ' ', 1) = ctx.w1
        |  GROUP BY bf.doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(COALESCE(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(COALESCE(s.n_unseen, 0) AS BIGINT) AS n_unseen,
        |  s.bits_per_bigram
        |FROM documents d LEFT JOIN scored s ON d.doc_id = s.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    // Round-0 BPE pair counts: word dictionary -> chars + '</w>' ->
    // adjacent pairs weighted by word count. The pair is carried as
    // 'l r' (tokens are whitespace-split, so neither side contains a
    // space) and split back into columns.
    "bpe_pair_counts" ->
      """WITH wd AS (
        |  SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS wc
        |  FROM (SELECT unnest(list_filter(
        |          regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |          x -> LENGTH(x) > 0)) AS t
        |        FROM documents)
        |  GROUP BY t
        |), syms AS (
        |  SELECT wc,
        |    list_append(regexp_split_to_array(token, ''), '</w>') AS s
        |  FROM wd
        |), pairs AS (
        |  SELECT wc, unnest(list_transform(range(1, LEN(s)),
        |    i -> s[i] || ' ' || s[i+1])) AS p
        |  FROM syms
        |)
        |SELECT split_part(p, ' ', 1) AS l, split_part(p, ' ', 2) AS r,
        |  CAST(SUM(wc) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY 1, 2
        |ORDER BY l, r""".stripMargin,

    "txt_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(
        |            regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |            x -> LENGTH(x) > 0)) AS t
        |        FROM documents)
        |  GROUP BY doc_id, t
        |), dfx AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
        |), n AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        |), s AS (
        |  SELECT tf.doc_id, tf.token, tf.tf, dfx.df,
        |    tf.tf * CAST(LENGTH(printf('%b', n.n_docs))
        |        - LENGTH(printf('%b', dfx.df)) AS BIGINT) AS score
        |  FROM tf JOIN dfx USING (token) CROSS JOIN n
        |), r AS (
        |  SELECT doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |         ORDER BY score DESC, token ASC) AS INT) AS rank,
        |    token, tf, df, score
        |  FROM s
        |)
        |SELECT doc_id, rank, token, tf, df, score
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    "smp_stratified" ->
      """WITH h AS (
        |  SELECT *, ((((o_orderkey % 2147483647) * 48271) % 2147483647) * 48271)
        |            % 2147483647 % 10000 AS b
        |  FROM orders
        |)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM h
        |WHERE (o_orderstatus = 'F' AND b < 2000)
        |   OR (o_orderstatus = 'O' AND b < 500)
        |   OR (o_orderstatus = 'P' AND b < 5000)
        |ORDER BY o_orderkey""".stripMargin,

    "smp_split" ->
      """WITH h AS (
        |  SELECT *, ((((o_orderkey % 2147483647) * 48271) % 2147483647) * 48271)
        |            % 2147483647 % 10000 AS b
        |  FROM orders
        |)
        |SELECT CASE WHEN b < 8000 THEN 'train'
        |            WHEN b < 9000 THEN 'val' ELSE 'test' END AS split,
        |  o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
        |FROM h GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "txt_dup_ngrams" ->
      """SELECT doc_id,
        |  CAST(LEN(sh) AS INT) AS n_ngrams,
        |  CAST(LEN(list_distinct(sh)) AS INT) AS n_distinct_ngrams,
        |  CAST(LEN(sh) - LEN(list_distinct(sh)) AS DOUBLE)
        |    / CAST(GREATEST(LEN(sh), 1) AS DOUBLE) AS dup_ngram_frac
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN LEN(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, LEN(toks) - 1),
        |                             i -> array_to_string(toks[i:i+2], ' '))
        |         END AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
        |        FROM documents)
        |) ORDER BY doc_id""".stripMargin,

    // Spark regexp_replace is global by default; DuckDB needs the 'g'
    // flag. Regexes stay in the shared Java/RE2 subset.
    "txt_redact_pii" ->
      """WITH a AS (
        |  SELECT doc_id,
        |    text || ' Contact: user' || doc_id || '@example.com or +1 555 01'
        |         || doc_id || '.' AS aug
        |  FROM documents
        |), e AS (
        |  SELECT doc_id,
        |    CAST(LEN(regexp_extract_all(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |    regexp_replace(aug,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
        |  FROM a
        |)
        |SELECT doc_id, n_emails,
        |  CAST(LEN(regexp_extract_all(t1, '[0-9][0-9 ()+-]{6,}[0-9]')) AS INT) AS n_phones,
        |  regexp_replace(t1, '[0-9][0-9 ()+-]{6,}[0-9]', '<PHONE>', 'g') AS text_redacted
        |FROM e ORDER BY doc_id""".stripMargin,

    "txt_contamination" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN LEN(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, LEN(toks) - 1),
        |                             i -> array_to_string(toks[i:i+2], ' '))
        |         END) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
        |        FROM documents)
        |), b AS (
        |  SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, unnest(sh) AS shingle FROM sh
        |)
        |SELECT d.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(COUNT(b.shingle) AS BIGINT) AS n_contaminated,
        |  CAST(COUNT(b.shingle) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS contamination_frac
        |FROM d LEFT JOIN b ON d.shingle = b.shingle
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // The Bloom-pruned variant is EXACT (verify join corrects the
    // sketch's one-sided error), so its oracle is the same equi-join.
    "txt_contamination_bloom" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    list_distinct(CASE WHEN LEN(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, LEN(toks) - 1),
        |                             i -> array_to_string(toks[i:i+2], ' '))
        |         END) AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(LOWER(TRIM(text)), '\s+') AS toks
        |        FROM documents)
        |), b AS (
        |  SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 50 = 0
        |), d AS (
        |  SELECT doc_id, unnest(sh) AS shingle FROM sh
        |)
        |SELECT d.doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
        |  CAST(COUNT(b.shingle) AS BIGINT) AS n_contaminated,
        |  CAST(COUNT(b.shingle) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS contamination_frac
        |FROM d LEFT JOIN b ON d.shingle = b.shingle
        |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin,

    // Line dedup: the frequency count groups the segment TEXT here where
    // the Spark side groups its md5 — identical semantics (md5 is
    // collision-free at this scale), and the compared output columns are
    // engine-exact either way.
    "txt_line_dedup" ->
      """WITH base AS (
        |  SELECT doc_id, regexp_split_to_array(TRIM(text), '\s+') AS toks
        |  FROM documents
        |), segs AS (
        |  SELECT doc_id, i AS seg_idx,
        |    array_to_string(toks[i*3+1:i*3+3], ' ') AS seg
        |  FROM base, UNNEST(range(0, CAST(CEIL(LEN(toks) / 3.0) AS BIGINT))) AS t(i)
        |), freq AS (
        |  SELECT seg FROM segs GROUP BY seg HAVING COUNT(DISTINCT doc_id) >= 3
        |), kept AS (
        |  SELECT s.doc_id, s.seg_idx, s.seg
        |  FROM segs s LEFT JOIN freq f ON s.seg = f.seg
        |  WHERE f.seg IS NULL
        |), agg AS (
        |  SELECT doc_id, COUNT(*) AS n_kept,
        |    string_agg(seg, ' ' ORDER BY seg_idx) AS text_clean
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT b.doc_id,
        |  CAST(CEIL(LEN(b.toks) / 3.0) AS INT) AS n_segs,
        |  CAST(CEIL(LEN(b.toks) / 3.0) - COALESCE(a.n_kept, 0) AS INT) AS n_removed,
        |  COALESCE(a.text_clean, '') AS text_clean
        |FROM base b LEFT JOIN agg a ON b.doc_id = a.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // Composed curation pipeline: the per-stage oracle fragments
    // chained over the same staged survivor sets (see docCurateCtes).
    "doc_curate" ->
      s"""$docCurateCtes
        |SELECT doc_id, lang_pred, quality_score, contamination_frac,
        |  drop_stage, kept
        |FROM verdict ORDER BY doc_id""".stripMargin,

    "doc_curate_funnel" ->
      s"""$docCurateCtes
        |SELECT COALESCE(drop_stage, 'kept') AS stage,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs
        |FROM verdict GROUP BY 1 ORDER BY stage""".stripMargin,

    // Plain-SQL range join; the Spark side buckets it into an equi-join.
    // Second-resolution timestamps on both sides (epoch_ms // 1000
    // mirrors Spark's unix_timestamp truncation).
    "join_range" ->
      """SELECT e.event_id,
        |  CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_in_window,
        |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_in_window
        |FROM events e LEFT JOIN orders o
        |  ON o.o_custkey = e.user_id
        |  AND epoch_ms(CAST(o.o_orderdate AS TIMESTAMP)) // 1000
        |        >= epoch_ms(e.ts) // 1000 - 7776000
        |  AND epoch_ms(CAST(o.o_orderdate AS TIMESTAMP)) // 1000
        |        <= epoch_ms(e.ts) // 1000
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,

    // Reachability via recursive CTE over the symmetrized near-dup
    // edges; component id = min reachable node. UNION (distinct)
    // guarantees termination.
    "dedup_clusters" ->
      s"""$clusterCteSql
         |SELECT doc_id, cluster_id FROM cl ORDER BY doc_id""".stripMargin,

    "smp_split_safe" ->
      s"""$clusterCteSql,
         |b AS (
         |  SELECT doc_id, cluster_id,
         |    ((((cluster_id % 2147483647) * 48271) % 2147483647) * 48271)
         |      % 2147483647 % 10000 AS bk
         |  FROM cl
         |)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN bk < 8000 THEN 'train'
         |       WHEN bk < 9000 THEN 'valid' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    "doc_curate_best" ->
      s"""$clusterCteSql,
         |r AS (
         |  SELECT d.doc_id, cl.cluster_id, d.n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY cl.cluster_id
         |      ORDER BY d.n_chars DESC, d.doc_id ASC) AS rk
         |  FROM documents d JOIN cl USING (doc_id)
         |)
         |SELECT doc_id, cluster_id, n_chars
         |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    "idx_postings" ->
      """WITH tf AS (
        |  SELECT DISTINCT doc_id, t AS token
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(
        |            regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |            x -> LENGTH(x) > 0)) AS t
        |        FROM documents)
        |), dfx AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token
        |), n AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        |), pruned AS (
        |  SELECT dfx.token, dfx.df FROM dfx CROSS JOIN n
        |  WHERE dfx.df >= 2
        |    AND dfx.df <= CAST(FLOOR(n.n_docs * 0.8) AS BIGINT)
        |), ranked AS (
        |  SELECT token, doc_id,
        |    ROW_NUMBER() OVER (PARTITION BY token ORDER BY doc_id) AS rk
        |  FROM tf
        |)
        |SELECT p.token, p.df,
        |  array_to_string(list(r.doc_id ORDER BY r.doc_id), ',') AS postings
        |FROM pruned p JOIN ranked r USING (token)
        |WHERE r.rk <= 100
        |GROUP BY p.token, p.df ORDER BY p.token""".stripMargin,

    "idx_postings_pos" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |                x -> LENGTH(x) > 0) AS toks
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, LEN(toks) + 1),
        |      i -> struct_pack(p := i - 1, t := toks[i])),
        |      recursive := true)
        |  FROM t
        |), pd AS (
        |  SELECT t AS token, doc_id,
        |    array_to_string(list(p ORDER BY p), ',') AS positions
        |  FROM occ GROUP BY t, doc_id
        |), dfx AS (
        |  SELECT token, CAST(COUNT(*) AS BIGINT) AS df
        |  FROM pd GROUP BY token
        |), n AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
        |)
        |SELECT pd.token, pd.doc_id, dfx.df, pd.positions
        |FROM pd JOIN dfx USING (token) CROSS JOIN n
        |WHERE dfx.df >= 2
        |  AND dfx.df <= CAST(FLOOR(n.n_docs * 0.8) AS BIGINT)
        |ORDER BY pd.token, pd.doc_id""".stripMargin,

    "corpus_report" ->
      """WITH tf AS (
        |  SELECT doc_id, t AS token, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(list_filter(
        |            regexp_split_to_array(LOWER(TRIM(text)), '\s+'),
        |            x -> LENGTH(x) > 0)) AS t
        |        FROM documents)
        |  GROUP BY doc_id, t
        |), perdoc AS (
        |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS doc_tokens
        |  FROM tf GROUP BY doc_id
        |), tok AS (
        |  SELECT CAST(SUM(doc_tokens) AS BIGINT) AS n_token_instances,
        |         CAST(MAX(doc_tokens) AS BIGINT) AS max_doc_tokens,
        |         CAST(COUNT(*) AS BIGINT) AS n_token_docs
        |  FROM perdoc
        |), voc AS (
        |  SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS vocab_size FROM tf
        |), d AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |         CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
        |  FROM documents
        |)
        |SELECT d.n_docs,
        |  d.n_docs - d.n_distinct_texts AS n_exact_dups,
        |  COALESCE(tok.n_token_instances, 0) AS n_token_instances,
        |  voc.vocab_size,
        |  d.n_docs - COALESCE(tok.n_token_docs, 0) AS n_tokenless_docs,
        |  COALESCE(tok.max_doc_tokens, 0) AS max_doc_tokens,
        |  CAST(COALESCE(tok.n_token_instances, 0) AS DOUBLE) /
        |    CAST(GREATEST(COALESCE(tok.n_token_docs, 0), 1) AS DOUBLE)
        |    AS mean_doc_tokens
        |FROM d CROSS JOIN tok CROSS JOIN voc""".stripMargin,

    "win_range_frame" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY epoch_ms(CAST(o_orderdate AS TIMESTAMP)) // 1000
        |    RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "set_union_distinct" ->
      """SELECT o_custkey AS custkey FROM orders
        |UNION
        |SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
        |ORDER BY custkey""".stripMargin,

    "agg_argmax" ->
      """SELECT o_orderstatus,
        |  arg_max(o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      * 1000000000 + o_orderkey) AS max_price_order,
        |  arg_min(o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      * 1000000000 + o_orderkey) AS min_price_order
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // same replay as txt_fingerprint_rolling (the Spark side differs
    // only in going through the SQL parser)
    "sql_function_surface" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |            THEN h - 18446744073709551616::HUGEINT ELSE h END
        |       AS BIGINT) AS fp_rolling
        |FROM (
        |  SELECT doc_id,
        |    CASE WHEN LENGTH(s) = 0 THEN 0::HUGEINT
        |         ELSE list_reduce(
        |           list_transform(range(1, LENGTH(s) + 1), i -> ord(s[i])::HUGEINT),
        |           (a, b) -> (a * 1000003::HUGEINT + b) % 18446744073709551616::HUGEINT)
        |    END AS h
        |  FROM (SELECT doc_id,
        |          LOWER(regexp_replace(TRIM(text), '\s+', ' ', 'g')) AS s
        |        FROM documents)
        |) ORDER BY doc_id""".stripMargin,

    // plain group-by: the salted two-phase aggregation must be
    // result-identical to the unsalted one
    "agg_salted" ->
      """SELECT l_returnflag,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // The salted join must hash-match the plain join's aggregate.
    "join_salted" ->
      """SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "smp_mixture" ->
      """WITH h AS (
        |  SELECT CAST(doc_id % 3 AS INT) AS source,
        |    ((((doc_id % 2147483647) * 48271) % 2147483647) * 48271)
        |      % 2147483647 % 10000 AS b
        |  FROM documents
        |)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM h
        |WHERE (source = 0 AND b < 8000)
        |   OR (source = 1 AND b < 5000)
        |   OR (source = 2 AND b < 2000)
        |GROUP BY source ORDER BY source""".stripMargin,

    "smp_mixture_temp" ->
      """WITH c AS (
        |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_d
        |  FROM documents GROUP BY lang
        |), w AS (
        |  SELECT lang, n_d, CAST(FLOOR(SQRT(n_d)) AS BIGINT) AS w_d FROM c
        |), t AS (
        |  SELECT CAST(SUM(n_d) AS BIGINT) AS n_total,
        |         CAST(SUM(w_d) AS BIGINT) AS w_total
        |  FROM w
        |), q AS (
        |  SELECT w.lang, w.n_d, w.w_d,
        |    (CAST(FLOOR(0.5 * t.n_total) AS BIGINT) * w.w_d) // t.w_total
        |      AS k_quota
        |  FROM w CROSS JOIN t
        |), kept AS (
        |  SELECT d.lang FROM documents d JOIN q USING (lang)
        |  WHERE (((((d.doc_id % 2147483647) * 48271) % 2147483647) * 48271)
        |         % 2147483647 % 10000) * q.n_d < q.k_quota * 10000
        |)
        |SELECT q.lang, k.n_kept, q.n_d AS n_docs, q.k_quota AS quota
        |FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_kept
        |      FROM kept GROUP BY lang) k
        |JOIN q USING (lang) ORDER BY q.lang""".stripMargin,

    "doc_top_frac" ->
      """WITH k AS (
        |  SELECT CAST(FLOOR(0.2 * COUNT(*)) AS BIGINT) AS k FROM documents
        |), r AS (
        |  SELECT doc_id, n_chars,
        |    RANK() OVER (ORDER BY n_chars DESC) AS rk
        |  FROM documents
        |)
        |SELECT doc_id, n_chars FROM r CROSS JOIN k
        |WHERE rk <= k.k ORDER BY doc_id""".stripMargin,

    "smp_domain_cap" ->
      """WITH h AS (
        |  SELECT doc_id, lang,
        |    ((((doc_id % 2147483647) * 48271) % 2147483647) * 48271)
        |      % 2147483647 AS hk
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
        |  FROM h
        |)
        |SELECT doc_id, lang FROM r WHERE rk <= 60 ORDER BY doc_id""".stripMargin,

    "flt_predicates" ->
      """SELECT p_partkey, p_name, p_brand, p_size FROM part
        |WHERE p_name LIKE '%green%'
        |  AND p_brand IN ('Brand#11', 'Brand#22', 'Brand#33')
        |  AND p_size BETWEEN 5 AND 30
        |  AND p_type IS NOT NULL
        |ORDER BY p_partkey""".stripMargin,

    "agg_collect" ->
      """SELECT o_custkey,
        |  array_to_string(list_sort(list(o_orderstatus)), ',') AS statuses_all,
        |  array_to_string(list_sort(list(DISTINCT o_orderstatus)), ',') AS statuses_distinct,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders WHERE o_custkey < 200
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,

    "join_full_outer" ->
      """SELECT c.c_custkey, o.o_custkey, o.n_orders
        |FROM customer c
        |FULL OUTER JOIN (
        |  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |  FROM orders GROUP BY o_custkey
        |) o ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey NULLS FIRST, o.o_custkey NULLS FIRST""".stripMargin,

    "agg_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.25) AS p25,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.75) AS p75,
        |  quantile_cont(l_extendedprice, 0.9) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // dayofweek: Spark counts Sunday=1; DuckDB dayofweek counts
    // Sunday=0, so the oracle shifts by one
    "fn_datetime_suite" ->
      """SELECT o_orderkey,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS y,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS m,
        |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS dom,
        |  CAST(dayofweek(CAST(o_orderdate AS DATE)) + 1 AS INT) AS dow_sun1,
        |  CAST(weekofyear(CAST(o_orderdate AS DATE)) AS INT) AS iso_week,
        |  CAST(o_orderdate AS DATE) + 30 AS plus_30d,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "evt_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
        |  FROM events GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, s1.t1,
        |    MIN(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t1 THEN e.ts END) AS t2
        |  FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  GROUP BY e.user_id, s1.t1
        |), s3 AS (
        |  SELECT e.user_id, s2.t1, s2.t2,
        |    MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t2 THEN e.ts END) AS t3
        |  FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  GROUP BY e.user_id, s2.t1, s2.t2
        |)
        |SELECT CAST(CASE WHEN t3 IS NOT NULL THEN 3
        |            WHEN t2 IS NOT NULL THEN 2
        |            WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage,
        |  CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM s3 GROUP BY 1 ORDER BY 1""".stripMargin,

    "evt_retention" ->
      """WITH f AS (
        |  SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort
        |  FROM events GROUP BY user_id
        |)
        |SELECT f.cohort,
        |  CAST(CAST(e.ts AS DATE) - f.cohort AS INT) AS day_offset,
        |  CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "win_rank_suite" ->
      """SELECT o_orderstatus, o_orderpriority, o_orderkey,
        |  CAST(RANK() OVER w AS INT) AS rnk,
        |  CAST(DENSE_RANK() OVER w AS INT) AS drnk,
        |  PERCENT_RANK() OVER w AS prnk,
        |  CUME_DIST() OVER w AS cdist,
        |  CAST(NTILE(4) OVER (PARTITION BY o_orderstatus
        |    ORDER BY o_orderpriority, o_orderkey) AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderpriority)
        |ORDER BY o_orderstatus, o_orderpriority, o_orderkey""".stripMargin,

    "fn_string_suite" ->
      """SELECT p_partkey,
        |  UPPER(p_name) AS name_upper,
        |  substring(p_name, 1, 10) AS name_prefix,
        |  CAST(LENGTH(p_name) AS INT) AS name_len,
        |  split_part(p_name, ' ', 2) AS second_word,
        |  lpad(p_brand, 12, '*') AS brand_padded,
        |  translate(p_name, 'aeiou', 'AEIOU') AS name_devoweled,
        |  reverse(p_brand) AS brand_rev,
        |  CAST(levenshtein(p_brand, p_type) AS INT) AS brand_type_dist,
        |  CAST(instr(p_name, 'a') AS INT) AS first_a
        |FROM part ORDER BY p_partkey""".stripMargin,

    // identical double expression tree over exact decimal sums -> IEEE
    // bit-identical variance/stddev in both engines
    "agg_moments" ->
      """WITH a AS (
        |  SELECT o_orderstatus,
        |    CAST(COUNT(*) AS BIGINT) AS n_orders,
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
        |    CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(12,2))
        |                  * CAST(o_totalprice AS DECIMAL(12,2)) AS DECIMAL(38,4)))
        |         AS DOUBLE) AS sum_price_sq
        |  FROM orders GROUP BY o_orderstatus
        |)
        |SELECT o_orderstatus, n_orders, sum_price, sum_price_sq,
        |  sum_price / CAST(n_orders AS DOUBLE) AS mean_price,
        |  (CAST(n_orders AS DOUBLE) * sum_price_sq - sum_price * sum_price)
        |    / (CAST(n_orders AS DOUBLE) * (CAST(n_orders AS DOUBLE) - 1.0)) AS var_price,
        |  sqrt((CAST(n_orders AS DOUBLE) * sum_price_sq - sum_price * sum_price)
        |    / (CAST(n_orders AS DOUBLE) * (CAST(n_orders AS DOUBLE) - 1.0))) AS stddev_price
        |FROM a ORDER BY o_orderstatus""".stripMargin,

    // full two-stage replay: KR signatures (64 affine min-hashes over
    // the HUGEINT-fold shingle hashes), literal band-value self-join,
    // exact-Jaccard verify — candidates AND verify both hash-checked.
    "dedup_lsh_kr" ->
      s"""$krBandedCtes, pairs AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bstr = y.bstr AND x.doc_id < y.doc_id
        |), shd AS (
        |  SELECT doc_id, list_distinct(sh) AS sh FROM sh0
        |)
        |SELECT p.id_a, p.id_b,
        |  CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    CAST(GREATEST(LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh)), 1)
        |         AS DOUBLE) AS jaccard
        |FROM pairs p
        |JOIN shd a ON p.id_a = a.doc_id
        |JOIN shd b ON p.id_b = b.doc_id
        |WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    CAST(GREATEST(LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh)), 1)
        |         AS DOUBLE) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // Replay of the PRODUCTION dedup_minhash path: the same KR
    // signature+banding prefix, candidates from literal band-value
    // collisions, est_jaccard = fraction of agreeing signature
    // positions (SigAgreement: agree/64 in IEEE double, exact in both
    // engines), threshold 0.4.
    "dedup_minhash" ->
      s"""$krBandedCtes, cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bstr = y.bstr AND x.doc_id < y.doc_id
        |)
        |SELECT c.id_a, c.id_b,
        |  CAST(LEN(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) AS DOUBLE)
        |    / 64.0 AS est_jaccard
        |FROM cand c
        |JOIN sigs a ON c.id_a = a.doc_id
        |JOIN sigs b ON c.id_b = b.doc_id
        |WHERE CAST(LEN(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) AS DOUBLE)
        |    / 64.0 >= 0.4
        |ORDER BY id_a, id_b""".stripMargin,

    // Replay of the two-stage nearDupNgram pipeline: KR candidates at
    // est_jaccard >= 0.3, exact n-gram Jaccard verify at >= 0.5.
    "dedup_ngram_jaccard" ->
      s"""$krBandedCtes, cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bstr = y.bstr AND x.doc_id < y.doc_id
        |), est AS (
        |  SELECT c.id_a, c.id_b
        |  FROM cand c
        |  JOIN sigs a ON c.id_a = a.doc_id
        |  JOIN sigs b ON c.id_b = b.doc_id
        |  WHERE CAST(LEN(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) AS DOUBLE)
        |      / 64.0 >= 0.3
        |), shd AS (
        |  SELECT doc_id, list_distinct(sh) AS sh FROM sh0
        |)
        |SELECT p.id_a, p.id_b,
        |  CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    CAST(GREATEST(LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh)), 1)
        |         AS DOUBLE) AS jaccard
        |FROM est p
        |JOIN shd a ON p.id_a = a.doc_id
        |JOIN shd b ON p.id_b = b.doc_id
        |WHERE CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |    CAST(GREATEST(LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh)), 1)
        |         AS DOUBLE) >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    // Full replay of the PRODUCTION dedup_simhash path: KR token
    // hashes (HUGEINT fold into [0, p)), 64 affine bit votes with the
    // same (a_j, b_j) family as the MinHash oracle (bit j = strict
    // majority of bit 15 of (g·a_j + b_j) mod p), signed-64 fold of
    // the sketch, 4×16-bit banding with the bucket cap, Hamming ≤ 8
    // verify via bit_count(xor).
    "dedup_simhash" -> {
      val cs = krConstsN(64)
      val bitTerms = cs.zipWithIndex.map { case ((a, b), j) =>
        val pow = (BigInt(1) << j).toString
        s"""CASE WHEN 2 * LEN(list_filter(g, x ->
           |      (((x * ${a} + ${b}) % 2147483647) // 32768) % 2 = 1)) > LEN(g)
           |      THEN ${pow}::HUGEINT ELSE 0::HUGEINT END""".stripMargin
      }.mkString("\n        |    + ")
      s"""WITH tk AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(LOWER(TRIM(text)), '\\s+') AS toks
        |  FROM documents
        |), us AS (
        |  SELECT doc_id, list_transform(toks, s ->
        |    CASE WHEN LENGTH(s) = 0 THEN 0::HUGEINT
        |         ELSE list_reduce(
        |           list_transform(range(1, LENGTH(s) + 1), i -> ord(s[i])::HUGEINT),
        |           (a, b) -> (a * 1000003::HUGEINT + b)
        |                     % 18446744073709551616::HUGEINT) END) AS us
        |  FROM tk
        |), gs AS (
        |  SELECT doc_id, list_transform(us, u ->
        |    ((((CASE WHEN u >= 9223372036854775808::HUGEINT
        |             THEN u - 18446744073709551616::HUGEINT ELSE u END)
        |       % 2147483647) + 2147483647) % 2147483647)::BIGINT) AS g
        |  FROM us
        |), sketch AS (
        |  SELECT doc_id,
        |    $bitTerms
        |    AS su
        |  FROM gs
        |), sh AS (
        |  SELECT doc_id, su,
        |    (CASE WHEN su >= 9223372036854775808::HUGEINT
        |          THEN su - 18446744073709551616::HUGEINT ELSE su END)::BIGINT AS simhash
        |  FROM sketch
        |), banded0 AS (
        |  SELECT doc_id, simhash, b AS band,
        |    ((su // (CASE b WHEN 0 THEN 1::HUGEINT WHEN 1 THEN 65536::HUGEINT
        |             WHEN 2 THEN 4294967296::HUGEINT
        |             ELSE 281474976710656::HUGEINT END)) % 65536)::BIGINT AS bucket
        |  FROM sh, UNNEST(range(0, 4)) AS t(b)
        |), banded AS (
        |  SELECT doc_id, simhash, band, bucket FROM (
        |    SELECT doc_id, simhash, band, bucket,
        |      COUNT(*) OVER (PARTITION BY band, bucket) AS bsz
        |    FROM banded0)
        |  WHERE bsz <= ${graft.ops.Dedup.DefaultMaxBucketSize}
        |), cand AS (
        |  SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
        |    x.simhash AS sh_a, y.simhash AS sh_b
        |  FROM banded x JOIN banded y
        |    ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
        |)
        |SELECT id_a, id_b, CAST(bit_count(xor(sh_a, sh_b)) AS INT) AS hamming
        |FROM cand
        |WHERE bit_count(xor(sh_a, sh_b)) <= 8
        |ORDER BY id_a, id_b""".stripMargin
    },

    // Karp–Rabin rolling hash per TOKEN (same HUGEINT fold), then each
    // of the 16 sketch bits = strict-majority vote of that bit over the
    // token hashes.
    "dedup_simhash_sig" -> {
      val bitCols = (0 until 16).map { i =>
        s"CASE WHEN 2 * LEN(list_filter(g, x -> (x & ${1L << i}) != 0)) > LEN(g) THEN ${1L << i} ELSE 0 END"
      }.mkString("\n        |    + ")
      s"""WITH tk AS (
        |  SELECT doc_id,
        |    regexp_split_to_array(LOWER(TRIM(text)), '\\s+') AS toks
        |  FROM documents
        |), us AS (
        |  SELECT doc_id, list_transform(toks, s ->
        |    CASE WHEN LENGTH(s) = 0 THEN 0::HUGEINT
        |         ELSE list_reduce(
        |           list_transform(range(1, LENGTH(s) + 1), i -> ord(s[i])::HUGEINT),
        |           (a, b) -> (a * 1000003::HUGEINT + b)
        |                     % 18446744073709551616::HUGEINT) END) AS us
        |  FROM tk
        |), gs AS (
        |  SELECT doc_id, list_transform(us, u ->
        |    ((((CASE WHEN u >= 9223372036854775808::HUGEINT
        |             THEN u - 18446744073709551616::HUGEINT ELSE u END)
        |       % 2147483647) + 2147483647) % 2147483647)::BIGINT) AS g
        |  FROM us
        |)
        |SELECT doc_id, CAST(
        |    $bitCols
        |  AS INT) AS simhash16
        |FROM gs ORDER BY doc_id""".stripMargin
    },

    // Karp–Rabin rolling hash per shingle (HUGEINT mod-2^64 replay of
    // RollingHash64, folded to signed then into [0, p)), then the same
    // affine permutations + k-way min as the Spark side.
    "dedup_minhash_sig" -> {
      val hashCols = krConsts.zipWithIndex.map { case ((a, b), j) =>
        s"CAST(list_min(list_transform(g, x -> (x * $a + $b) % 2147483647)) AS BIGINT) AS h$j"
      }.mkString(",\n        |  ")
      s"""WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN LEN(toks) < 3 THEN [array_to_string(toks, ' ')]
        |         ELSE list_transform(range(1, LEN(toks) - 1),
        |                             i -> array_to_string(toks[i:i+2], ' '))
        |         END AS sh
        |  FROM (SELECT doc_id,
        |          regexp_split_to_array(LOWER(TRIM(text)), '\\s+') AS toks
        |        FROM documents)
        |), us AS (
        |  -- unsigned 64-bit Karp–Rabin hash per shingle (HUGEINT replay)
        |  SELECT doc_id, list_transform(sh, s ->
        |    CASE WHEN LENGTH(s) = 0 THEN 0::HUGEINT
        |         ELSE list_reduce(
        |           list_transform(range(1, LENGTH(s) + 1), i -> ord(s[i])::HUGEINT),
        |           (a, b) -> (a * 1000003::HUGEINT + b)
        |                     % 18446744073709551616::HUGEINT) END) AS us
        |  FROM sh
        |), gs AS (
        |  -- fold to signed 64-bit (Spark's long), then pmod into [0, p)
        |  SELECT doc_id, list_transform(us, u ->
        |    ((((CASE WHEN u >= 9223372036854775808::HUGEINT
        |             THEN u - 18446744073709551616::HUGEINT ELSE u END)
        |       % 2147483647) + 2147483647) % 2147483647)::BIGINT) AS g
        |  FROM us
        |)
        |SELECT doc_id,
        |  $hashCols
        |FROM gs ORDER BY doc_id""".stripMargin
    },

    // decode stub replay: the ASCII corpus makes DuckDB md5(text) hash
    // the same bytes as Spark md5(content); dims parse the same hex
    // substrings; hist_csv as in mm_features; n_frames is the constant
    // frame-sample count.
    // The oracle does NOT parse: it derives width/height straight from
    // md5 (the ground truth asImageTable encoded) and rebuilds the same
    // PNG/JPEG blob hex for the histogram. Spark's values come from
    // parsing IHDR/SOF bytes back out of the blob — a hash match means
    // the header synthesis AND the parse offsets are both byte-exact.
    "mm_extract" -> {
      val bins = "0123456789ABCDEF".map(ch =>
        s"LENGTH(hi) - LENGTH(replace(hi, '$ch', ''))").mkString(",\n        |    ")
      s"""WITH h AS (
        |  SELECT doc_id AS media_id, md5(text) AS m,
        |    OCTET_LENGTH(ENCODE(text)) AS n,
        |    hex(ENCODE(text)) AS payload_hex
        |  FROM documents
        |), dims AS (
        |  SELECT media_id, n, payload_hex,
        |    CAST(('0x' || substring(m, 1, 8))::BIGINT % 1920 + 1 AS INT) AS width,
        |    CAST(('0x' || substring(m, 9, 8))::BIGINT % 1080 + 1 AS INT) AS height
        |  FROM h
        |), blobs AS (
        |  SELECT media_id, width, height,
        |    CASE WHEN media_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        |    CAST(CASE WHEN media_id % 2 = 0
        |              THEN CASE WHEN n % 2 = 0 THEN 3 ELSE 4 END
        |              ELSE 3 END AS INT) AS channels,
        |    CASE WHEN media_id % 2 = 0
        |         THEN '89504E470D0A1A0A' || '0000000D49484452' ||
        |              printf('%08X', width) || printf('%08X', height) ||
        |              '08' || (CASE WHEN n % 2 = 0 THEN '02' ELSE '06' END) ||
        |              '000000' || '00000000' || payload_hex
        |         ELSE 'FFD8FFC0001108' ||
        |              printf('%04X', height) || printf('%04X', width) ||
        |              '03' || '011100021101031101' || payload_hex || 'FFD9'
        |         END AS full_hex
        |  FROM dims
        |), hx AS (
        |  SELECT media_id, format, width, height, channels,
        |    regexp_replace(full_hex, '(.)(.)', '\\1', 'g') AS hi,
        |    (SELECT payload_hex FROM dims dd
        |     WHERE dd.media_id = blobs.media_id) AS payload_hex
        |  FROM blobs
        |)
        |SELECT media_id, format, width, height, channels,
        |  concat_ws(',',
        |    $bins) AS hist_csv,
        |  CAST(4 AS INT) AS n_frames,
        |  md5(payload_hex) AS payload_md5
        |FROM hx ORDER BY media_id""".stripMargin
    },

    // GENUINE BMP content decode: the oracle rebuilds the padded pixel
    // array straight from the raw text (ground truth) and slices each
    // bottom-up 48-byte row window; Spark's values come from parsing
    // the little-endian BMP header back out of the synthesized blob
    // and extracting the same windows — a hash match proves container
    // synthesis, header parse, and content extraction are byte-exact.
    "mm_frames" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id,
        |    OCTET_LENGTH(ENCODE(text)) AS n,
        |    hex(ENCODE(text)) AS payload_hex
        |  FROM documents
        |), dims AS (
        |  SELECT media_id, payload_hex,
        |    GREATEST(CAST(CEIL(n / 48.0) AS BIGINT), 1) AS h
        |  FROM h
        |), px AS (
        |  SELECT media_id, CAST(h AS INT) AS n_rows,
        |    rpad(payload_hex, CAST(h * 96 AS INT), '0') AS p
        |  FROM dims
        |)
        |SELECT media_id, n_rows, CAST(t.i AS INT) AS row_idx,
        |  substring(p, (n_rows - 1 - CAST(t.i AS INT)) * 96 + 1, 96) AS row_hex
        |FROM px, UNNEST(range(0, CAST(n_rows AS BIGINT))) AS t(i)
        |ORDER BY media_id, row_idx""".stripMargin,

    // GENUINE AVI frame extraction: the oracle rebuilds each frame's
    // md5-derived dims and padded payload slice straight from the raw
    // text; Spark's values come from walking the RIFF chunk sizes and
    // parsing the extracted frames' JPEG headers.
    "mm_video" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id,
        |    OCTET_LENGTH(ENCODE(text)) AS n,
        |    hex(ENCODE(text)) AS ph
        |  FROM documents
        |), d AS (
        |  SELECT media_id, ph,
        |    GREATEST(CAST(CEIL(n / 4.0) AS BIGINT), 1) AS fs
        |  FROM h
        |), f AS (
        |  SELECT media_id, CAST(t.i AS INT) AS frame_idx,
        |    md5(ph || CAST(t.i AS VARCHAR)) AS m,
        |    rpad(substring(ph, CAST(t.i * fs * 2 + 1 AS INT),
        |                   CAST(fs * 2 AS INT)),
        |         CAST(fs * 2 AS INT), '0') AS slice
        |  FROM d, UNNEST(range(0, 4)) AS t(i)
        |)
        |SELECT media_id, frame_idx,
        |  'jpeg' AS format,
        |  CAST(('0x' || substring(m, 1, 8))::BIGINT % 1920 + 1 AS INT) AS width,
        |  CAST(('0x' || substring(m, 9, 8))::BIGINT % 1080 + 1 AS INT) AS height,
        |  CAST(3 AS INT) AS channels,
        |  md5(slice) AS slice_md5
        |FROM f ORDER BY media_id, frame_idx""".stripMargin,

    // GENUINE WAV sample decode: the oracle re-derives the padded PCM
    // data from the raw text and folds the same signed 16-bit
    // little-endian samples; Spark's values come from parsing the
    // synthesized RIFF header and data bytes back out of the blob.
    "mm_audio" ->
      """WITH h AS (
        |  SELECT doc_id AS media_id,
        |    OCTET_LENGTH(ENCODE(text)) AS n,
        |    hex(ENCODE(text)) AS ph
        |  FROM documents
        |), d AS (
        |  SELECT media_id, (n + n % 2) AS ds,
        |    rpad(ph, CAST((n + n % 2) * 2 AS INT), '0') AS px
        |  FROM h
        |), s AS (
        |  SELECT media_id, CAST(ds // 2 AS INT) AS ns,
        |    list_transform(
        |      list_transform(range(0, ds // 2), i ->
        |        ('0x' || substring(px, CAST(i * 4 + 3 AS INT), 2)
        |              || substring(px, CAST(i * 4 + 1 AS INT), 2))::BIGINT),
        |      v -> CASE WHEN v >= 32768 THEN v - 65536 ELSE v END) AS vs
        |  FROM d
        |)
        |SELECT media_id,
        |  CAST(1 AS INT) AS channels, CAST(8000 AS INT) AS sample_rate,
        |  CAST(16 AS INT) AS bps, ns AS n_samples,
        |  CAST((ns * 1000) // 8000 AS BIGINT) AS duration_ms,
        |  CAST(list_max(list_transform(vs, v -> abs(v))) AS BIGINT) AS peak_abs,
        |  CAST(list_sum(list_transform(vs, v -> v * v)) AS BIGINT) AS sum_sq
        |FROM s ORDER BY media_id""".stripMargin,

    // byte_histogram oracle: hex char at odd position i of hex(payload)
    // IS the high nibble of byte i/2 — 16 bins = exact char counts over
    // the odd-position substring, in Spark's bin order 0-9 then A-F.
    "mm_features" -> {
      val bins = "0123456789ABCDEF".map(ch =>
        s"LENGTH(hi) - LENGTH(replace(hi, '$ch', ''))").mkString(",\n        |    ")
      s"""WITH h AS (
        |  SELECT doc_id AS media_id,
        |    CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS n_bytes,
        |    CAST(doc_id % 3 AS INT) AS modality,
        |    regexp_replace(hex(ENCODE(text)), '(.)(.)', '\\1', 'g') AS hi
        |  FROM documents
        |)
        |SELECT media_id, n_bytes, modality,
        |  concat_ws(',',
        |    $bins) AS hist_csv
        |FROM h ORDER BY media_id""".stripMargin
    }
  )

  /** Headline queries for Bench.scala — the shuffling/joining/windowing
    * heavy hitters plus the training-data extensions, not the trivial
    * projections. */
  val benchQueries: Seq[String] = Seq(
    "agg_order_kpi", "agg_cat_kpi", "q_validate_all", "join_inner_eq",
    "win_topk_per_order", "evt_daily", "agg_count_distinct",
    "dedup_minhash", "dedup_simhash", "sim_topk_brute", "txt_quality",
    // round-3 continuation: the custom Catalyst operator and the
    // bucketed range join under driver-visible timing
    "join_asof_native", "join_range",
    // round-14 (VERDICT r13 #2): the manifest lake layer is most of the
    // code but was invisible to BENCH_r{N} — these three cover its write
    // (create+MoR upsert+MoR delete+read), incremental-view, and
    // planner-pruned-scan paths. The 13→16 growth is a total-comparison
    // discontinuity, recorded in BASELINE.md like the round-3 11→13 one.
    "man_upsert_mor", "man_incr_kpi", "man_scan_prune")
}
