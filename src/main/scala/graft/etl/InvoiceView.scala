package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Synthesizes the reference's vendor-invoice shape (stream/processor.py's
  * input CSV) deterministically from the star schema, so every business rule
  * is exercised end-to-end against the oracle — including all classifier
  * branches, UOM forms, special pack sizes, null UPCs, and malformed dates.
  *
  * The same synthesis exists as SQL (`invSql`) for the DuckDB oracle; the
  * two must stay in lockstep.
  *
  * Scale shape: lineitem is the fact; part/supplier are broadcast dim
  * joins; orders joins on the fact's natural key. Map-stage only after the
  * joins — no extra shuffles.
  */
object InvoiceView {

  // The invoice view is the engine's staging table: ~10 queries derive from
  // it, so one session computes the join once and persists it (the exact
  // analogue of the reference parsing each CSV batch once and applying all
  // rules to the in-memory frame). MEMORY_AND_DISK: spills instead of OOM.
  // Only the 14 raw join columns are cached: `inv` synthesizes the rest
  // above the cache, so each reader evaluates only the columns it selects.
  private val rawCache = new CachedView(raw _)

  /** The raw invoice rows (pre-rule application), cached per (session, sf). */
  def inv(spark: SparkSession, dir: String): DataFrame = {
    val glSel = (col("p_partkey") % 5).cast("int")
    val uomSel = ((col("l_orderkey") + col("l_linenumber")) % 8).cast("int")
    rawCache(spark, dir).select(
      col("l_orderkey").as("invoice_number"),
      col("l_linenumber").as("line_number"),
      col("s_name").as("vendor_name"),
      col("p_name").as("product_description"),
      col("p_partkey").cast("string").as("product_number"),
      when(col("p_size") % 3 === 0, "MISCELLANEOUS ITEMS").otherwise("STANDARD")
        .as("product_class"),
      col("l_quantity").as("quantity"),
      element_at(
        array(lit(0), lit(4), lit(6), lit(12), lit(24), lit(3)),
        (col("p_partkey") % 6 + 1).cast("int")
      ).as("packs_per_case"),
      (col("l_suppkey") % 4 + 1).as("units_per_pack"),
      col("l_extendedprice").as("extended_price"),
      // Adjustments derived from exact integer cents so every value has
      // ≤4 true decimal digits — no engine-dependent rounding anywhere.
      ((floor(col("l_extendedprice") * 100 + 0.5) * floor(col("l_discount") * 100 + 0.5))
        .cast("double") / 10000).as("discount_adj"),
      ((floor(col("l_extendedprice") * 100 + 0.5) * floor(col("l_tax") * 100 + 0.5))
        .cast("double") / 10000).as("tax_adj"),
      when(col("l_linenumber") % 3 === 0, 2.5).otherwise(0.0).as("deposit_adj"),
      when(col("l_partkey") % 11 === 0, 0.75).otherwise(0.0).as("misc_adj"),
      when(col("l_orderkey") % 5 === 0, 10.0).otherwise(0.0).as("delivery_adj"),
      when(col("p_partkey") % 3 === 0, (col("p_partkey") * 7919).cast("string"))
        .as("pack_upc"),
      when(col("p_partkey") % 2 === 0, (col("p_partkey") * 104729).cast("string"))
        .as("clean_upc"),
      (col("p_partkey") * 31).cast("string").as("case_upc"),
      when(col("l_orderkey") % 10 === 0, "not-a-date")
        .otherwise(date_format(col("o_orderdate"), "M/d/yyyy"))
        .as("invoice_date_str"),
      col("o_totalprice").as("invoice_amount"),
      when(glSel === 0, "GL-5010 BEER").when(glSel === 1, "GL-5020 WINE")
        .when(glSel === 2, "GL-5030 SPIRITS").when(glSel === 3, "GL-5040 NONALCOHOLIC")
        .otherwise("GL-5050 SUPPLIES").as("gl_code"),
      when(uomSel === 0, "CA").when(uomSel === 1, "BO")
        .when(uomSel === 2, "EA").when(uomSel === 3, "12 OZ")
        .when(uomSel === 4, "6 CT").when(uomSel === 5, "4 PACK")
        .when(uomSel === 6, "CASE OF 24").otherwise("").as("uom_raw"))
  }

  /** Unpersist and drop every cached frame belonging to `spark` — the
    * explicit lifecycle hook for servers that cycle many sessions. */
  def invalidate(spark: SparkSession): Unit = rawCache.invalidate(spark)

  /** The raw columns the synthesized view reads: the cached staging row. */
  private def raw(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val l = t.lineitem; val o = t.orders; val p = t.part; val s = t.supplier
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(p), l("l_partkey") === p("p_partkey"))
      .join(broadcast(s), l("l_suppkey") === s("s_suppkey"))
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "o_orderdate", "o_totalprice",
        "p_partkey", "p_size", "p_name", "s_name")
  }

  /** Invoice rows enriched with the derived rule columns. */
  def enriched(spark: SparkSession, dir: String): DataFrame = {
    val d = inv(spark, dir)
    d.withColumn("category", Rules.categorize(col("gl_code"), col("product_class")))
      .withColumn("uom", Rules.normalizeUom(col("uom_raw")))
      .withColumn("packs", Rules.packsLike(col("packs_per_case")))
      .withColumn("units", Rules.packsLike(col("units_per_pack")))
      .withColumn("qty_raw", Rules.safeNum(col("quantity")))
      .withColumn("qty_calc",
        Rules.quantity(col("quantity"), col("uom"), col("category"),
                       col("packs"), col("units")))
  }

  /** SQL twin of `inv` for the DuckDB oracle. */
  val invSql: String =
    """WITH inv AS (
      |  SELECT
      |    l.l_orderkey AS invoice_number,
      |    l.l_linenumber AS line_number,
      |    s.s_name AS vendor_name,
      |    p.p_name AS product_description,
      |    CAST(p.p_partkey AS VARCHAR) AS product_number,
      |    CASE CAST(p.p_partkey % 5 AS INT)
      |      WHEN 0 THEN 'GL-5010 BEER' WHEN 1 THEN 'GL-5020 WINE'
      |      WHEN 2 THEN 'GL-5030 SPIRITS' WHEN 3 THEN 'GL-5040 NONALCOHOLIC'
      |      ELSE 'GL-5050 SUPPLIES' END AS gl_code,
      |    CASE WHEN p.p_size % 3 = 0 THEN 'MISCELLANEOUS ITEMS' ELSE 'STANDARD' END AS product_class,
      |    CASE CAST((l.l_orderkey + l.l_linenumber) % 8 AS INT)
      |      WHEN 0 THEN 'CA' WHEN 1 THEN 'BO' WHEN 2 THEN 'EA' WHEN 3 THEN '12 OZ'
      |      WHEN 4 THEN '6 CT' WHEN 5 THEN '4 PACK' WHEN 6 THEN 'CASE OF 24'
      |      ELSE '' END AS uom_raw,
      |    l.l_quantity AS quantity,
      |    list_extract([0,4,6,12,24,3], CAST(p.p_partkey % 6 + 1 AS INT)) AS packs_per_case,
      |    (l.l_suppkey % 4) + 1 AS units_per_pack,
      |    l.l_extendedprice AS extended_price,
      |    CAST(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)
      |         * CAST(floor(l.l_discount*100 + 0.5) AS BIGINT) AS DOUBLE)/10000 AS discount_adj,
      |    CAST(CAST(floor(l.l_extendedprice*100 + 0.5) AS BIGINT)
      |         * CAST(floor(l.l_tax*100 + 0.5) AS BIGINT) AS DOUBLE)/10000 AS tax_adj,
      |    CAST(CASE WHEN l.l_linenumber % 3 = 0 THEN 2.5 ELSE 0.0 END AS DOUBLE) AS deposit_adj,
      |    CAST(CASE WHEN l.l_partkey % 11 = 0 THEN 0.75 ELSE 0.0 END AS DOUBLE) AS misc_adj,
      |    CAST(CASE WHEN l.l_orderkey % 5 = 0 THEN 10.0 ELSE 0.0 END AS DOUBLE) AS delivery_adj,
      |    CASE WHEN p.p_partkey % 3 = 0 THEN CAST(p.p_partkey * 7919 AS VARCHAR) END AS pack_upc,
      |    CASE WHEN p.p_partkey % 2 = 0 THEN CAST(p.p_partkey * 104729 AS VARCHAR) END AS clean_upc,
      |    CAST(p.p_partkey * 31 AS VARCHAR) AS case_upc,
      |    CASE WHEN l.l_orderkey % 10 = 0 THEN 'not-a-date'
      |         ELSE strftime(o.o_orderdate, '%-m/%-d/%Y') END AS invoice_date_str,
      |    o.o_totalprice AS invoice_amount
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN part p ON l.l_partkey = p.p_partkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |)""".stripMargin

  /** SQL twin of `enriched` (chained on `invSql`). */
  val enrichedSql: String = invSql +
    """, enr AS (
      |  SELECT inv.*,
      |    CASE WHEN contains(upper(trim(gl_code)), 'BEER') THEN 'BEER'
      |         WHEN contains(upper(trim(gl_code)), 'WINE') THEN 'WINE'
      |         WHEN contains(upper(trim(gl_code)), 'SPIRIT') THEN 'SPIRITS'
      |         WHEN contains(upper(trim(gl_code)), 'NONALCOHOL') THEN
      |           CASE WHEN contains(upper(trim(coalesce(product_class,''))), 'MISCELLANEOUS')
      |                THEN 'MISCELLANEOUS' ELSE 'NON-ALCOHOLIC' END
      |         ELSE 'MISCELLANEOUS' END AS category,
      |    CASE WHEN lower(trim(coalesce(uom_raw,''))) IN ('', 'nan') THEN 'unit'
      |         WHEN contains(lower(trim(uom_raw)), 'oz') THEN 'oz'
      |         WHEN contains(lower(trim(uom_raw)), 'ct') OR contains(lower(trim(uom_raw)), 'count') THEN 'ct'
      |         WHEN contains(lower(trim(uom_raw)), 'pack') THEN 'pack'
      |         WHEN lower(trim(uom_raw)) = 'ca' OR contains(lower(trim(uom_raw)), 'case') THEN 'case'
      |         WHEN lower(trim(uom_raw)) = 'bo' OR contains(lower(trim(uom_raw)), 'bottle') THEN 'bottle'
      |         WHEN lower(trim(uom_raw)) = 'ea' OR contains(lower(trim(uom_raw)), 'each') THEN 'each'
      |         ELSE 'unit' END AS uom,
      |    CASE WHEN coalesce(try_cast(packs_per_case AS DOUBLE), 1) = 0 THEN 1
      |         ELSE CAST(floor(coalesce(try_cast(packs_per_case AS DOUBLE), 1)) AS BIGINT) END AS packs,
      |    CASE WHEN coalesce(try_cast(units_per_pack AS DOUBLE), 1) = 0 THEN 1
      |         ELSE CAST(floor(coalesce(try_cast(units_per_pack AS DOUBLE), 1)) AS BIGINT) END AS units,
      |    coalesce(try_cast(quantity AS DOUBLE), 0) AS qty_raw
      |  FROM inv
      |), enr2 AS (
      |  SELECT enr.*,
      |    CAST(CASE WHEN uom = 'bottle' THEN floor(qty_raw)
      |         WHEN category = 'BEER' AND packs IN (4,6,12,24) THEN floor(qty_raw * packs * units)
      |         WHEN category = 'BEER' THEN floor(qty_raw * packs)
      |         WHEN category = 'WINE' THEN floor(qty_raw * packs * units)
      |         ELSE floor(qty_raw * packs) END AS BIGINT) AS qty_calc
      |  FROM enr
      |)""".stripMargin
}
