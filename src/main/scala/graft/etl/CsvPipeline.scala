package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference service's whole main loop as ONE declarative pipeline:
  * raw vendor-invoice CSV (the reference's input headers, verbatim) →
  * rule application → per-invoice ProcessedReceipt → webhook payloads →
  * JSONL sink (stream/processor.py + stream/util.py end to end).
  *
  * This is the drop-in entry point for a reference user: point it at the
  * same CSV their service ingests and it emits the same webhook-shaped
  * payloads — except distributable, with every rule inside
  * WholeStageCodegen and ONE shuffle (the invoice grouping).
  *
  * Deviation by design: document ids are content-derived, not wall-clock
  * (processor.py:27 uses now(); a re-run partition must not change ids).
  */
object CsvPipeline {

  /** Tolerant read of a vendor CSV: PERMISSIVE, corrupt-record capture,
    * everything as strings — coercion is the rules' job, like the
    * reference's `_num`/`_text` (rules/base.py). */
  def readVendorCsv(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)
    df.filter(col("Invoice Number").isNotNull)
  }

  private def num(name: String): Column = Rules.safeNum(col(name))

  /** Invoice-level metadata getters (reference rules/invoice.py:17–67):
    * tolerant column access — an absent CSV column or a null cell yields
    * the getter's default, matching `row.get(col, default)`. (The
    * reference's `str(NaN) == 'nan'` pandas artifact is deliberately not
    * reproduced; a null cell is the default, consistent with safeNum.)
    * One output row per input row, pure map stage. */
  def invoiceMetadata(raw: DataFrame): DataFrame = {
    val cols = raw.columns.toSet
    def txt(c: String, default: String = ""): Column =
      if (cols.contains(c)) trim(coalesce(col(c), lit(default))) else lit(default)
    def n(c: String): Column =
      if (cols.contains(c)) Rules.safeNum(col(c)) else lit(0.0)
    raw.select(
      txt("Vendor Name", "Unknown Vendor").as("vendor_name"),
      txt("Retailer Name").as("retailer_name"),
      txt("Retailer VendorID").as("retailer_vendor_id"),
      txt("Vendor Store Number").as("vendor_store_number"),
      txt("Retailer Store Number").as("retailer_store_number"),
      txt("Fintech Process Date").as("fintech_process_date"),
      txt("Invoice Date").as("invoice_date"),
      txt("Invoice DueDate").as("invoice_due_date"),
      txt("Invoice Number").as("invoice_number"),
      n("Invoice Amount").as("invoice_amount"),
      n("Invoice Item Count").cast("int").as("invoice_item_count"))
  }

  /** Per-row rule application → the LineItem columns (schema.py LineItem,
    * processor.py:_create_line_item_from_row). */
  def lineItems(raw: DataFrame): DataFrame = {
    val category = Rules.categorize(col("GL Code"), col("Product Class"))
    val uom = Rules.normalizeUom(col("Unit Of Measure"))
    val packs = Rules.packsLike(col("Packs Per Case"))
    val units = Rules.packsLike(col("Units Per Pack"))
    raw.select(
      trim(coalesce(col("Invoice Number"), lit(""))).as("receipt_id"),
      trim(coalesce(col("Vendor Name"), lit("Unknown Vendor"))).as("vendor_raw"),
      trim(coalesce(col("Invoice Date"), lit(""))).as("invoice_date_raw"),
      num("Invoice Amount").as("invoice_amount"),
      trim(coalesce(col("Product Description"), lit(""))).as("name"),
      Rules.quantity(col("Quantity"), uom, category, packs, units).as("qty"),
      num("Extended Price").as("price"),
      num("Discount Adjustment Total").as("discount"),
      Rules.extractUpc(col("Pack UPC"), col("Clean UPC"), col("Case UPC")).as("upc"),
      Rules.formatSku(col("Case UPC")).as("sku"),
      trim(coalesce(col("Product Description"), lit(""))).as("text"),
      uom.as("unitOfMeasure"),
      category.as("category"),
      num("Tax Adjustment Total").as("tax"),
      Rules.notes(num("Discount Adjustment Total"), num("DepositAdjustmentTotal"),
        num("Miscellaneous Adjustment Total"), num("Delivery Adjustment Total"))
        .as("notes"),
      packs.as("packs_per_case"),
      units.as("units_per_pack"))
  }

  /** Group line items to ProcessedReceipts — one shuffle on the invoice
    * key. Deviation by design (like document ids): the reference's "first
    * row" metadata is iloc[0] — CSV physical order — which a distributed
    * read cannot preserve under resharding or file splits. The
    * deterministic analogue is arg-min by the row's FULL content tuple: a
    * pure function of the data under any partitioning, and identical to
    * the reference whenever the per-invoice metadata agrees across rows
    * (the well-formed-vendor-CSV case). Two rows with an equal content key
    * are identical rows, so every aggregated field is unambiguous. */
  private val rowContentKey = struct(
    col("name"), col("qty"), col("price"), col("discount"), col("upc"),
    col("sku"), col("unitOfMeasure"), col("category"), col("tax"),
    col("notes"), col("packs_per_case"), col("units_per_pack"),
    col("vendor_raw"), col("invoice_date_raw"), col("invoice_amount"))

  def receipts(raw: DataFrame, sourceId: String): DataFrame =
    lineItems(raw)
      .groupBy(col("receipt_id"))
      .agg(
        min_by(col("vendor_raw"), rowContentKey).as("vendor"),
        min_by(col("invoice_date_raw"), rowContentKey).as("invoice_date_raw"),
        min_by(col("invoice_amount"), rowContentKey).as("total_amount"),
        min_by(col("tax"), rowContentKey).as("sales_tax"),
        graft.operators.Olap.dsum(col("price"), 2).as("subtotal"),
        count(lit(1)).as("item_count"),
        // element order = the same content tuple (array_sort compares
        // struct fields in declaration order) — stable under any layout
        array_sort(collect_list(struct(
          col("name"), col("qty"), col("price"), col("discount"),
          col("upc"), col("sku"), col("text"), col("unitOfMeasure"),
          col("category"), col("tax"), col("notes"),
          col("packs_per_case"), col("units_per_pack")
        ))).as("line_items"))
      .withColumn("transaction_date",
        date_format(Rules.parseInvoiceDate(col("invoice_date_raw")), "yyyy-MM-dd"))
      .withColumn("document_id",
        Rules.documentId(lit(sourceId), col("receipt_id")))
      .drop("invoice_date_raw")

  /** Webhook payloads (stream/util.py:to_webhook_schema key names).
    * `gcsBucket`/`gcsPath` are the source-object provenance fields the
    * reference carries on every ProcessedReceipt (stream/schema.py:33) —
    * constants per ingested file, passed through to the payload.
    *
    * The reference's `processed_at` wall-clock provenance field
    * (stream/schema.py:22, stamped in stream/util.py:103–110) is an
    * INJECTED argument here, not a `current_timestamp()` call: pass the
    * batch's wall-clock once and every payload carries it — a drop-in
    * user keeps the field, while a replayed partition with the same
    * injected stamp emits byte-identical payloads (the determinism the
    * wall-clock call would destroy). Omitted (None) by default, and by
    * the oracle-gated A10 query. */
  def webhookPayloads(raw: DataFrame, sourceId: String,
      gcsBucket: String = "", gcsPath: String = "",
      processedAt: Option[String] = None): DataFrame = {
    val fields = Seq(
        col("receipt_id").as("receiptId"),
        col("vendor"),
        col("transaction_date").as("transactionDate"),
        col("total_amount").as("totalAmount"),
        col("sales_tax").as("salesTax"),
        col("subtotal"),
        col("item_count").as("itemCount"),
        col("document_id"),
        transform(col("line_items"), li => struct(
          li.getField("name").as("name"),
          li.getField("qty").as("qty"),
          li.getField("price").as("price"),
          li.getField("discount").as("discount"),
          li.getField("upc").as("upc"),
          li.getField("sku").as("sku"),
          li.getField("text").as("text"),
          li.getField("unitOfMeasure").as("unitOfMeasure"),
          li.getField("category").as("category"),
          li.getField("tax").as("tax"),
          li.getField("notes").as("notes"),
          li.getField("packs_per_case").as("packs_per_case"),
          li.getField("units_per_pack").as("units_per_pack")
        )).as("lineItems"),
        lit(sourceId).as("source_file"),
        lit(gcsBucket).as("gcs_bucket"),
        lit(gcsPath).as("gcs_path")) ++
      processedAt.map(ts => lit(ts).as("processed_at")).toSeq
    receipts(raw, sourceId).select(
      col("receipt_id"),
      to_json(struct(fields: _*)).as("payload"))
  }

  /** End to end: CSV in, webhook JSONL out (the batch analogue of the
    * reference POSTing each payload). */
  def run(spark: SparkSession, csvPath: String, outDir: String,
      sourceId: String, gcsBucket: String = "", gcsPath: String = "",
      processedAt: Option[String] = None): Unit =
    graft.sources.Sinks.writeJsonLines(
      webhookPayloads(readVendorCsv(spark, csvPath), sourceId,
        gcsBucket, gcsPath, processedAt), outDir)
}
