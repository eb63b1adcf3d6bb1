package graft.etl

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.types._

class InvoiceViewSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  test("the cached staging row holds only the raw join columns") {
    val cached = InvoiceView.inv(spark, sfDir).queryExecution.withCachedData
      .collect { case r: InMemoryRelation => r.output.map(_.name) }
    assert(cached === Seq(Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax", "o_orderdate",
      "o_totalprice", "p_partkey", "p_size", "p_name", "s_name")))
  }

  test("inv projects the 22 invoice columns in order, with their types") {
    val got = InvoiceView.inv(spark, sfDir).schema.fields.map(f => f.name -> f.dataType).toSeq
    assert(got === Seq(
      "invoice_number" -> LongType, "line_number" -> IntegerType,
      "vendor_name" -> StringType, "product_description" -> StringType,
      "product_number" -> StringType, "product_class" -> StringType,
      "quantity" -> DoubleType, "packs_per_case" -> IntegerType,
      "units_per_pack" -> LongType, "extended_price" -> DoubleType,
      "discount_adj" -> DoubleType, "tax_adj" -> DoubleType,
      "deposit_adj" -> DoubleType, "misc_adj" -> DoubleType,
      "delivery_adj" -> DoubleType, "pack_upc" -> StringType,
      "clean_upc" -> StringType, "case_upc" -> StringType,
      "invoice_date_str" -> StringType, "invoice_amount" -> DoubleType,
      "gl_code" -> StringType, "uom_raw" -> StringType))
  }

  test("etl_uom scans only the cached columns uom_raw derives from") {
    val plan = SparkEntry.queries("etl_uom")(spark, sfDir).queryExecution.executedPlan
    val scans = collect(plan) { case s: InMemoryTableScanExec => s.attributes.map(_.name).toSet }
    assert(scans.nonEmpty)
    assert(scans.forall(_ == Set("l_orderkey", "l_linenumber")), scans)
  }
}
