package graft.core

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, IntegerType, StringType}

import graft.{SparkEntry, SparkSpec}

/** The per-session schema memo behind every table read: a repeated read
  * runs no schema job, and a rewritten table, a flipped inference conf or
  * another session misses it.
  */
class TablesSpec extends SparkSpec {

  private def withTempDir[T](f: Path => T): T = {
    val dir = Files.createTempDirectory("graft_tables_spec_")
    try f(dir)
    finally Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
  }

  /** Writes `df` as the one parquet file `target`, replacing it. */
  private def writeFile(df: DataFrame, target: Path): Unit = withTempDir { out =>
    df.coalesce(1).write.mode("overwrite").parquet(out.resolve("t").toString)
    val part = Files.list(out.resolve("t")).iterator.asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, target, StandardCopyOption.REPLACE_EXISTING)
  }

  private def fields(s: SparkSession, path: Path): Seq[(String, Any)] =
    Tables.read(s, path.toString).schema.fields.toSeq.map(f => f.name -> f.dataType)

  test("the second read of a table in a session runs no schema job") {
    val s = spark.newSession()
    val (first, firstJobs) = countingJobs(Tables(s, Sf0001).table("region"))
    val (second, secondJobs) = countingJobs(Tables(s, Sf0001).table("region"))
    assert((firstJobs, secondJobs) == ((1L, 0L)))
    assert(second.schema == first.schema)
    assert(second.collect().toSeq == first.collect().toSeq)
  }

  test("building q27 infers each of its two tables once, and nothing the second time") {
    val s = spark.newSession()
    val q27 = SparkEntry.queries("q27_graph_traversal")
    val (_, cold) = countingJobs(q27(s, Sf0001))
    val (_, warm) = countingJobs(q27(s, Sf0001))
    assert(cold <= 2, s"a cold build of q27 ran $cold jobs")
    assert(warm == 0, s"a warm build of q27 ran $warm jobs")
  }

  test("a single-file table rewritten in place with another schema is read with its new schema") {
    import spark.implicits._
    withTempDir { dir =>
      val s = spark.newSession()
      val file = dir.resolve("t.parquet")
      writeFile(Seq(1, 2).toDF("a"), file)
      assert(fields(s, file) == Seq("a" -> IntegerType))
      writeFile(Seq((1, "x"), (2, "y"), (3, "z")).toDF("a", "b"), file)
      assert(fields(s, file) == Seq("a" -> IntegerType, "b" -> StringType))
      assert(Tables.read(s, file.toString).count() == 3)
    }
  }

  test("a directory table that gains a file is read with the new file's columns") {
    import spark.implicits._
    withTempDir { dir =>
      val s = spark.newSession()
      // merged inference reads every footer, so the gained file's columns
      // show only if the memo sees the new listing
      s.conf.set("spark.sql.parquet.mergeSchema", "true")
      val table = dir.resolve("t.parquet")
      Seq(1, 2).toDF("a").coalesce(1).write.parquet(table.toString)
      assert(fields(s, table) == Seq("a" -> IntegerType))
      Seq((3, "z")).toDF("a", "b").coalesce(1).write.mode("append").parquet(table.toString)
      assert(fields(s, table) == Seq("a" -> IntegerType, "b" -> StringType))
      assert(Tables.read(s, table.toString).count() == 3)
    }
  }

  test("flipping spark.sql.parquet.binaryAsString between two reads changes the column's type") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    withTempDir { dir =>
      val s = spark.newSession()
      // an unannotated binary column, and no Spark schema in the footer
      // (which Spark would read instead of converting the parquet types)
      val file = dir.resolve("bin.parquet")
      val schema = MessageTypeParser.parseMessageType("message t { required binary b; }")
      val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(file.toString))
        .withType(schema).build()
      try writer.write(new SimpleGroupFactory(schema).newGroup().append("b", "abc"))
      finally writer.close()
      s.conf.set("spark.sql.parquet.binaryAsString", "false")
      assert(fields(s, file) == Seq("b" -> BinaryType))
      s.conf.set("spark.sql.parquet.binaryAsString", "true")
      assert(fields(s, file) == Seq("b" -> StringType))
      assert(Tables.read(s, file.toString).collect().head.getString(0) == "abc")
      s.conf.set("spark.sql.parquet.binaryAsString", "false")
      assert(fields(s, file) == Seq("b" -> BinaryType))
    }
  }

  test("reading events between two reads of orders leaves the orders entry in place") {
    val s = spark.newSession()
    val (_, first) = countingJobs(Tables(s, Sf0001).orders)
    Tables(s, Sf0001).events
    val (_, again) = countingJobs(Tables(s, Sf0001).orders)
    assert((first, again) == ((1L, 0L)))
  }

  test("events with INT64 TIMESTAMP(NANOS) ts read as truncated microseconds, batch and stream alike") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.TimestampType
    withTempDir { dir =>
      val s = spark.newSession()
      val table = dir.resolve("events.parquet")
      Files.createDirectory(table)
      val schema = MessageTypeParser.parseMessageType(
        "message events { required int64 event_id; required int64 ts (TIMESTAMP(NANOS,true)); }")
      // sub-microsecond digits that must truncate, and a value past 2^53 ns
      val nanos = Seq(1L -> 1700000000123456999L, 2L -> 1700000000000000001L, 3L -> 999L)
      val file = new org.apache.hadoop.fs.Path(table.resolve("part-0.parquet").toString)
      val writer = ExampleParquetWriter.builder(file).withType(schema).build()
      try nanos.foreach { case (id, ts) =>
        writer.write(new SimpleGroupFactory(schema).newGroup().append("event_id", id).append("ts", ts))
      } finally writer.close()
      val want = nanos.map { case (id, ts) => (id, ts / 1000) }

      def micros(df: DataFrame): Seq[(Long, Long)] = {
        assert(df.schema("ts").dataType == TimestampType)
        df.select(col("event_id"), unix_micros(col("ts"))).collect().toSeq
          .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      }
      assert(micros(Tables(s, dir.toString).events) == want)

      val q = graft.streaming.EventStream.readEvents(s, table.toString)
        .writeStream.format("memory").queryName("graft_nanos_events").start()
      try q.processAllAvailable() finally q.stop()
      assert(micros(s.table("graft_nanos_events")) == want)
    }
  }

  test("two sessions do not share entries") {
    val (a, b) = (spark.newSession(), spark.newSession())
    val (_, firstA) = countingJobs(Tables(a, Sf0001).table("nation"))
    val (_, firstB) = countingJobs(Tables(b, Sf0001).table("nation"))
    val (_, againA) = countingJobs(Tables(a, Sf0001).table("nation"))
    assert((firstA, firstB, againA) == ((1L, 1L, 0L)))
  }
}
