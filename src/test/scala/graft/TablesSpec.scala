package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{BinaryType, StringType}
import graft.sources.Tables

class TablesSpec extends SparkSpecBase {

  test("star tables load with expected keys") {
    Tables.starTables.foreach { t =>
      // events needs the typed loader (nanosecond-timestamp normalization)
      val df = if (t == "events") Tables.events(spark, Sf0001)
               else Tables.load(spark, Sf0001, t)
      assert(df.count() > 0, s"$t must be non-empty")
    }
  }

  test("events reader normalizes nanosecond timestamps") {
    val ev = Tables.events(spark, Sf0001)
    assert(ev.schema("ts").dataType.typeName === "timestamp")
    val y = ev.selectExpr("min(year(ts))").head().getInt(0)
    assert(y === 2024)
  }

  test("csv reader honors header + escape (reference ingest options)") {
    val dir = Files.createTempDirectory("graft-csv").toFile
    val f = new java.io.File(dir, "co2.csv")
    val w = new java.io.PrintWriter(f)
    // reference dataset shape: country rows, year columns
    w.println("""Country Name,Country Code,2004,2014""")
    w.println(""""Germany, Fed.",DEU,10.5,8.9""")
    w.println("""France,FRA,6.1,5.0""")
    w.close()
    val df = Tables.csv(spark, f.getAbsolutePath, inferSchema = true)
    assert(df.columns.toSeq === Seq("Country Name", "Country Code", "2004", "2014"))
    assert(df.count() === 2)
    val de = df.filter(df("Country Code") === "DEU").head()
    assert(de.getString(0) === "Germany, Fed.")
    assert(de.getDouble(2) === 10.5)
  }

  test("csv malformed-row modes: PERMISSIVE nulls, DROPMALFORMED skips, FAILFAST throws") {
    import org.apache.spark.sql.types._
    val f = Files.createTempFile("graft-bad", ".csv")
    Files.writeString(f, "id,v\n1,1.5\nnotanint,alsobad\n3,2.5\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType), StructField("v", DoubleType)))

    val permissive = Tables.csv(spark, f.toString, Some(schema)).collect()
    assert(permissive.length === 3)
    assert(permissive.count(r => r.isNullAt(0) && r.isNullAt(1)) === 1)

    val dropped = Tables.csv(spark, f.toString, Some(schema),
      mode = "DROPMALFORMED").collect()
    assert(dropped.length === 2)

    intercept[org.apache.spark.SparkException] {
      Tables.csv(spark, f.toString, Some(schema), mode = "FAILFAST").collect()
    }
  }

  test("json-lines reader honors an explicit schema (no inference pass)") {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val f = Files.createTempFile("graft-docs", ".jsonl")
    Files.writeString(f,
      """{"id":1,"name":"alpha"}
        |{"id":2,"name":"beta"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))
    val df = Tables.jsonLines(spark, f.toString, Some(schema))
    assert(df.schema === schema)
    assert(df.as[(Long, String)].collect().toSet === Set((1L, "alpha"), (2L, "beta")))
  }

  test("jsonl malformed-line modes: PERMISSIVE quarantines the raw line, DROPMALFORMED skips, FAILFAST throws") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val f = Files.createTempFile("graft-docs-bad", ".jsonl")
    Files.writeString(f,
      """{"id":1,"name":"alpha"}
        |{"id":2,"name":"beta"
        |{"id":3,"name":"gamma"}
        |""".stripMargin) // line 2 is truncated mid-object
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType)))

    // Spark disallows corrupt-column-only projections straight off the
    // raw source (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — materialize the
    // parse once, then split good/bad
    val rows = Tables.jsonLinesRobust(spark, f.toString, schema).collect()
    val good = rows.filter(_.isNullAt(2))
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(good === Set((1L, "alpha"), (3L, "gamma")))
    // the bad line survives VERBATIM for quarantine — not silently dropped
    val bad = rows.filter(!_.isNullAt(2)).map(_.getString(2))
    assert(bad.toSeq === Seq("{\"id\":2,\"name\":\"beta\""))

    val dropped = Tables.jsonLinesRobust(spark, f.toString, schema, mode = "DROPMALFORMED")
      .select("id").as[Long].collect().toSet
    assert(dropped === Set(1L, 3L))

    val e = intercept[org.apache.spark.SparkException] {
      Tables.jsonLinesRobust(spark, f.toString, schema, mode = "FAILFAST")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("malformed") ||
      Option(e.getCause).exists(_.getMessage.toLowerCase.contains("malformed")))
  }

  test("typed Dataset loaders round-trip the same rows as the DataFrame path") {
    import spark.implicits._
    val typed = Tables.documentsTyped(spark, Sf0001)
    // typed transformations compile against the case class
    val longDocs = typed.filter(_.n_chars > 100).map(d => (d.doc_id, d.source))
    assert(longDocs.count() ===
      Tables.documents(spark, Sf0001).filter($"n_chars" > 100).count())
    val e = Tables.embeddingsTyped(spark, Sf0001).head()
    assert(e.embedding.length === 64)
  }

  /** Writes `df` as the single parquet file `<dir>/t.parquet`, replacing
    * it in place if it exists (same path, new length and mtime). */
  private def writeTable(df: DataFrame, dir: Path): Unit = {
    val tmp = Files.createTempDirectory("graft-pin-w").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dir.resolve("t.parquet"), StandardCopyOption.REPLACE_EXISTING)
  }

  test("pinned reads carry the inferred schema of every star table") {
    Tables.starTables.foreach { t =>
      assert(Tables.load(spark, Sf0001, t).schema ===
        spark.read.parquet(s"$Sf0001/$t.parquet").schema, t)
    }
  }

  test("a second load of an unchanged table runs no Spark job, in any session") {
    val dir = Files.createTempDirectory("graft-pin").toString
    spark.range(10).write.parquet(s"$dir/t.parquet")
    val (_, first) = JobCount(spark)(Tables.load(spark, dir, "t"))
    assert(first >= 1, "the first load infers the schema")
    val (again, jobs) = JobCount(spark)(Tables.load(spark, dir, "t"))
    assert(jobs === 0)
    assert(again.count() === 10)
    val fresh = spark.newSession()
    assert(JobCount(fresh)(Tables.load(fresh, dir, "t"))._2 === 0)
  }

  test("a table rewritten in place with an extra column is seen by the next load") {
    val dir = Files.createTempDirectory("graft-pin")
    writeTable(spark.range(5).toDF("id"), dir)
    assert(Tables.load(spark, dir.toString, "t").columns.toSeq === Seq("id"))
    writeTable(spark.range(5).toDF("id").withColumn("extra", lit(7L)), dir)
    val df = Tables.load(spark, dir.toString, "t")
    assert(df.columns.toSeq === Seq("id", "extra"))
    assert(df.filter(col("extra") === 7L).count() === 5)
  }

  test("flipping a schema-inference conf re-infers the schema in a new session") {
    // written without Spark's schema metadata (which Spark would read
    // back instead of converting), so binaryAsString decides the type
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    val dir = Files.createTempDirectory("graft-pin").toString
    val conf = spark.sessionState.newHadoopConf()
    val schema = org.apache.parquet.schema.MessageTypeParser
      .parseMessageType("message t { required binary b; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/t.parquet"), conf))
      .withType(schema).withConf(conf).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("b", "hi"))
    finally w.close()
    val asBinary = spark.newSession()
    asBinary.conf.set("spark.sql.parquet.binaryAsString", "false")
    assert(Tables.load(asBinary, dir, "t").schema("b").dataType === BinaryType)
    val asString = spark.newSession()
    asString.conf.set("spark.sql.parquet.binaryAsString", "true")
    val df = Tables.load(asString, dir, "t")
    assert(df.schema("b").dataType === StringType)
    assert(df.head().getString(0) === "hi")
  }

  /** Whether `df`'s physical plan has a round-robin exchange. */
  private def spreads(df: DataFrame): Boolean =
    df.queryExecution.sparkPlan.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RoundRobinPartitioning]
      case _ => false
    }

  test("footerBound: a union sums its children's bounds, and an unbounded child unbounds it") {
    val docs = Tables.documents(spark, Sf0001).select("doc_id", "text")
    val isDelta = col("doc_id") % 5 === 4
    val one = Tables.footerBound(docs.filter(isDelta)).get
    assert(Tables.footerBound(docs.filter(!isDelta).union(docs.filter(isDelta))) ===
      Some(Tables.FooterBound(2 * one.rows, 2 * one.bytes)))
    val s = spark; import s.implicits._
    val inMemory = Seq((1L, "a")).toDF("doc_id", "text")
    assert(Tables.footerBound(docs.union(inMemory)).isEmpty)
    assert(Tables.footerBound(inMemory.union(docs)).isEmpty)
  }

  test("spreadForKernel: a footer-small parquet frame comes back unchanged") {
    val docs = Tables.documents(spark, Sf0001)
    assert(Tables.footerBound(docs).exists(_.bytes <= Tables.SpreadMinBytes))
    assert(Tables.spreadForKernel(docs) eq docs)
    assert(!spreads(Tables.spreadForKernel(docs.select(col("text")))))
  }

  test("spreadForKernel: sf0.1 documents and an in-memory frame still spread") {
    val sf01 = new java.io.File(new java.io.File(Sf001).getParentFile, "sf0.1").getPath
    val docs = Tables.documents(spark, sf01)
    assert(Tables.footerBound(docs).exists(_.bytes > Tables.SpreadMinBytes))
    assert(spreads(Tables.spreadForKernel(docs)))
    val s = spark; import s.implicits._
    assert(spreads(Tables.spreadForKernel(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text"))))
  }

  test("roundRobinSpread: the ungated sites still spread a footer-small scan") {
    val docs = Tables.documents(spark, Sf0001)
    assert(spreads(Tables.roundRobinSpread(docs)))
    Seq("q_pii_luhn", "q_quality_calibration", "q_novelty").foreach { q =>
      assert(spreads(SparkEntry.queries(q)(spark, Sf0001)), q)
    }
  }

  test("the spread gate changes no row of the curation queries at sf0.001") {
    def run(q: String): (Seq[String], Boolean) = {
      graft.ops.PairFunnel.invalidateAll()
      val s = spark.newSession()
      try {
        val df = SparkEntry.queries(q)(s, Sf0001)
        (df.collect().map(_.toString).toSeq.sorted, spreads(df))
      } finally s.catalog.clearCache()
    }
    Seq("q_weak_labels", "q_component_labels", "q_dedup_keep_best").foreach { q =>
      val (gated, _) = run(q)
      val (spread, _) = Tables.spreadMinBytes.withValue(-1L)(run(q))
      assert(gated.nonEmpty)
      assert(gated === spread, q)
    }
    // the forced-off gate does reach the queries' plans
    assert(!run("q_dedup_keep_best")._2)
    assert(Tables.spreadMinBytes.withValue(-1L)(run("q_dedup_keep_best"))._2)
  }

  test("entry (flagship) returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
