package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.engine._
import graft.sources.JsonCsvSources

/** Source/sink round-trips (the reference's JSON formats), SQL function
  * registration, ScalarOps folds, and model introspection.
  */
class SourcesExtensionsSpec extends SparkSpec {

  test("JSONL round-trip preserves the customer table") {
    val out = suiteTempDir("jsonl")
    val src = Tables.customer(spark, sf)
    JsonCsvSources.writeJsonl(src, out)
    val back = JsonCsvSources.readJsonl(spark, out)
      .select(src.columns.map(col).toIndexedSeq: _*)
    assert(back.count() === src.count())
    assert(back.except(src.select(src.columns.map(col).toIndexedSeq: _*))
      .count() === 0)
  }

  test("XML round-trip preserves the customer table (Spark 4 native XML)") {
    val out = suiteTempDir("xml-rt")
    val src = Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    JsonCsvSources.writeXml(src, out)
    // schema'd read — no inference pass; same columns, same values
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("c_custkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c_nationkey",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("c_acctbal",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("c_mktsegment",
        org.apache.spark.sql.types.StringType)))
    val back = JsonCsvSources.readXml(spark, out, Some(schema))
      .select(src.columns.map(col).toIndexedSeq: _*)
    assert(back.count() === src.count())
    assert(back.except(src).count() === 0)
  }

  test("multiline JSON array file loads with inferred schema (S1)") {
    val dir = suiteTempDir("mljson")
    val rows = Tables.nation(spark, sf).collect().map(r =>
      s"""{"n_nationkey": ${r.getInt(0)}, "n_name": "${r.getString(1)}", "n_regionkey": ${r.getInt(2)}}""")
    Files.writeString(java.nio.file.Paths.get(s"$dir/nation.json"),
      rows.mkString("[\n", ",\n", "\n]"))
    val df = JsonCsvSources.readMultilineJson(spark, s"$dir/nation.json")
    assert(df.count() === 25)
    assert(df.columns.sorted.toSeq ===
      Seq("n_name", "n_nationkey", "n_regionkey"))
  }

  test("multiline JSON ARRAY writer round-trips through the S1 reader") {
    val out = suiteTempDir("mljson-rt")
    val src = Tables.nation(spark, sf)
    JsonCsvSources.writeMultilineJson(src, out)
    // the sink emits ONE file holding one JSON array (plus _SUCCESS)
    val files = new java.io.File(out).listFiles
      .filter(_.getName.endsWith(".txt"))
    assert(files.length === 1, "multiline sink must be single-file")
    val back = JsonCsvSources.readMultilineJson(spark, out)
      .select(src.columns.map(col).toIndexedSeq: _*)
    assert(back.count() === src.count())
    assert(back.except(src).count() === 0)
  }

  test("CSV round-trip with header and inferred schema") {
    val out = suiteTempDir("csv")
    val src = Tables.region(spark, sf)
    JsonCsvSources.writeCsv(src, out)
    val back = JsonCsvSources.readCsv(spark, out)
    assert(back.count() === src.count())
    assert(back.columns.sorted.toSeq === src.columns.sorted.toSeq)
  }

  test("ORC round-trip preserves rows, schema, and exact values") {
    val out = suiteTempDir("orc")
    val src = Tables.nation(spark, sf)
    JsonCsvSources.writeOrc(src, out)
    val back = JsonCsvSources.readOrc(spark, out)
    assert(back.count() === src.count())
    assert(back.schema === src.schema)
    assert(back.exceptAll(src).count() === 0)
  }

  test("Avro round-trip preserves rows, schema, and exact values") {
    val out = suiteTempDir("avro")
    val src = Tables.nation(spark, sf)
    JsonCsvSources.writeAvro(src, out)
    val back = JsonCsvSources.readAvro(spark, out)
    assert(back.count() === src.count())
    assert(back.schema === src.schema)
    assert(back.exceptAll(src).count() === 0)
  }

  test("ingest report rows each equal their standalone query") {
    val report = SourceQueries.ingestReport(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // mouths vs the standalone quarantine checksums
    for ((item, q) <- Seq(
        "events_xml" -> SourceQueries.queries("q_xml_quarantine"),
        "events_jsonl" -> SourceQueries.queries("q_jsonl_quarantine"),
        "events_csv" -> SourceQueries.queries("q_csv_quarantine"))) {
      val rows = q(spark, sf).collect()
      val bad = rows.filter(_.getString(0) == "__quarantined")
        .map(_.getLong(1)).sum
      val total = rows.map(_.getLong(1)).sum
      assert(report(("mouth", item)) === ((total, bad, bad == 0L)), item)
    }
    // contract rows verbatim
    SourceQueries.queries("q_data_contract")(spark, sf).collect()
      .foreach { r =>
        assert(report(("contract", r.getString(0))) ===
          ((r.getLong(1), r.getLong(2), r.getBoolean(3))), r.getString(0))
      }
    // store row vs the standalone schema-evolution rollup
    val evo = SourceQueries.queries("q_schema_evolution")(spark, sf)
      .agg(sum("n_docs"), sum("n_langful")).head()
    val (nd, nl) = (evo.getLong(0), evo.getLong(1))
    assert(report(("store", "documents_pre_lang")) ===
      ((nd, nd - nl, nd == nl)))
  }

  test("partitioned parquet sink lays out partition directories") {
    val out = suiteTempDir("part")
    JsonCsvSources.writeParquetPartitioned(
      Tables.customer(spark, sf), out, "c_mktsegment")
    val segDirs = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("c_mktsegment="))
    assert(segDirs.length >= 3)
    // partition pruning: reading one segment touches only that directory
    val one = spark.read.parquet(out)
      .filter(col("c_mktsegment") === "FURNITURE")
    val all = Tables.customer(spark, sf)
      .filter(col("c_mktsegment") === "FURNITURE")
    assert(one.count() === all.count())
  }

  test("schema evolution: mergeSchema unions columns across parquet parts") {
    val dir = suiteTempDir("evolve")
    Tables.region(spark, sf).write.parquet(s"$dir/p=1")
    Tables.region(spark, sf)
      .withColumn("r_comment", concat(lit("c"), col("r_regionkey")))
      .write.parquet(s"$dir/p=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq ===
      Seq("p", "r_comment", "r_name", "r_regionkey"))
    assert(merged.count() === 10)
    // rows from the old-schema part carry null for the new column
    assert(merged.filter(col("p") === 1 && col("r_comment").isNull)
      .count() === 5)
  }

  test("corrupt JSONL records quarantine in PERMISSIVE, raise in FAILFAST") {
    val dir = suiteTempDir("corrupt")
    Files.writeString(java.nio.file.Paths.get(s"$dir/data.json"),
      "{\"a\": 1, \"b\": \"x\"}\n{not json at all\n{\"a\": 2, \"b\": \"y\"}")
    // cache required: Spark disallows queries touching only the corrupt
    // column on the raw file scan
    val df = spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema("a LONG, b STRING, _corrupt STRING")
      .json(dir).cache()
    assert(df.count() === 3)
    assert(df.filter(col("_corrupt").isNotNull).count() === 1)
    assert(df.filter(col("a").isNotNull).count() === 2)
    intercept[Exception] {
      spark.read.option("mode", "FAILFAST")
        .schema("a LONG, b STRING").json(dir).collect()
    }
  }

  test("XML quarantine: planted malformed rows counted, clean checksum unpolluted") {
    import graft.engine.SourceQueries
    val rows = SourceQueries.xmlQuarantine(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    // every planted row quarantined, none silently dropped or parsed
    assert(rows("__quarantined").getLong(1) ===
      SourceQueries.XmlMalformedRows.size.toLong)
    assert(rows("__quarantined").getLong(2) === 0L, "no users from garbage")
    assert(rows("__quarantined").isNullAt(3) && rows("__quarantined").isNullAt(4))
    // the clean groups equal the UNPOLLUTED round-trip's checksum —
    // quarantine is exact, bidirectionally (nothing leaks in or out)
    val cleanRt = SourceQueries.xmlRoundtrip(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val cleanQ = rows.view.filterKeys(_ != "__quarantined").values
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(cleanQ === cleanRt)
  }

  test("JSONL quarantine: planted malformed lines counted, clean checksum unpolluted") {
    import graft.engine.SourceQueries
    val rows = SourceQueries.jsonlQuarantine(spark, sf).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(rows("__quarantined").getLong(1) ===
      SourceQueries.JsonlMalformedRows.size.toLong)
    assert(rows("__quarantined").getLong(2) === 0L)
    val cleanRt = SourceQueries.jsonlRoundtrip(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val cleanQ = rows.view.filterKeys(_ != "__quarantined").values
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(cleanQ === cleanRt)
  }

  test("text-lines sink round-trips documents row for row") {
    val out = suiteTempDir("textlines")
    val src = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "text")
    src.select(concat_ws("\t", col("doc_id"), col("lang"), col("source"),
        col("text")).as("value"))
      .write.mode("overwrite").text(out)
    val back = spark.read.text(out)
      .select(split(col("value"), "\t", 4).as("f"))
      .select(col("f")(0).cast("long").as("doc_id"),
        col("f")(1).as("lang"), col("f")(2).as("source"),
        col("f")(3).as("text"))
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
  }

  test("compaction collapses the file count and preserves every value") {
    val frag = suiteTempDir("frag")
    val compacted = suiteTempDir("compact")
    val got = SourceQueries.compactInto(spark, sf, frag, compacted)
    def parquetFiles(d: String): Int = Option(new java.io.File(d).listFiles)
      .getOrElse(Array.empty).count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(frag) === SourceQueries.FragFiles)
    assert(parquetFiles(compacted) < SourceQueries.FragFiles)
    // the rewrite loses nothing: compacted rows == source rows exactly
    val src = Tables.events(spark, sf)
      .select("event_id", "user_id", "event_type", "value")
    val back = spark.read.parquet(compacted)
      .select("event_id", "user_id", "event_type", "value")
    assert(back.exceptAll(src).count() === 0)
    assert(src.exceptAll(back).count() === 0)
    assert(got.count() > 0)
    // the repack is narrow: Coalesce, no Exchange anywhere in the plan
    val plan = spark.read.parquet(frag).coalesce(2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Coalesce"))
    assert(!plan.contains("Exchange"))
  }

  test("SQL entry: registered views serve raw spark.sql text") {
    val out = SqlEntry.sqlQ1(spark, sf)
    assert(out.count() > 0)
    assert(out.columns.contains("sum_charge"))
    val q3 = SqlEntry.sqlQ3(spark, sf)
    assert(q3.count() <= 20)
  }

  test("registered SQL functions evaluate through spark.sql") {
    GraftExtensions.register(spark)
    val cos = spark.sql(
      """SELECT cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |                  array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))"""
        .stripMargin).collect()(0).getDouble(0)
    assert(math.abs(cos - 1.0) < 1e-12)
    val sigs = spark.sql(
      "SELECT lsh_signatures(transform(sequence(1, 64), x -> CAST(x AS FLOAT)))")
      .collect()(0).getSeq[Int](0)
    assert(sigs.length === engine.Similarity.NTables)
  }

  test("kmv_sketch UDAF: SQL-surface sketches match the Aggregator path") {
    GraftExtensions.register(spark)
    Tables.documents(spark, sf).createOrReplaceTempView("docs_kmv_sql")
    val viaSql = spark.sql(
      s"""SELECT source, kmv_sketch(
         |    utf8_poly_id(term, ${engine.Dedup.IdMod}L)) AS sketch
         |FROM (SELECT source, explode(split(text, ' ')) AS term
         |      FROM docs_kmv_sql)
         |GROUP BY source""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    // the Dataset-API query carries the same buffers (via size and the
    // k-th order statistic the estimator reads); compare buffer heads
    // through the query's own n_sketch column and re-derive the full
    // buffer with the typed Aggregator for an exact match
    import spark.implicits._
    val kmv = new graft.functions.KmvSketch(engine.Ext.KmvK).toColumn
    val viaDs = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .select(col("source"),
        graft.functions.StringFunctions.utf8_poly_id(
          col("term"), engine.Dedup.IdMod).as("hv"))
      .as[(String, Long)].groupByKey(_._1).mapValues(_._2)
      .agg(kmv.name("sketch")).collect().toMap
    assert(viaSql.keySet === viaDs.keySet)
    viaSql.foreach { case (src, buf) =>
      assert(buf === viaDs(src), s"buffer mismatch for $src")
    }
  }

  test("kmv_sketch UDAF ignores NULL inputs like every native aggregate") {
    GraftExtensions.register(spark)
    // planted nulls interleaved with live values: the SQL surface's
    // natural input (utf8_poly_id of a nullable string) null-propagates,
    // and the sketch must skip those rows, not fail at encode time
    val sk = spark.sql(
      """SELECT kmv_sketch(v) AS sketch FROM (
        |  SELECT CAST(NULL AS BIGINT) AS v UNION ALL SELECT 7L
        |  UNION ALL SELECT CAST(NULL AS BIGINT) UNION ALL SELECT 3L
        |  UNION ALL SELECT 7L)""".stripMargin)
      .collect().head.getSeq[Long](0)
    assert(sk === Seq(3L, 7L))
    // all-null group: the sketch is the empty buffer, not a failure
    val empty = spark.sql(
      "SELECT kmv_sketch(CAST(NULL AS BIGINT)) AS s FROM range(5)")
      .collect().head.getSeq[Long](0)
    assert(empty.isEmpty)
  }

  test("dataset manifest: layout-invariant and tamper-evident") {
    import org.apache.spark.sql.functions._
    val m = engine.SourceQueries.datasetManifest(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(m.nonEmpty)
    // the fingerprint is a pure function of content: recompute from the
    // ORIGINAL table under a scrambled partitioning — must be identical
    def fp(df: org.apache.spark.sql.DataFrame): Map[String, Long] = df
      .select(col("lang"),
        graft.functions.StringFunctions.utf8_poly_id(
          concat(col("doc_id").cast("string"), lit(":"), col("text")),
          engine.Dedup.IdMod).as("hv"))
      .groupBy("lang")
      .agg((sum(col("hv").cast("decimal(38,0)")) % engine.Dedup.IdMod)
        .cast("long").as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val docs = engine.Tables.documents(spark, sf)
    assert(fp(docs.repartition(13, col("doc_id"))) === m,
      "order/layout must not change the fingerprint")
    // tamper evidence: one flipped character in one document moves the
    // partition's fingerprint
    val tampered = docs.withColumn("text",
      when(col("doc_id") === 0L, concat(col("text"), lit("x")))
        .otherwise(col("text")))
    val lang0 = docs.filter(col("doc_id") === 0L)
      .select("lang").collect().head.getString(0)
    val tm = fp(tampered)
    assert(tm(lang0) !== m(lang0), "tampering must change the manifest")
    assert((tm - lang0) === (m - lang0), "other partitions unaffected")
  }

  test("extensions class applies cleanly to a session builder") {
    val e = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(e) // must not throw; functions injected
  }

  test("bulk rename: dotted names to underscores in one toDF (P2)") {
    val df = Tables.region(spark, sf).toDF("r.regionkey", "r.name")
    val renamed = df.toDF(
      df.columns.map(_.replace(".", "_")).toIndexedSeq: _*)
    assert(renamed.columns.toSeq === Seq("r_regionkey", "r_name"))
    assert(renamed.count() === 5)
  }

  test("recodeBooleans folds N columns in one pass with quirk semantics") {
    import spark.implicits._
    val df = Seq(("True", "False"), ("False", "x"), ("y", "True"))
      .toDF("a", "b")
    val out = ScalarOps.recodeBooleans(df, Seq("a", "b")).collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(out.toSet === Set(("1", "0"), ("0", "Missing"), ("Missing", "1")))
  }

  test("missingToZero recodes only the targeted columns") {
    import spark.implicits._
    val df = Seq(("Missing", "Missing")).toDF("a", "b")
    val out = ScalarOps.missingToZero(df, Seq("a")).collect()(0)
    assert(out.getString(0) === "0" && out.getString(1) === "Missing")
  }

  test("z-order layout: files are tight boxes in BOTH dims vs round-robin") {
    // tile aggregation covers every order exactly once, inside 64 tiles
    val tiles = SourceQueries.zorderLayout(spark, sf).collect()
    assert(tiles.map(_.getLong(1)).sum === Tables.orders(spark, sf).count())
    assert(tiles.forall(r => r.getLong(0) >= 0 && r.getLong(0) < 64))

    // per-FILE bounding boxes: the pruning claim. Average normalized
    // box area of the z-sorted layout must be far below the round-robin
    // control's (which spreads every file across both full ranges).
    def avgArea(dir: String): Double = {
      val files = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet")).map(_.toString)
      assert(files.length > 1, s"expected multiple files in $dir")
      val spans = files.map { f =>
        val r = spark.read.parquet(f)
          .agg(min(col("o_custkey")), max(col("o_custkey")),
            min(col("day")), max(col("day"))).collect()(0)
        (r.getLong(1) - r.getLong(0)).toDouble *
          (r.getLong(3) - r.getLong(2))
      }
      spans.sum / spans.length
    }
    val zDir = suiteTempDir("zorder-files")
    SourceQueries.writeZOrdered(spark, sf, zDir)
    val ctlDir = suiteTempDir("zorder-ctl")
    SourceQueries.zValues(spark, sf).repartition(SourceQueries.ZFiles)
      .write.mode("overwrite").parquet(ctlDir)
    val (zArea, ctlArea) = (avgArea(zDir), avgArea(ctlDir))
    assert(zArea < 0.5 * ctlArea,
      s"z-order layout not tighter: z=$zArea vs control=$ctlArea")
  }

  test("schema evolution: merged read spans both generations losslessly") {
    val got = SourceQueries.schemaEvolution(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "source", "n_chars", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getString(3)))
    val expected = docs.groupBy(_._2).map { case (src, rows) =>
      // doc_id % 3 == 0 rows were written under the pre-lang schema
      val langful = rows.count(r => r._1 % 3 != 0 && r._4 != null)
      src -> ((rows.size.toLong, langful.toLong, 2L,
        rows.map(_._3).sum))
    }
    assert(got === expected)
    // the added column is genuinely absent in gen-1 rows
    assert(got.values.forall { case (n, langful, gens, _) =>
      langful < n && gens == 2L })
  }

  test("model introspection yields coefficients, intercept, importances") {
    val d = MlSuite.describeModel(spark, sf).collect()
    val models = d.map(_.getString(0)).toSet
    assert(models === Set("lr_coefficient", "lr_intercept", "rf_importance"))
    assert(d.exists(r => r.getString(0) == "lr_intercept" &&
      r.getString(2) == "(intercept)"))
    val importances = d.filter(_.getString(0) == "rf_importance")
    assert(importances.nonEmpty)
    // terms resolve to real feature names from the vector metadata, not
    // all positional fallbacks
    assert(importances.exists(r => !r.getString(2).matches("f\\d+")))
    // importances form a probability simplex
    val total = importances.map(_.getDouble(3)).sum
    assert(math.abs(total - 1.0) < 1e-3)
  }

  test("data contract: each planted row trips exactly its constraint;" +
      " the fixture corpus alone is contract-clean") {
    val rows = SourceQueries.dataContract(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
        r.getBoolean(3)))).toMap
    val n = Tables.documents(spark, sf).count() + 5
    rows.values.foreach { case (checked, _, _) => assert(checked === n) }
    assert(rows("doc_id_not_null") === ((n, 0L, true)))
    // BOTH instances of the duplicated id are violations
    assert(rows("doc_id_unique") === ((n, 2L, false)))
    assert(rows("text_not_null") === ((n, 1L, false)))
    assert(rows("lang_in_enum") === ((n, 1L, false)))
    assert(rows("n_chars_consistent") === ((n, 1L, false)))
    // the violation totals are EXACTLY the planted ones — i.e. the raw
    // corpus satisfies the declared contract
    assert(rows.values.map(_._2).sum === 5L)
  }
}
