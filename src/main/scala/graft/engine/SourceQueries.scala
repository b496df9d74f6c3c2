package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.JsonCsvSources

/** Driver-visible exercise of the non-parquet source/sink surface
  * (SURVEY.md §2.1 S1/S2/S8): the reference loads EVERY table from JSON
  * (`Databricks Notebook.py:34, 48`), so "same capabilities" requires the
  * JSON/CSV readers and writers to be gate-checked, not just unit-tested.
  *
  * Shape: write a projection of the events fixture through the sink, read
  * it back through the reader WITH AN EXPLICIT SCHEMA (no inference job —
  * the 100 TB discipline), aggregate. The oracle runs the same aggregate
  * over the original parquet, so the gate proves the round-trip is
  * value-exact: doubles survive because both sinks emit the shortest
  * round-trip decimal representation, which parses back bit-identical.
  *
  * The sums are routed through exact decimal and rendered as rounded
  * doubles like every other money output (see [[Ext.eventWindow]]).
  */
object SourceQueries {
  type Q = (SparkSession, String) => DataFrame

  private val eventsLite = StructType(Seq(
    StructField("event_id", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  /** The quarantine reads' schema: the events projection plus the
    * corrupt-record column.
    */
  private val withCorrupt = StructType(
    eventsLite.fields :+ StructField("_corrupt_record", StringType))

  private def eventsProjection(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select("event_id", "user_id", "event_type", "value")

  /** Aggregate whose value depends on every round-tripped cell: counts,
    * distinct keys, an exact decimal sum, and the id range.
    */
  private def checksum(df: DataFrame): DataFrame =
    df.groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value").cast("decimal(12,2)")).cast("double"), 2)
          .as("sum_value"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))

  private val checksumSql =
    """SELECT event_type, count(*) AS n,
      |  count(DISTINCT user_id) AS n_users,
      |  round(CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE), 2)
      |    AS sum_value,
      |  min(event_id) AS min_id, max(event_id) AS max_id
      |FROM events GROUP BY event_type""".stripMargin

  /** S2+S8: events → JSONL sink → schema'd JSONL scan → aggregate. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-jsonl")
    JsonCsvSources.writeJsonl(eventsProjection(spark, dir), tmp)
    checksum(JsonCsvSources.readJsonl(spark, tmp, Some(eventsLite)))
  }

  /** CSV twin of [[jsonlRoundtrip]] (S8 CSV writer + schema'd CSV scan). */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-csv")
    JsonCsvSources.writeCsv(eventsProjection(spark, dir), tmp)
    checksum(JsonCsvSources.readCsv(spark, tmp, Some(eventsLite)))
  }

  /** XML twin of [[jsonlRoundtrip]] (S8 surface widened): events → XML
    * sink (one `<row>` element per record) → schema'd XML scan →
    * aggregate. XML is what legacy feeds and the big public document
    * dumps (Wikipedia, PubMed) ship in, so an ingest engine needs the
    * scan gate-checked; Spark 4's native XML source in default
    * (non-multiline) mode splits files on `rowTag` boundaries, so the
    * read parallelizes like JSONL — the scan stays scalable even for
    * few-large-file dumps. Explicit schema on the read side (XML
    * inference samples the FULL input — a whole extra pass at 100 TB).
    */
  def xmlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-xml")
    JsonCsvSources.writeXml(eventsProjection(spark, dir), tmp)
    checksum(JsonCsvSources.readXml(spark, tmp, Some(eventsLite)))
  }

  /** Planted malformed `<row>` elements for [[xmlQuarantine]] — the
    * crawl-reality cases a real XML feed ships: type garbage in a typed
    * field, a truncated element, and an empty row. Deterministic
    * literals, mirrored into the oracle count from the same constant.
    */
  private[graft] val XmlMalformedRows: Seq[String] = Seq(
    // every planted row breaks a LONG field: integer parse failures
    // reliably set the corrupt column (the XML parser coerces some
    // malformed floats leniently, so a bad `value` alone is not a
    // deterministic quarantine trigger across parser versions)
    "<row><event_id>not_a_number</event_id><user_id>1</user_id>" +
      "<event_type>click</event_type><value>1.0</value></row>",
    "<row><event_id>9.9.9</event_id><user_id>7</user_id>" +
      "<event_type>view</event_type><value>2.0</value></row>",
    "<row><event_id>99</event_id><user_id>oops</user_id>" +
      "<event_type>purchase</event_type><value>2.5</value></row>")

  /** Planted malformed JSONL lines for [[jsonlQuarantine]]: broken
    * syntax, a truncated object, and type garbage in a LONG field.
    */
  private[graft] val JsonlMalformedRows: Seq[String] = Seq(
    "{not json at all",
    """{"event_id": 12, "user_id": 3, "event_type": "click",""",
    """{"event_id": "oops", "user_id": 5, "event_type": "view", "value": 1.0}""")

  /** JSONL twin of [[xmlQuarantine]] — the same PERMISSIVE +
    * corrupt-column + one-conditional-aggregate-pass quarantine over the
    * line-delimited mouth (a corrupt LINE is self-delimiting, so the
    * planted rows can share one part file, unlike XML's rowTag splitter).
    */
  def jsonlQuarantine(spark: SparkSession, dir: String): DataFrame =
    quarantineChecksum(jsonlQuarantineRead(spark, dir))

  /** Planted malformed CSV lines for [[csvQuarantine]]: type garbage in
    * the LONG key fields and in the DOUBLE value (CSV has no syntax
    * layer to break — a malformed CSV row IS a type-mismatch row).
    */
  private[graft] val CsvMalformedRows: Seq[String] = Seq(
    "oops,3,click,1.0",
    "12,bad,view,2.0",
    "13,5,purchase,not_a_double")

  /** CSV twin of [[xmlQuarantine]]/[[jsonlQuarantine]] — the third real
    * text mouth, same PERMISSIVE + corrupt-column + one-conditional-
    * aggregate skeleton. The planted part file carries its own header
    * line (the `header` option skips the first line of EVERY file).
    */
  def csvQuarantine(spark: SparkSession, dir: String): DataFrame =
    quarantineChecksum(csvQuarantineRead(spark, dir))

  // The three quarantine reads plant their dirs once per (session, dir),
  // as [[SessionMemo.dir]]s: q_ingest_report reads all three after the
  // standalone quarantine queries in the same session, and re-exporting
  // the events projection per call would write identical files again.
  private def csvQuarantineRead(spark: SparkSession,
      dir: String): DataFrame = {
    val tmp = SessionMemo.dir(spark, s"srcq.csv-quarantine:$dir",
        "graft-csv-q") { tmp =>
      JsonCsvSources.writeCsv(eventsProjection(spark, dir), tmp)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "part-malformed.csv"),
        ("event_id,user_id,event_type,value" +: CsvMalformedRows)
          .mkString("\n"))
    }
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).csv(tmp)
  }

  /** The raw PERMISSIVE JSONL read behind [[jsonlQuarantine]], split out
    * so [[ingestReport]] can aggregate it with the full-schema pin.
    */
  private def jsonlQuarantineRead(spark: SparkSession,
      dir: String): DataFrame = {
    val tmp = SessionMemo.dir(spark, s"srcq.jsonl-quarantine:$dir",
        "graft-jsonl-q") { tmp =>
      JsonCsvSources.writeJsonl(eventsProjection(spark, dir), tmp)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(tmp, "part-malformed.json"),
        JsonlMalformedRows.mkString("\n"))
    }
    spark.read
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).json(tmp)
  }

  /** The shared quarantine aggregate (see [[xmlQuarantine]] for why ONE
    * conditional pass and not a clean/bad branch pair).
    */
  private def quarantineChecksum(read: DataFrame): DataFrame = {
    val isBad = col("_corrupt_record").isNotNull
    def cleanOnly(c: Column): Column = when(!isBad, c)
    read
      .groupBy(when(isBad, lit("__quarantined"))
        .otherwise(col("event_type")).as("event_type"))
      .agg(
        count(lit(1)).as("n"),
        countDistinct(cleanOnly(col("user_id"))).as("n_users"),
        round(sum(cleanOnly(col("value")).cast("decimal(12,2)"))
          .cast("double"), 2).as("sum_value"),
        min(cleanOnly(col("event_id"))).as("min_id"),
        max(cleanOnly(col("event_id"))).as("max_id"))
  }

  /** XML ingest with a MALFORMED-RECORD QUARANTINE (r13 verdict #8) —
    * the mouth the other sources already have: real feeds carry broken
    * rows, and the scalable answer is PERMISSIVE parse + corrupt-record
    * column + in-plan split, never job abort and never silent drop. The
    * sink dir is salted with [[XmlMalformedRows]] (planted type-garbage
    * elements); the read schema appends `_corrupt_record`, clean rows
    * flow to the usual checksum aggregate — which must equal the
    * UNPOLLUTED table's checksum, proving the quarantine is exact — and
    * the quarantined rows roll up to one counted `__quarantined` row
    * (count mirrored from the planting constant in the oracle). One
    * scan, zero extra exchanges beyond the checksum's own.
    */
  def xmlQuarantine(spark: SparkSession, dir: String): DataFrame = {
    // ONE conditional-aggregate pass, not a clean/bad branch pair:
    // Spark disallows plans whose scan references ONLY the corrupt
    // column (a filtered quarantine-count branch is exactly that after
    // pruning; the documented alternative is cache(), wrong at corpus
    // scale). Quarantined rows re-key to one '__quarantined' group and
    // every clean-side aggregate is corrupt-null-guarded, so clean
    // groups see exactly the unpolluted values (null-sum/min/max for
    // the quarantine group by SQL semantics, 0 distinct users).
    quarantineChecksum(xmlQuarantineRead(spark, dir))
  }

  /** The raw PERMISSIVE XML read behind [[xmlQuarantine]], split out so
    * [[ingestReport]] can aggregate it with the full-schema pin.
    */
  private def xmlQuarantineRead(spark: SparkSession,
      dir: String): DataFrame = {
    val tmp = SessionMemo.dir(spark, s"srcq.xml-quarantine:$dir",
        "graft-xml-q") { tmp =>
      JsonCsvSources.writeXml(eventsProjection(spark, dir), tmp)
      // salt the sink with malformed part files (driver-side, a few
      // hundred bytes — fixture planting, same class as the multimodal
      // payload plants). ONE row per file: after a parse failure the
      // rowTag splitter reports the rest of the file as part of the same
      // corrupt record, so co-planted rows would collapse into one
      XmlMalformedRows.zipWithIndex.foreach { case (r, i) =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(tmp, s"part-malformed-$i.xml"), r)
      }
    }
    spark.read.option("rowTag", "row")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(withCorrupt).xml(tmp)
  }

  /** ORC twin of [[jsonlRoundtrip]]: the columnar non-parquet interchange
    * path (ORC self-describes its schema, so no explicit schema needed on
    * the read side).
    */
  def orcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-orc")
    JsonCsvSources.writeOrc(eventsProjection(spark, dir), tmp)
    checksum(JsonCsvSources.readOrc(spark, tmp))
  }

  /** Avro twin of [[orcRoundtrip]] (VERDICT r14 #4 — the last mainstream
    * interchange format the S8 family was missing): events → Avro sink →
    * scan → checksum. Avro self-describes its schema like ORC; being
    * row-major it is the landing format, not the analytical one — the
    * checksum equality proves a landing→convert hop is lossless.
    */
  def avroRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-avro")
    JsonCsvSources.writeAvro(eventsProjection(spark, dir), tmp)
    checksum(JsonCsvSources.readAvro(spark, tmp))
  }

  /** Partitioned export + PRUNED read-back: documents written
    * `partitionBy(lang)`, then only two language partitions re-read and
    * aggregated. The layout decision that matters most at 100 TB — a
    * lang-partitioned corpus makes per-language passes read only their
    * directories; the plan gate (PlanSpec) asserts the lang predicate
    * lands in the scan's PartitionFilters, i.e. the other partitions are
    * never opened. Oracle: the same aggregate over the unexported table.
    */
  val ExportLangs: Seq[String] = Seq("en", "de")

  def partitionedExport(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-part")
    JsonCsvSources.writeParquetPartitioned(
      Tables.documents(spark, dir)
        .select("doc_id", "lang", "source", "n_chars"), tmp, "lang")
    prunedReadBack(spark, tmp)
  }

  /** The read side of [[partitionedExport]], split out so the plan gate
    * can inspect exactly what the driver query executes. The schema is
    * explicit — no footer-sampling inference job, and an empty export
    * (zero matching rows upstream) reads back as an empty frame instead
    * of failing inference.
    */
  private val exportSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("lang", StringType)))

  private[graft] def prunedReadBack(spark: SparkSession,
      tmp: String): DataFrame =
    spark.read.schema(exportSchema).parquet(tmp)
      .filter(col("lang").isInCollection(ExportLangs))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))

  /** Read-back schema for [[datasetManifest]] (explicit — no inference
    * job; `lang` last because partition columns append on read).
    */
  private val manifestSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_chars", LongType),
    StructField("text", StringType),
    StructField("lang", StringType)))

  /** Dataset RELEASE MANIFEST — the integrity record a corpus release
    * ships beside its shards: the full documents table is written
    * `partitionBy(lang)` and read back, and per partition the manifest
    * reports row count, byte volume, id range, and an
    * ORDER-INDEPENDENT content fingerprint — the sum (mod the prime
    * modulus) of each row's portable poly hash over `doc_id:text`.
    * Commutativity makes the fingerprint partition-layout- and
    * task-order-invariant, so ANY faithful copy of the release
    * reproduces it; the oracle computes the same fingerprint from the
    * ORIGINAL table, so the hash gate proves the parquet export +
    * partitioned read-back preserved every byte of every document —
    * the end-to-end sink/source integrity check `q_*_roundtrip`
    * checksums approximate at column granularity. The per-row sum
    * rides DECIMAL(38,0) so it cannot overflow before the mod at any
    * corpus size. One write + one grouped scan; no exchange beyond the
    * lang rollup.
    */
  def datasetManifest(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-manifest")
    JsonCsvSources.writeParquetPartitioned(
      Tables.documents(spark, dir)
        .select("doc_id", "source", "n_chars", "text", "lang"),
      tmp, "lang")
    spark.read.schema(manifestSchema).parquet(tmp)
      .select(col("lang"), col("doc_id"), col("n_chars"),
        graft.functions.StringFunctions.utf8_poly_id(
          concat(col("doc_id").cast("string"), lit(":"), col("text")),
          Dedup.IdMod).as("hv"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        (sum(col("hv").cast("decimal(38,0)")) % Dedup.IdMod)
          .cast("long").as("content_fp"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  /** Raw text-lines round-trip — the rawest corpus interchange format
    * (one document per line: tab-separated id/lang/source, then the
    * text, which is tab-free by fixture construction): write through
    * the text sink (splittable, one file per partition — the layout raw
    * web-scale corpora actually ship in), read back with the text
    * source + explicit column parsing (split with a field limit so the
    * document body keeps its spaces), aggregate per language. The
    * weighted sum ties each document's body length to its id, so a
    * text↔id misassignment in the round-trip fails the hash gate even
    * when totals happen to match.
    */
  def textRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-textlines")
    Tables.documents(spark, dir)
      .select(concat_ws("\t", col("doc_id"), col("lang"), col("source"),
        col("text")).as("value"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite).text(tmp)
    spark.read.text(tmp)
      .select(split(col("value"), "\t", 4).as("f"))
      .select(col("f")(0).cast("long").as("doc_id"),
        col("f")(1).as("lang"), col("f")(2).as("source"),
        col("f")(3).as("text"))
      .groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(length(col("text"))).as("sum_chars"),
        sum(col("doc_id") * length(col("text"))).as("weighted_sum"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  /** Fragment count the compaction fixture scatters the table into —
    * stands in for the thousands of small files streaming ingest and
    * dynamic partition overwrite leave behind in a long-lived store.
    */
  val FragFiles = 64

  /** Compaction target bytes per output file. Production stores target
    * 128 MB–1 GB; the fixture constant is sized so the sf0.01/sf0.1
    * rewrite is observably multi-file→few-file while every output file
    * still holds thousands of rows.
    */
  val CompactTargetBytes = 256L * 1024

  /** Small-file compaction — the OPTIMIZE/rewrite pass every long-lived
    * store needs: ingest leaves [[FragFiles]] small files; the compactor
    * lists the store's data files (the table-manifest read every
    * compactor starts with — file-count-sized, never row-sized), derives
    * the output file count from actual bytes / [[CompactTargetBytes]],
    * and rewrites via `coalesce` — a NARROW repack, no Exchange: the
    * data only needs re-packing, not re-clustering, so shuffling it
    * would be pure waste (plan-gated in PlanSpec). The driver gate
    * proves the rewrite value-exact with the round-trips' checksum; the
    * spec asserts the file-count collapse.
    */
  def compactStore(spark: SparkSession, dir: String): DataFrame =
    compactInto(spark, dir, TempArtifacts.tempDir("graft-frag"),
      TempArtifacts.tempDir("graft-compact"))

  private[graft] def compactInto(spark: SparkSession, dir: String,
      frag: String, compacted: String): DataFrame = {
    eventsProjection(spark, dir).repartition(FragFiles)
      .write.mode("overwrite").parquet(frag)
    val bytes = Option(new java.io.File(frag).listFiles)
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    val nOut = math.max(1,
      math.ceil(bytes.toDouble / CompactTargetBytes).toInt)
    spark.read.schema(eventsLite).parquet(frag).coalesce(nOut)
      .write.mode("overwrite").parquet(compacted)
    checksum(spark.read.schema(eventsLite).parquet(compacted))
  }

  /** Schema-evolution read — the store shape every long-lived corpus
    * reaches: files written under an OLD schema generation (here: no
    * `lang` column) sit beside files written after a column was added,
    * and history is never rewritten. The read side folds the two footers
    * into the union schema (`mergeSchema`), surfacing NULL `lang` for
    * old-generation rows; the aggregate then proves both generations'
    * rows arrive intact and the added column is NULL exactly where the
    * files predate it.
    *
    * Scale note: `mergeSchema` reconciles schemas by sampling file
    * FOOTERS — driver work sized by file count, not rows, and at real
    * store scale (millions of files) the union schema comes from a
    * catalog/metastore instead; the read plan is the same either way.
    * The generation split rides a partition column (`gen=`), which is
    * also how production stores version their layout.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-evolve")
    val docs = Tables.documents(spark, dir)
    // %3 split: the fixture assigns source by doc_id % 20, so a %2
    // split would put every source entirely in one generation; %3
    // interleaves both generations through every source
    docs.filter(col("doc_id") % 3 === 0)
      .select("doc_id", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/gen=1")
    docs.filter(col("doc_id") % 3 =!= 0)
      .select("doc_id", "source", "n_chars", "lang")
      .write.mode("overwrite").parquet(s"$tmp/gen=2")
    spark.read.option("mergeSchema", "true").parquet(tmp)
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        count(col("lang")).as("n_langful"),
        countDistinct(col("gen")).as("n_gens"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
  }

  /** Output files the z-order rewrite targets — stands in for the
    * file-count a production OPTIMIZE ZORDER pass emits per partition.
    */
  val ZFiles = 8

  /** Morton interleave of the two 8-bit bucket columns `cx`/`dy`,
    * generated once and rendered for each engine (Spark SQL spells shifts
    * `shiftleft`/`shiftright`; DuckDB spells them `<<`/`>>`; `&`/`|` are
    * shared). Pure BIGINT bit arithmetic — no floats, codegen'd in Spark.
    */
  private def zBitsExpr(shl: (String, Int) => String,
      shr: (String, Int) => String): String =
    (0 until 8).map { i =>
      s"(${shl(s"(${shr("cx", i)} & 1)", 2 * i)} | " +
        s"${shl(s"(${shr("dy", i)} & 1)", 2 * i + 1)})"
    }.mkString("(", " | ", ")")

  private val zSpark =
    zBitsExpr((e, n) => s"shiftleft($e, $n)", (e, n) => s"shiftright($e, $n)")
  private val zDuck =
    zBitsExpr((e, n) => s"($e << $n)", (e, n) => s"($e >> $n)")

  /** Z-order (Morton-curve) layout rewrite — the multi-dimensional
    * clustering pass behind `OPTIMIZE ZORDER BY`: sorting by the bit
    * interleave of two bucketized dimensions makes every output file a
    * tight bounding box in BOTH dimensions at once, so file-level min/max
    * stats prune scans filtered on either one. A single-column sort gives
    * perfect pruning on that column and none on the other; the z curve
    * splits the difference — the layout decision that matters once a
    * 100 TB fact table is queried by customer AND by date.
    *
    * The bucket scales come from an in-plan 1-row min/max aggregate
    * (broadcast back, the S6 scalar-feedback pattern), so the bucketing
    * is a pure function of the data — both dims always span the full
    * 8-bit range at any fixture size or date/key range. The pass itself is `repartitionByRange(z)` +
    * `sortWithinPartitions(z)` + parquet rewrite: ONE range exchange of
    * narrow (key, z) tuples, never payloads. The driver query re-reads
    * the rewritten store (explicit schema) and aggregates per 1024-wide
    * z tile; the oracle recomputes z from the original table — equality
    * proves the bit math AND that the rewrite lost nothing. The per-FILE
    * bounding-box tightness (the actual pruning claim) is asserted in
    * SourcesExtensionsSpec against a round-robin control layout.
    */
  def zorderLayout(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-zorder")
    writeZOrdered(spark, dir, tmp)
    spark.read.schema(zSchema).parquet(tmp)
      .groupBy(expr("CAST(z DIV 1024 AS BIGINT)").as("tile"))
      .agg(count(lit(1)).as("n"),
        min(col("o_custkey")).as("min_cust"),
        max(col("o_custkey")).as("max_cust"),
        min(col("day")).as("min_day"),
        max(col("day")).as("max_day"))
  }

  private val zSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("day", LongType),
    StructField("z", LongType)))

  private[graft] def zValues(spark: SparkSession, dir: String): DataFrame = {
    // the datediff anchor is an arbitrary reference — BOTH bucket bounds
    // are derived in-plan (min and max alike), so the bucketing is a
    // pure function of the data: a regenerated fixture with earlier
    // dates or a shifted key range cannot push days negative or
    // sign-extend the interleave (the anchor cancels in rawday - min_dy)
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1995-01-01")).cast("long")
          .as("rawday"))
    val bounds = o.agg(
      min(col("o_custkey")).as("min_ck"), max(col("o_custkey")).as("max_ck"),
      min(col("rawday")).as("min_dy"), max(col("rawday")).as("max_dy"))
    o.crossJoin(broadcast(bounds))
      .withColumn("day", col("rawday") - col("min_dy"))
      .withColumn("cx", expr(
        "CAST((o_custkey - min_ck) * 256 DIV (max_ck - min_ck + 1) AS BIGINT)"))
      .withColumn("dy", expr(
        "CAST(day * 256 DIV (max_dy - min_dy + 1) AS BIGINT)"))
      .withColumn("z", expr(zSpark).cast("long"))
      .select("o_orderkey", "o_custkey", "day", "z")
  }

  private[graft] def writeZOrdered(spark: SparkSession, dir: String,
      tmp: String): Unit =
    zValues(spark, dir)
      .repartitionByRange(ZFiles, col("z"))
      .sortWithinPartitions(col("z"))
      .write.mode("overwrite").parquet(tmp)

  private val customerLite = StructType(Seq(
    StructField("c_custkey", LongType),
    StructField("c_nationkey", IntegerType),
    StructField("c_acctbal", DoubleType),
    StructField("c_mktsegment", StringType)))

  /** S1+S8: customer → whole-file JSON ARRAY sink → schema'd multiline
    * scan → aggregate. The reference's dominant source mode (four of six
    * tables load `option("multiline","true")`, Databricks Notebook.py:34/
    * 62/80/108) gate-checked on a dimension-sized table — the only shape
    * the one-file-one-task format is legitimate for.
    */
  def multilineRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tmp = TempArtifacts.tempDir("graft-mljson")
    JsonCsvSources.writeMultilineJson(
      Tables.customer(spark, dir)
        .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment"),
      tmp)
    JsonCsvSources.readMultilineJson(spark, tmp, Some(customerLite))
      .groupBy("c_mktsegment")
      .agg(
        count(lit(1)).as("n"),
        countDistinct(col("c_nationkey")).as("n_nations"),
        round(sum(col("c_acctbal").cast("decimal(12,2)")).cast("double"), 2)
          .as("sum_acctbal"),
        min(col("c_custkey")).as("min_key"),
        max(col("c_custkey")).as("max_key"))
  }

  private val customerChecksumSql =
    """SELECT c_mktsegment, count(*) AS n,
      |  count(DISTINCT c_nationkey) AS n_nations,
      |  round(CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE), 2)
      |    AS sum_acctbal,
      |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
      |FROM customer GROUP BY c_mktsegment""".stripMargin

  /** Allowed language codes for the [[dataContract]] enum constraint —
    * the DECLARED vocabulary (matches the corpus generator's set and
    * [[TextOps.LangMarkers]]' keys), not a derived distinct.
    */
  val ContractLangs: Seq[String] = Seq("en", "de", "es", "fr", "zh")

  /** Rows planted into [[dataContract]], one per violation class, so
    * every constraint's failure path is exercised: a null text, an
    * unknown language, an inconsistent n_chars, and a DUPLICATE id
    * (920001 twice — BOTH instances count as violations).
    */
  private[graft] val ContractPlantedRows
      : PlantedRows[(java.lang.Long, String, String, java.lang.Long)] =
    PlantedRows("doc_id", "text", "lang", "n_chars")(
      (920001L, "dup id row one", "en", 14L),
      (920001L, "dup id row two", "en", 14L),
      (920002L, null, "en", 0L),
      (920003L, "unknown lang row", "xx", 16L),
      (920004L, "bad count row", "de", 999L))

  /** Ingest data-contract gate — the declared-constraint validation a
    * pipeline runs BEFORE admitting a batch (the dbt-test /
    * Great-Expectations shape): one row per constraint with checked and
    * violation counts and the pass verdict. Constraints: primary-key
    * non-null + UNIQUE (uniqueness via a two-level aggregate — never a
    * distinct-rewrite Expand next to other aggregates), declared
    * language enum, text presence, and the n_chars ≡ length(text)
    * consistency the generator promises. Planted rows trip each class
    * exactly once (the duplicate id twice — both instances count). One
    * corpus scan + one id-grouped aggregate; the constraint dimension
    * is a literal unpivot, so output is constraint-count-sized at any
    * corpus size.
    */
  def dataContract(spark: SparkSession, dir: String): DataFrame = {
    val langList = ContractLangs
    val src = ContractPlantedRows.onto(Tables.documents(spark, dir))
    val dupInstances = src.groupBy("doc_id")
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(when(col("c") > 1, col("c"))), lit(0L))
        .as("v_dup"))
    val flat = src.agg(
      count(lit(1)).as("n"),
      sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("v_id_null"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("v_text_null"),
      sum(when(col("lang").isin(langList: _*), 0L).otherwise(1L))
        .as("v_lang"),
      // null text is the text_not_null constraint's violation, not a
      // chars inconsistency — each planted row trips exactly one class
      sum(when(col("text").isNull, 0L)
        .when(col("n_chars") === length(col("text")), 0L)
        .otherwise(1L)).as("v_chars"))
    flat.crossJoin(broadcast(dupInstances))
      .select(expr(
        """stack(5,
          |  'doc_id_not_null', v_id_null,
          |  'doc_id_unique', v_dup,
          |  'text_not_null', v_text_null,
          |  'lang_in_enum', v_lang,
          |  'n_chars_consistent', v_chars)
          |AS (check_name, n_violations)""".stripMargin),
        col("n").as("n_checked"))
      .select(col("check_name"), col("n_checked"), col("n_violations"),
        (col("n_violations") === 0L).as("pass"))
  }

  /** Mouth-level ingest HEALTH REPORT (`q_ingest_report`, VERDICT r14
    * #5) — the dataset card's ingest sibling: one artifact a batch
    * admission gate reads, unioning every ingest-integrity signal this
    * engine computes into (section, item, n_checked, n_flagged, pass)
    * rows —
    *   - `mouth`: the XML, JSONL, and CSV quarantine runs' totals
    *     (checked = clean + planted-bad rows, flagged = quarantined);
    *   - `contract`: [[dataContract]]'s per-constraint verdicts,
    *     re-keyed verbatim;
    *   - `store`: [[schemaEvolution]]'s generation coverage — rows
    *     written before the `lang` column existed are the flagged set
    *     (a real admission datum: consumers that require the column
    *     must filter or backfill those generations).
    * Oracle = recount from the unpolluted tables (the quarantine
    * two-direction pattern); SourcesExtensionsSpec proves each report
    * row equals its standalone query. Output is
    * constraint-count-sized; the cost is the three underlying passes,
    * each already scale-shaped (their own ScaleBench rows).
    */
  def ingestReport(spark: SparkSession, dir: String): DataFrame = {
    // FULL-SCHEMA PIN (found the hard way building this report): a
    // PERMISSIVE reader judges corruption only against the columns the
    // plan actually reads, so when the report's count-shaped aggregate
    // let Catalyst prune the payload columns, the planted type-garbage
    // rows PARSED CLEAN (measured: XML flagged 0/3, JSONL 2/3 — exactly
    // the rows whose broken column was pruned). An admission verdict
    // must be judged against the full declared schema, so the flagged
    // count folds in `0 * hash(every declared column)` — semantically
    // zero, but it pins each column into the scan. The standalone
    // quarantine queries don't need the pin only because their checksum
    // aggregates every column already.
    // the pin is a clean-row WITNESS: clean rows are counted through a
    // hash of every payload column (xxhash64 never returns null, so
    // count(when(clean, hash)) == clean count), which the optimizer
    // cannot eliminate — a first-cut `0 * hash` pin was constant-folded
    // away (0 * non-nullable → 0), resurrecting the corrupt-only scan
    // Spark rejects
    def mouth(read: DataFrame, item: String): DataFrame = read.agg(
        count(lit(1)).as("n_checked"),
        (count(lit(1)) - count(when(col("_corrupt_record").isNull,
          xxhash64(col("event_id"), col("user_id"), col("event_type"),
            col("value"))))).as("n_flagged"))
      .select(lit("mouth").as("section"), lit(item).as("item"),
        col("n_checked"), col("n_flagged"),
        (col("n_flagged") === 0L).as("pass"))
    val contract = dataContract(spark, dir)
      .select(lit("contract").as("section"),
        col("check_name").as("item"), col("n_checked"),
        col("n_violations").as("n_flagged"), col("pass"))
    val evo = schemaEvolution(spark, dir).agg(
        sum(col("n_docs")).as("n_checked"),
        (sum(col("n_docs")) - sum(col("n_langful"))).as("n_flagged"))
      .select(lit("store").as("section"),
        lit("documents_pre_lang").as("item"),
        col("n_checked"), col("n_flagged"),
        (col("n_flagged") === 0L).as("pass"))
    mouth(xmlQuarantineRead(spark, dir), "events_xml")
      .unionByName(mouth(jsonlQuarantineRead(spark, dir), "events_jsonl"))
      .unionByName(mouth(csvQuarantineRead(spark, dir), "events_csv"))
      .unionByName(contract)
      .unionByName(evo)
  }

  val queries: Map[String, Q] = Map(
    "q_ingest_report" -> ingestReport _,
    "q_data_contract" -> dataContract _,
    "q_jsonl_roundtrip" -> jsonlRoundtrip _,
    "q_csv_roundtrip" -> csvRoundtrip _,
    "q_orc_roundtrip" -> orcRoundtrip _,
    "q_avro_roundtrip" -> avroRoundtrip _,
    "q_xml_roundtrip" -> xmlRoundtrip _,
    "q_xml_quarantine" -> xmlQuarantine _,
    "q_jsonl_quarantine" -> jsonlQuarantine _,
    "q_csv_quarantine" -> csvQuarantine _,
    "q_partitioned_export" -> partitionedExport _,
    "q_dataset_manifest" -> datasetManifest _,
    "q_multiline_roundtrip" -> multilineRoundtrip _,
    "q_text_roundtrip" -> textRoundtrip _,
    "q_compact" -> compactStore _,
    "q_zorder_layout" -> zorderLayout _,
    "q_schema_evolution" -> schemaEvolution _)

  /** The q_data_contract oracle, factored out so [[ingestReport]]'s
    * oracle can embed the identical per-constraint recount.
    */
  private val contractOracleSql: String = {
      val langs = ContractLangs.map(l => s"'$l'").mkString(", ")
      s"""WITH src AS (${ContractPlantedRows.ontoSql("documents")}),
         |d AS (SELECT CAST(coalesce(sum(CASE WHEN c > 1 THEN c END), 0)
         |    AS BIGINT) AS v_dup
         |  FROM (SELECT doc_id, count(*) AS c FROM src GROUP BY doc_id)),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v_id_null,
         |    CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS v_text_null,
         |    CAST(sum(CASE WHEN lang IN ($langs) THEN 0 ELSE 1 END)
         |      AS BIGINT) AS v_lang,
         |    CAST(sum(CASE WHEN text IS NULL THEN 0
         |      WHEN n_chars = length(text) THEN 0 ELSE 1 END)
         |      AS BIGINT) AS v_chars
         |  FROM src),
         |u AS (
         |  SELECT 'doc_id_not_null' AS check_name, v_id_null AS v
         |    FROM f
         |  UNION ALL SELECT 'doc_id_unique', v_dup FROM d
         |  UNION ALL SELECT 'text_not_null', v_text_null FROM f
         |  UNION ALL SELECT 'lang_in_enum', v_lang FROM f
         |  UNION ALL SELECT 'n_chars_consistent', v_chars FROM f)
         |SELECT check_name, n AS n_checked, v AS n_violations,
         |  v = 0 AS pass
         |FROM u, f""".stripMargin
  }

  /** Oracles aggregate the ORIGINAL parquet — equality proves the sink →
    * scan round-trip lost nothing.
    */
  val oracles: Map[String, String] = Map(
    "q_data_contract" -> contractOracleSql,
    "q_ingest_report" ->
      s"""WITH contract AS ($contractOracleSql)
         |SELECT 'contract' AS section, check_name AS item,
         |  n_checked, n_violations AS n_flagged, pass
         |FROM contract
         |UNION ALL SELECT 'mouth', 'events_xml',
         |  CAST(count(*) + ${XmlMalformedRows.size} AS BIGINT),
         |  CAST(${XmlMalformedRows.size} AS BIGINT), false FROM events
         |UNION ALL SELECT 'mouth', 'events_jsonl',
         |  CAST(count(*) + ${JsonlMalformedRows.size} AS BIGINT),
         |  CAST(${JsonlMalformedRows.size} AS BIGINT), false FROM events
         |UNION ALL SELECT 'mouth', 'events_csv',
         |  CAST(count(*) + ${CsvMalformedRows.size} AS BIGINT),
         |  CAST(${CsvMalformedRows.size} AS BIGINT), false FROM events
         |UNION ALL SELECT 'store', 'documents_pre_lang',
         |  CAST(count(*) AS BIGINT),
         |  CAST(sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT),
         |  sum(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END) = 0
         |FROM documents""".stripMargin,

    "q_jsonl_roundtrip" -> checksumSql,
    "q_csv_roundtrip" -> checksumSql,
    "q_orc_roundtrip" -> checksumSql,
    "q_avro_roundtrip" -> checksumSql,
    "q_xml_roundtrip" -> checksumSql,
    // clean side must equal the unpolluted checksum; the quarantine row
    // carries the planting constant
    "q_jsonl_quarantine" -> (checksumSql +
      s"""
         |UNION ALL
         |SELECT '__quarantined' AS event_type,
         |  CAST(${JsonlMalformedRows.size} AS BIGINT) AS n,
         |  CAST(0 AS BIGINT) AS n_users,
         |  CAST(NULL AS DOUBLE) AS sum_value,
         |  CAST(NULL AS BIGINT) AS min_id,
         |  CAST(NULL AS BIGINT) AS max_id""".stripMargin),
    "q_csv_quarantine" -> (checksumSql +
      s"""
         |UNION ALL
         |SELECT '__quarantined' AS event_type,
         |  CAST(${CsvMalformedRows.size} AS BIGINT) AS n,
         |  CAST(0 AS BIGINT) AS n_users,
         |  CAST(NULL AS DOUBLE) AS sum_value,
         |  CAST(NULL AS BIGINT) AS min_id,
         |  CAST(NULL AS BIGINT) AS max_id""".stripMargin),
    "q_xml_quarantine" -> (checksumSql +
      s"""
         |UNION ALL
         |SELECT '__quarantined' AS event_type,
         |  CAST(${XmlMalformedRows.size} AS BIGINT) AS n,
         |  CAST(0 AS BIGINT) AS n_users,
         |  CAST(NULL AS DOUBLE) AS sum_value,
         |  CAST(NULL AS BIGINT) AS min_id,
         |  CAST(NULL AS BIGINT) AS max_id""".stripMargin),
    "q_partitioned_export" -> {
      val langs = ExportLangs.map(l => s"'$l'").mkString(", ")
      s"""SELECT lang, count(*) AS n_docs,
         |  count(DISTINCT source) AS n_sources,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM documents WHERE lang IN ($langs)
         |GROUP BY lang""".stripMargin
    },
    "q_dataset_manifest" ->
      s"""SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(CAST(${graft.engine.Dedup.idUtf8Sql(
              "CAST(doc_id AS VARCHAR) || ':' || text")}
         |    AS HUGEINT)) % ${graft.engine.Dedup.IdMod} AS BIGINT)
         |    AS content_fp,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM documents GROUP BY lang""".stripMargin,
    "q_multiline_roundtrip" -> customerChecksumSql,
    "q_text_roundtrip" ->
      """SELECT lang, count(*) AS n_docs,
        |  count(DISTINCT source) AS n_sources,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id * length(text)) AS BIGINT) AS weighted_sum,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents GROUP BY lang""".stripMargin,
    "q_compact" -> checksumSql,
    // recomputes z from the ORIGINAL table: equality proves the bit
    // interleave AND that the layout rewrite lost nothing
    "q_zorder_layout" ->
      s"""WITH o AS (SELECT o_orderkey, o_custkey,
         |    CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
         |      AS BIGINT) AS rawday
         |  FROM orders),
         |b AS (SELECT min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
         |    min(rawday) AS min_dy, max(rawday) AS max_dy FROM o),
         |c AS (SELECT o_orderkey, o_custkey, rawday - min_dy AS day,
         |    CAST((o_custkey - min_ck) * 256 // (max_ck - min_ck + 1)
         |      AS BIGINT) AS cx,
         |    CAST((rawday - min_dy) * 256 // (max_dy - min_dy + 1)
         |      AS BIGINT) AS dy
         |  FROM o CROSS JOIN b),
         |z AS (SELECT o_orderkey, o_custkey, day,
         |    CAST($zDuck AS BIGINT) AS z FROM c)
         |SELECT CAST(z // 1024 AS BIGINT) AS tile, count(*) AS n,
         |  min(o_custkey) AS min_cust, max(o_custkey) AS max_cust,
         |  min(day) AS min_day, max(day) AS max_day
         |FROM z GROUP BY 1""".stripMargin,
    // emulates the two schema generations: doc_id % 3 = 0 rows predate
    // the lang column (NULL), the rest carry it; n_gens proves both
    // partitions arrived through the merged read
    "q_schema_evolution" ->
      """WITH u AS (
        |  SELECT doc_id, source, n_chars, CAST(NULL AS VARCHAR) AS lang,
        |    1 AS gen
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, source, n_chars, lang, 2 AS gen
        |  FROM documents WHERE doc_id % 3 <> 0)
        |SELECT source, count(*) AS n_docs, count(lang) AS n_langful,
        |  count(DISTINCT gen) AS n_gens,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM u GROUP BY source""".stripMargin)
}
