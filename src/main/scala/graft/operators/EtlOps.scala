package graft.operators

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import graft.Scratch
import graft.Tables._

/** §2.A scans / sinks / load semantics (SURVEY.md) — the reference's
  * extract (JSON/CSV ingest, README.md:22-23), load (README.md:24,:28-29:
  * audit timestamps, idempotent re-ingest/upsert) and store stages,
  * modeled relationally (parquet collections stand in for the course's
  * MongoDB — an infrastructure choice, not a semantic one; SURVEY §1.2).
  *
  * Scale notes: `upsert_load` is the relational MERGE shape — union + keyed
  * window keep-latest — which shuffles once on the upsert key; at 100 TB
  * this is exactly the Delta/Iceberg MERGE plan minus the transaction log.
  * `sink_parquet` demonstrates partitioned layout (partition pruning on
  * read is free after this).
  */
object EtlOps extends graft.Bank {

  /** One-time staging of the events table as JSONL / CSV fixtures for the
    * scan queries. The _SUCCESS marker makes re-runs read-only, and the
    * writes keep natural parallelism — a coalesce(1) single-task funnel is
    * a stopper at scale and the read side globs the directory anyway.
    * Bench warms these so the timed queries measure the scan, not fixture
    * I/O. */
  def stageJsonl(s: SparkSession, dir: String): String = {
    val path = Scratch.fixture(s, "jsonl", dir).toString
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      events(s, dir).select(col("props"))
        .write.mode(SaveMode.Overwrite).text(path)
    path
  }

  /** One-time staging of orders (< 300) as NESTED JSON documents — each
    * order carries its lineitems as an embedded array, the
    * document-store shape the spec's transform stage targets. Item order
    * inside a document is collect_list-nondeterministic, which is exactly
    * why the reading query must aggregate order-insensitively. */
  def stageNestedJson(s: SparkSession, dir: String): String = {
    val path = Scratch.fixture(s, "njson", dir).toString
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      val o = t(s, dir, "orders").filter(col("o_orderkey") < 300)
        .select(col("o_orderkey"), col("o_orderstatus"))
      val l = t(s, dir, "lineitem").filter(col("l_orderkey") < 300)
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderkey"), col("o_orderstatus"))
        .agg(collect_list(struct(col("l_linenumber").as("l"),
          col("l_quantity").as("qty"), col("l_extendedprice").as("price"))).as("items"))
        .select(to_json(struct(col("o_orderkey").as("o"),
          col("o_orderstatus").as("status"), col("items").as("items"))).as("value"))
        .write.mode(SaveMode.Overwrite).text(path)
    }
    path
  }

  def stageCsv(s: SparkSession, dir: String): String = {
    val path = Scratch.fixture(s, "csv", dir).toString
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      events(s, dir).select(col("event_id"), col("event_type"), col("value"))
        .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)
    path
  }

  /** Pipe-delimited log lines from events, with every 97th event written
    * as a deterministic garbage line — the raw-log on-ramp (app/server
    * logs are the other big unstructured source next to JSON APIs), with
    * the spec's invalid-input class baked into the fixture. */
  def stageText(s: SparkSession, dir: String): String = {
    val path = Scratch.fixture(s, "textlog", dir).toString
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      events(s, dir).select(
        when(col("event_id") % 97 === 0,
          concat(lit("!! corrupt log line "), col("event_id")))
          .otherwise(concat_ws("|",
            col("event_id"), col("user_id"), col("event_type"), col("value")))
          .as("value"))
        .write.mode(SaveMode.Overwrite).text(path)
    path
  }

  def stageOrc(s: SparkSession, dir: String): String = {
    val path = Scratch.fixture(s, "orc", dir).toString
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      events(s, dir).select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .write.mode(SaveMode.Overwrite).orc(path)
    path
  }

  /** Hive-style partitioned layout of orders (partition column =
    * o_orderstatus) for the partition-pruning query. At 100 TB this layout
    * choice — partition by the columns queries filter on — is the
    * difference between scanning one directory and scanning the lake. */
  /** One-time staging for `scan_binaryfile`: each probe document's text
    * written as a standalone .bin file (UTF-8 bytes) — the on-disk shape
    * multimodal corpora actually arrive in (an image/audio blob per
    * object-store key). Driver-side loop is fine HERE because it stages a
    * 64-file fixture; at scale the files already exist — ingestion starts
    * at the binaryFile scan, which is fully distributed. */
  def stageBinaryDocs(s: SparkSession, dir: String): String = {
    val path = Scratch.fixture(s, "bindocs", dir).toString
    if (!Files.exists(Paths.get(path, "_STAGED"))) {
      Files.createDirectories(Paths.get(path))
      t(s, dir, "documents").filter(col("doc_id") < 64)
        .select(col("doc_id"), col("text")).collect()
        .foreach { r =>
          Files.write(Paths.get(path, f"doc_${r.getLong(0)}%05d.bin"),
            r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
      Files.write(Paths.get(path, "_STAGED"), Array.empty[Byte])
    }
    path
  }

  def stagePartitioned(s: SparkSession, dir: String): String = {
    val path = Scratch.fixture(s, "part_orders", dir).toString
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
        .write.mode(SaveMode.Overwrite).partitionBy("o_orderstatus").parquet(path)
    path
  }

  /** One-time staging for `sink_compact`: the deliberately fragmented
    * partitioned layout (repartition(16) before partitionBy → many files
    * per lang dir) and its compacted rewrite (redistribute on the
    * partition column → one sorted file per dir). Bench warms this so the
    * timed query measures the audit scan, not the two rewrites. */
  def stageCompact(s: SparkSession, dir: String): String = {
    val frag = Scratch.fixture(s, "frag_docs", dir).toString
    if (!Files.exists(Paths.get(frag, "_SUCCESS")))
      t(s, dir, "documents").repartition(16)
        .write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(frag)
    val compact = Scratch.fixture(s, "compact_docs", dir).toString
    if (!Files.exists(Paths.get(compact, "_SUCCESS")))
      s.read.parquet(frag)
        .repartition(col("lang"))
        .sortWithinPartitions(col("doc_id"))
        .write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(compact)
    compact
  }

  /** Tiny order-status dim staged as PARQUET (not an inline relation):
    * dynamic partition pruning needs the dim-side filter to survive to the
    * physical plan, and ConvertToLocalRelation folds filters over inline
    * rows away before planning. */
  def stageStatusDim(s: SparkSession, dir: String): String = {
    val path = Scratch.fixture(s, "dim_status", dir).toString
    if (!Files.exists(Paths.get(path, "_SUCCESS"))) {
      import s.implicits._
      Seq(("F", "finished"), ("O", "open"), ("P", "pending"))
        .toDF("status", "label")
        .write.mode(SaveMode.Overwrite).parquet(path)
    }
    path
  }

  /** XML event dump — the third structured wire format beside JSONL/CSV
    * (Spark 4 ships the XML source natively; rowTag frames each record). */
  def stageXml(s: SparkSession, dir: String): String = {
    val path = Scratch.fixture(s, "xml", dir).toString
    if (!Files.exists(Paths.get(path, "_SUCCESS")))
      events(s, dir).select(col("event_id"), col("event_type"), col("value"))
        .write.mode(SaveMode.Overwrite).option("rowTag", "event")
        .format("xml").save(path)
    path
  }

  def stageFixtures(s: SparkSession, dir: String): Unit = {
    stageJsonl(s, dir); stageCsv(s, dir); stageOrc(s, dir); stageText(s, dir)
    stagePartitioned(s, dir); stageCompact(s, dir); stageStatusDim(s, dir)
    stageBinaryDocs(s, dir); stageXml(s, dir); ()
  }

  val queries: Map[String, QFn] = Map(
    "scan_parquet" -> ((s, dir) => {
      // projection + predicate both reach the parquet scan (PushedFilters /
      // ReadSchema — asserted in the unit spec via .explain)
      t(s, dir, "part")
        .filter(col("p_size") > 25)
        .select(col("p_partkey"), col("p_name"), col("p_size"))
        .orderBy(col("p_partkey"))
    }),

    // partition pruning end to end: orders laid out Hive-style by
    // o_orderstatus, read back with a partition-column predicate. The
    // filter resolves at PLANNING time against the directory listing
    // (PartitionFilters in the scan — pinned by PlanSpec), so the other
    // statuses' files are never opened: the scan-side lever that makes a
    // 100 TB lake queryable. Data files carry only the non-partition
    // columns; the partition value comes from the path.
    "scan_partitioned" -> ((s, dir) => {
      val path = stagePartitioned(s, dir)
      s.read.parquet(path)
        .filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey"), r6(col("o_totalprice")).as("price"))
        .orderBy(col("o_orderkey"))
    }),

    "scan_jsonl" -> ((s, dir) => {
      // extract stage: JSONL payload dump → schema-applied JSON ingest
      val path = stageJsonl(s, dir)
      s.read.schema(StructType(Seq(StructField("k", IntegerType)))).json(path)
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }),

    "scan_csv" -> ((s, dir) => {
      val path = stageCsv(s, dir)
      s.read.option("header", "true")
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType))))
        .csv(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
        .orderBy(col("event_type"))
    }),

    // XML ingest — Spark 4's NATIVE XML source (rowTag record framing),
    // the third structured wire format beside JSONL/CSV and the classic
    // enterprise-feed on-ramp: schema-applied read (no inference pass —
    // at 100 TB inference is a full extra scan), then the same
    // decimal-exact rollup as scan_csv so the double round-trip through
    // XML text is proven exact against the parquet-derived oracle.
    "scan_xml" -> ((s, dir) => {
      val path = stageXml(s, dir)
      s.read.format("xml").option("rowTag", "event")
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("value", DoubleType))))
        .load(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
        .orderBy(col("event_type"))
    }),

    // raw log-line ingestion — text source + regexp field extraction,
    // the parse path for the unstructured half of real ingest. Lines the
    // pattern rejects are QUARANTINED into a '_malformed' bucket (the
    // fail-soft posture of scan_corrupt/ingest_quarantine: one junk line
    // must never kill a 100 TB parse), everything else aggregates like
    // the structured sources. Regex runs once per line in the scan
    // stage — no shuffle before the final vocabulary-sized agg.
    "scan_text" -> ((s, dir) => {
      val path = stageText(s, dir)
      val pat = "^(\\d+)\\|(\\d+)\\|([a-z_]+)\\|(.+)$"
      s.read.text(path)
        .select(regexp_extract(col("value"), pat, 1).as("eid"),
          regexp_extract(col("value"), pat, 3).as("etype"),
          regexp_extract(col("value"), pat, 4).as("vs"))
        .select(
          when(col("eid") === "", lit("_malformed")).otherwise(col("etype")).as("event_type"),
          when(col("eid") === "", lit(null).cast("double"))
            .otherwise(col("vs").cast("double")).as("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
        .orderBy(col("event_type"))
    }),

    // ORC round-trip — the other columnar format Spark ships natively
    // (predicate pushdown + column pruning work the same as parquet's;
    // the scan's aggregation is oracled against the source table, so the
    // write+read round-trip is value-checked end to end).
    "scan_orc" -> ((s, dir) => {
      val path = stageOrc(s, dir)
      s.read.orc(path)
        .filter(col("value") >= 50.0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    }),

    // load through the CUSTOM DSv2 writer (sources/DocSink): the spec's
    // document-collection load with the full V2 commit protocol — task
    // staging files, driver-side commit that publishes files then writes
    // the manifest LAST, deferred truncation on overwrite, abort sweep.
    // The round-trip is value-oracled: what entered the sink is what the
    // JSON reader gets back.
    "sink_dsv2" -> ((s, dir) => {
      val out = Scratch.fixture(s, "docsink", dir).toString
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .write.format("graft.sources.DocSink").mode(SaveMode.Overwrite)
        .option("path", out).save()
      s.read.schema("doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT")
        .option("pathGlobFilter", "*.jsonl").json(out)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    }),

    // binaryFile ingestion — the multimodal on-ramp: one opaque blob per
    // file (image/audio/video in production; staged doc bytes here)
    // becomes a (path, length, content) row, id parsed from the file
    // name, integrity pinned by a content digest. The scan is listed and
    // read fully distributed (one task per file group), which is how a
    // billion-object corpus enters the engine; downstream decode is
    // multimodal_cols / mm_decode. Oracled WITHOUT touching the
    // staged dir: files hold exactly the documents' UTF-8 text bytes, so
    // DuckDB recomputes length + sha256 from the source table.
    "scan_binaryfile" -> ((s, dir) => {
      val path = stageBinaryDocs(s, dir)
      s.read.format("binaryFile").option("pathGlobFilter", "*.bin").load(path)
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin", 1).cast("bigint").as("doc_id"),
          col("length").as("n_bytes"),
          sha2(col("content"), 256).as("digest"))
        .orderBy(col("doc_id"))
    }),

    // PERMISSIVE corrupt-record routing (the spec's "invalid response"
    // concern at the batch-scan level): deterministically corrupted JSONL
    // lines land in _corrupt_record instead of failing the job, and the
    // query audits valid vs corrupt. Fixture staged once.
    "scan_corrupt" -> ((s, dir) => {
      val path = Scratch.fixture(s, "corrupt", dir).toString
      if (!Files.exists(Paths.get(path, "_SUCCESS")))
        events(s, dir)
          .select(when(col("event_id") % 10 === 0, concat(lit("{corrupt "), col("props")))
            .otherwise(col("props")).as("line"))
          .write.mode(SaveMode.Overwrite).text(path)
      s.read
        .schema(StructType(Seq(
          StructField("k", IntegerType), StructField("_corrupt_record", StringType))))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
        .groupBy(
          col("_corrupt_record").isNotNull.as("is_corrupt"),
          coalesce(col("k"), lit(-1)).as("k"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("is_corrupt"), col("k"))
    }),

    // document-store-shaped sink (the spec's "transform for MongoDB
    // compatibility", README.md:23-24): rows nest into JSON documents,
    // written as JSONL and re-ingested — the full document round-trip.
    "sink_jsonl" -> ((s, dir) => {
      val path = Scratch.fixture(s, "sinkj", dir).toString
      events(s, dir)
        .select(col("event_id"),
          struct(col("event_type").as("type"), col("value").as("value")).as("doc"))
        .write.mode(SaveMode.Overwrite).json(path)
      s.read.schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("doc", StructType(Seq(
            StructField("type", StringType), StructField("value", DoubleType)))))))
        .json(path)
        .select(col("event_id"), col("doc.type").as("event_type"), col("doc.value").as("value"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("v"))
        .orderBy(col("event_type"))
    }),

    // CSV sink + schema-declared read-back — the interchange format the
    // reference's document-store loads still meet in the wild: write with
    // header + explicit null token, read back with a DECLARED schema (no
    // inferSchema pass — at 100 TB schema inference is a full extra
    // scan), verify by the same grouped rollup as sink_jsonl. Round-trip
    // exactness: value rides as integer micro-units in the file so CSV's
    // double→text→double boundary can never perturb the 6-dp compare.
    "sink_csv" -> ((s, dir) => {
      val path = Scratch.fixture(s, "sinkc", dir).toString
      events(s, dir)
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 1000000, 0) AS BIGINT)").as("v6"))
        .write.mode(SaveMode.Overwrite)
        .option("header", "true").option("nullValue", "\\N")
        .csv(path)
      s.read.schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("v6", LongType))))
        .option("header", "true").option("nullValue", "\\N")
        .csv(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("v6")).cast("double") / 1e6, 6).as("v"))
        .orderBy(col("event_type"))
    }),

    // XML sink round-trip — completes the format matrix (parquet/CSV/
    // JSONL/ORC sinks + the native XML source): write the micro-unit
    // integer projection (sink_csv's exact-value discipline — integers
    // survive any text serialization bit-exactly), read back through the
    // same rowTag framing, aggregate against the parquet-derived oracle.
    "sink_xml" -> ((s, dir) => {
      val path = Scratch.fixture(s, "sinkx", dir).toString
      events(s, dir)
        .select(col("event_id"), col("event_type"),
          expr("CAST(round(value * 1000000, 0) AS BIGINT)").as("v6"))
        .write.mode(SaveMode.Overwrite).option("rowTag", "event")
        .format("xml").save(path)
      s.read.format("xml").option("rowTag", "event")
        .schema(StructType(Seq(
          StructField("event_id", LongType),
          StructField("event_type", StringType),
          StructField("v6", LongType))))
        .load(path)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("v6")).cast("double") / 1e6, 6).as("v"))
        .orderBy(col("event_type"))
    }),

    "sink_parquet" -> ((s, dir) => {
      val path = Scratch.fixture(s, "sink", dir).toString
      t(s, dir, "lineitem")
        .write.mode(SaveMode.Overwrite).partitionBy("l_returnflag").parquet(path)
      s.read.parquet(path)
        .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"))
    }),

    // nested-document flatten — the document-store ingest shape the
    // reference spec's transform stage targets (README:23-24 "reformat
    // for MongoDB compatibility"): orders arrive as JSON documents with
    // an embedded items ARRAY, are read under an explicit nested schema
    // (struct + array<struct> — no inference pass at scale), exploded to
    // item grain, and re-aggregated. Staged once from the relational
    // tables, so the DuckDB oracle recomputes the same totals straight
    // from orders⋈lineitem — any flatten/parse bug breaks the hash.
    "scan_json_nested" -> ((s, dir) => {
      val path = stageNestedJson(s, dir)
      val schema = StructType(Seq(
        StructField("o", LongType), StructField("status", StringType),
        StructField("items", ArrayType(StructType(Seq(
          StructField("l", IntegerType), StructField("qty", DoubleType),
          StructField("price", DoubleType)))))))
      s.read.schema(schema).json(path)
        .select(col("o"), col("status"), explode(col("items")).as("it"))
        .groupBy(col("status"))
        .agg(countDistinct(col("o")).as("n_orders"), count(lit(1)).as("n_items"),
          dsum(col("it.qty")).as("qty"), dsum(col("it.price")).as("price"))
        .orderBy(col("status"))
    }),

    // dynamic partition overwrite — the incremental-reprocess write at
    // 100 TB: a nightly job recomputes ONE partition and swaps it in
    // place; every other partition's files stay untouched (no full-table
    // rewrite, no read-modify-write of unrelated data). A STATIC
    // overwrite here would truncate the whole table root — the read-back
    // would lose 4 of 5 langs and the oracle would catch it, so the
    // oracle checks the overwrite MODE, not just the row values. The mode
    // is a per-write option (no session-conf mutation leaking to peers).
    "sink_partition_overwrite" -> ((s, dir) => {
      val path = Scratch.fixture(s, "sinkpo", dir).toString
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      docs.withColumn("rev", lit(0L))
        .write.mode(SaveMode.Overwrite).partitionBy("lang").parquet(path)
      docs.filter(col("lang") === "en").withColumn("rev", lit(1L))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(path)
      s.read.parquet(path)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), max(col("rev")).as("rev"),
          dsum(col("n_chars")).as("chars"))
        .orderBy(col("lang"))
    }),

    // the small-files problem and its maintenance fix, end to end: a
    // streaming/micro-batch ingest fragments each partition dir into many
    // tiny files (staged here as repartition(16) before partitionBy);
    // compaction redistributes by the partition column — each lang's rows
    // land in exactly ONE task, so each dir compacts to ONE file — and
    // sorts within partitions so the rewritten files range-scan on doc_id.
    // At 100 TB this rewrite is what keeps scan task counts (and NameNode/
    // listing pressure) proportional to data size, not to ingest cadence;
    // per-partition file counts are audited DISTRIBUTEDLY via
    // input_file_name() — no driver-side filesystem walk.
    "sink_compact" -> ((s, dir) => {
      val compact = stageCompact(s, dir)
      s.read.parquet(compact)
        // project the (non-deterministic) file name BEFORE aggregating —
        // Spark rejects non-deterministic expressions as direct agg args
        .select(col("lang"), input_file_name().as("f"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("f")).as("n_files"))
        .orderBy(col("lang"))
    }),

    // schema evolution on ingest (the ETL reality the spec's re-ingest
    // loop implies): batch 1 lands without a column, batch 2 adds it;
    // mergeSchema unifies, older rows read as NULL. Fixture staged once.
    "scan_evolve" -> ((s, dir) => {
      val path = Scratch.fixture(s, "evolve", dir).toString
      if (!Files.exists(Paths.get(path, "v2", "_SUCCESS"))) {
        val o = t(s, dir, "orders")
        o.filter(col("o_orderkey") % 2 === 0)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode(SaveMode.Overwrite).parquet(s"$path/v1")
        o.filter(col("o_orderkey") % 2 === 1)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
          .write.mode(SaveMode.Overwrite).parquet(s"$path/v2")
      }
      s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
        .groupBy(coalesce(col("o_orderstatus"), lit("pre_schema")).as("status"))
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("status"))
    }),

    // validation stage with a reason taxonomy: invalid rows are routed to
    // quarantine tagged with WHY they failed (first matching rule wins) —
    // the spec's "validate responses" stage as a per-row expression.
    // The raw synthetic events are all valid, so deterministic corruption
    // is injected (every 7th value negated, every 13th type garbled) to
    // keep the oracle non-vacuous: it must compare real quarantined rows.
    "ingest_quarantine" -> ((s, dir) => {
      events(s, dir)
        .withColumn("value",
          when(col("event_id") % 7 === 0, -col("value")).otherwise(col("value")))
        .withColumn("event_type",
          when(col("event_id") % 13 === 0, concat(lit("x_"), col("event_type")))
            .otherwise(col("event_type")))
        .withColumn("reason",
          when(col("user_id").isNull, "missing_user")
            .when(col("ts").isNull, "missing_ts")
            .when(col("value") < 0, "negative_value")
            .when(!col("event_type").isin(EventTypes: _*),
              "unknown_type"))
        .filter(col("reason").isNotNull)
        .select(col("event_id"), col("event_type"), col("reason"))
        .orderBy(col("event_id"))
    }),

    // Declarative data-quality rule report — the validation stage as a
    // RULE TABLE rather than a row filter (ingest_quarantine routes rows;
    // this scores the dataset): five rules spanning the DQ taxonomy —
    // referential integrity (FK orphans via LEFT ANTI), domain range,
    // completeness (nulls), uniqueness (duplicate keys), and temporal
    // sanity — each emitting (rule, n_checked, n_violations, status).
    // Shape: the orders projection is pinned once; three of five rules
    // share ONE scalar agg over it, uniqueness is a key-grain agg,
    // integrity one anti-join against the broadcast dim. At 100 TB this
    // is the nightly DQ job: rules-per-pass, never pass-per-rule.
    "etl_dq_report" -> ((s, dir) => {
      val o = persistShared("dq_orders", t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          col("o_orderdate")))
      val scalars = o.agg(count(lit(1)).as("n"),
        count(when(col("o_totalprice") <= 0, 1)).as("v_range"),
        count(when(col("o_orderdate").isNull, 1)).as("v_null"),
        count(when(col("o_orderdate") > lit("1998-12-31").cast("date"), 1))
          .as("v_future"))
      val dups = o.groupBy(col("o_orderkey")).agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(when(col("cnt") > 1, col("cnt") - 1)), lit(0L))
          .as("v_dup"), sum(col("cnt")).as("n"))
      val orph = o.join(
          broadcast(t(s, dir, "customer").select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("v_orph"))
        .crossJoin(broadcast(o.agg(count(lit(1)).as("n"))))
      def row(rule: String, df: DataFrame, v: Column, n: Column): DataFrame =
        df.select(lit(rule).as("rule"), n.as("n_checked"),
          v.cast("long").as("n_violations"),
          when(v === 0, "pass").otherwise("fail").as("status"))
      row("completeness_orderdate", scalars, col("v_null"), col("n"))
        .unionAll(row("domain_totalprice_positive", scalars, col("v_range"), col("n")))
        .unionAll(row("integrity_custkey_fk", orph, col("v_orph"), col("n")))
        .unionAll(row("temporal_orderdate_bound", scalars, col("v_future"), col("n")))
        .unionAll(row("uniqueness_orderkey", dups, col("v_dup"), col("n")))
        .orderBy(col("rule"))
    }),

    // Cross-table freshness audit — "which feed went stale" (the pager
    // alarm beside etl_dq_report's per-row rules and the referential
    // check's FK edges): per-table row count + max event day, staleness
    // measured against the CORPUS horizon (max across tables — a
    // deterministic reference, no wall clock in the plan). Each table's
    // 1-row summary materializes eagerly (the referential-check lesson)
    // so the composed report replays nothing; horizon is a whitelisted
    // broadcast 1-row crossJoin.
    "etl_freshness_report" -> ((s, dir) => {
      def row(name: String, df: DataFrame, dayCol: Column): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), max(dayCol).as("max_day"))
          .select(lit(name).as("table_name"), col("n_rows"), col("max_day"))
          .transform(RoundPin.pin)
      val m = row("events", events(s, dir), col("ts").cast("date"))
        .unionAll(row("orders", t(s, dir, "orders"),
          col("o_orderdate").cast("date")))
        .unionAll(row("lineitem", t(s, dir, "lineitem"),
          col("l_shipdate").cast("date")))
      val h = m.agg(max(col("max_day")).as("h_day"))
      m.crossJoin(broadcast(h))
        .select(col("table_name"), col("n_rows"), col("max_day"),
          datediff(col("h_day"), col("max_day")).as("staleness_days"),
          when(datediff(col("h_day"), col("max_day")) <= 30, 1).otherwise(0)
            .as("fresh"))
        .orderBy(col("table_name"))
    }),

    // Source↔target reconciliation — the post-load audit every
    // warehouse runs (did the load drop rows? did amounts drift?):
    // the "target" is the source under two deterministic hash faults
    // (1/997 rows dropped, 1/991 amounts bumped one cent — the defect
    // classes a real loader produces), and the report localizes both
    // per status with integer-cent exactness. Counts and cent sums
    // aggregate map-side per scan — at 100 TB this is two scans and a
    // 5-row compare, never a row-level join.
    // Order-independent per-partition content digests — the cross-system
    // reconciliation primitive etl_reconcile's count/sum probes can't
    // finish (two counts can match while rows differ): each row hashes a
    // canonical '|'-joined rendering through md5, the hex prefix folds to
    // an integer via a positional-byte polynomial, and the digest SUMS
    // per partition — order-independence is the point (two systems with
    // different physical row orders exchange K partition rows, not
    // terabytes, to find the partition that diverged). Sums ride
    // DECIMAL(38,0)/HUGEINT (the per-row term reaches ~1e14), the
    // published digest is the mod-2³¹−1 residue. Pure scan + hash agg —
    // the 100 TB shape (and the digest re-partitions trivially: any
    // partition split sums to the same total).
    "etl_partition_digest" -> ((s, dir) => {
      val canon = concat_ws("|", col("o_orderkey"),
        col("o_orderstatus"),
        expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)"))
      val term = (1 to 6).map(k =>
        ascii(substring(md5(canon.cast("binary")), k, 1)) *
          lit(1L << (8 * (k - 1)))).reduce(_ + _)
      t(s, dir, "orders")
        .select(date_trunc("month", col("o_orderdate")).cast("date")
          .as("month"), term.cast(DecimalType(38, 0)).as("d"))
        .groupBy(col("month"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("d")).as("dsum"))
        .select(col("month"), col("n_rows"),
          (col("dsum") % lit(2147483647L)).cast("long").as("digest"))
        .orderBy(col("month"))
    }),

    "etl_reconcile" -> ((s, dir) => {
      def cents = expr("CAST(round(o_totalprice * 100, 0) AS BIGINT)")
      def h(m: Int) =
        (col("o_orderkey") % lit(2147483648L)) * lit(2654435761L) %
          lit(2147483648L) % m
      val src = t(s, dir, "orders")
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("src_rows"), sum(cents).as("src_cents"))
      val tgt = t(s, dir, "orders")
        .filter(h(997) =!= 0)
        .groupBy(col("o_orderstatus").as("status"))
        .agg(count(lit(1)).as("tgt_rows"),
          sum(cents + when(h(991) === 0, 1L).otherwise(0L)).as("tgt_cents"))
      src.join(tgt, Seq("status"))
        .select(col("status"), col("src_rows"), col("tgt_rows"),
          (col("src_rows") - col("tgt_rows")).as("missing_rows"),
          col("src_cents"), col("tgt_cents"),
          (col("tgt_cents") - col("src_cents")).as("cents_drift"))
        .orderBy(col("status"))
    }),

    // Referential-integrity audit across the star schema's four FK edges
    // — etl_dq_report's cross-TABLE companion (that one checks one
    // table's internal rules; this one checks the EDGES a warehouse
    // load can silently break: orphan facts, childless parents, dangling
    // dims). Each edge is ONE anti-join count: the two fact⋈fact edges
    // shuffle once on the join key, the two fact⋈dim edges broadcast
    // the dim — at 100 TB exactly the plan you'd want. Key frames are
    // persisted (each feeds its total AND ≥1 anti-join); the four
    // result rows compose via whitelisted broadcast 1-row crossJoins.
    "etl_referential_check" -> ((s, dir) => {
      val ok = persistShared("ref_ok",
        t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")))
      val lk = persistShared("ref_lk",
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")))
      // each 1-row count materializes EAGERLY (localCheckpoint) so the
      // composed 4-row union replays none of the cached key frames —
      // without this the final plan scanned the caches 10× (the
      // InMemoryTableScan>8 lint caught it; graph_hits' r9 lesson)
      def cnt(df: DataFrame, as: String): DataFrame =
        df.agg(count(lit(1)).as(as)).transform(RoundPin.pin)
      val nOk = cnt(ok, "n_rows"); val nLk = cnt(lk, "n_rows")
      def row(rel: String, orphans: DataFrame, total: DataFrame): DataFrame =
        cnt(orphans, "n_orphans").crossJoin(total)
          .select(lit(rel).as("relationship"), col("n_rows"), col("n_orphans"),
            when(col("n_orphans") === 0, "pass").otherwise("fail").as("status"))
      val liOrph = lk.join(ok.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      val childless = ok.join(lk.select(col("l_orderkey")),
        col("o_orderkey") === col("l_orderkey"), "left_anti")
      val custOrph = ok.join(
        broadcast(t(s, dir, "customer").select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      val partOrph = lk.join(
        broadcast(t(s, dir, "part").select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"), "left_anti")
      row("lineitem_to_orders", liOrph, nLk)
        .unionAll(row("orders_to_lineitem_childless", childless, nOk))
        .unionAll(row("orders_to_customer", custOrph, nOk))
        .unionAll(row("lineitem_to_part", partOrph, nLk))
        .orderBy(col("relationship"))
    }),

    "ingest_audit" -> ((s, dir) => {
      events(s, dir)
        .select(col("event_id"), col("event_type"))
        .withColumn("_ingested_at", lit("2026-01-01 00:00:00").cast("timestamp"))
        .withColumn("_source", lit("events_api"))
        .orderBy(col("event_id"))
    }),

    // pipeline observability (the spec's monitoring concern): metrics ride
    // the ingest job itself via Dataset.observe — no second scan of the
    // data, which is the only affordable way to count/validate at 100 TB.
    // The query's output IS the observed metrics row, so the oracle checks
    // the observation machinery end to end.
    "ingest_observe" -> ((s, dir) => {
      import org.apache.spark.sql.Observation
      val obs = Observation()
      events(s, dir)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          dsum(col("value")).as("sum_value"),
          count(when(col("value") < 1.0, 1)).as("n_small"))
        .write.format("noop").mode(SaveMode.Overwrite).save()
      val m = obs.get
      import s.implicits._
      Seq((m("n_rows").asInstanceOf[Long],
        m("sum_value").asInstanceOf[Double],
        m("n_small").asInstanceOf[Long]))
        .toDF("n_rows", "sum_value", "n_small")
    }),

    "upsert_load" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val batch1 = o
        .withColumn("_ingested_at", lit("2026-01-01 00:00:00").cast("timestamp"))
      val batch2 = o.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 1.1)
        .withColumn("_ingested_at", lit("2026-01-02 00:00:00").cast("timestamp"))
      val w = Window.partitionBy(col("o_orderkey"))
        .orderBy(col("_ingested_at").desc)
      batch1.unionByName(batch2)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_orderkey"), r6(col("o_totalprice")).as("price"), col("_ingested_at"))
        .orderBy(col("o_orderkey"))
    }),

    // Ingestion-gap detection — the observability twin of
    // etl_watermark_load: against the full hourly spine (global min..max
    // hour × event type), which expected partitions arrived EMPTY? The
    // backfill planner every scheduled pipeline runs before declaring a
    // day complete. Spine = tiny type dim × a generated calendar
    // sequence (ts_resample's spine precedent — never a fact-sized
    // cross); the presence probe is one hour-grain LEFT join. Output is
    // the per-type gap summary with first/last missing hour.
    // Out-of-order arrival report — the watermark-sizing read every
    // streaming deployment needs BEFORE picking a lateness bound
    // (stream_watermark assumes 10 minutes; this measures what the
    // source actually does): within each user's arrival order
    // (event_id is the arrival proxy), an event is LATE if its ts
    // precedes the running max; lateness = that regression in seconds.
    // Per-user windows (never a global sort), exact integer µs math,
    // one fact pass to a 1-row report: late share, max and mean
    // lateness — the numbers that justify (or indict) the 10-minute
    // default.
    "etl_disorder_report" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val e = events(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tu"))
        .withColumn("maxprev", max(col("tu")).over(w))
        .withColumn("late_us",
          when(col("maxprev").isNotNull && col("tu") < col("maxprev"),
            col("maxprev") - col("tu")).otherwise(lit(0L)))
      e.agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        round(sum(when(col("late_us") > 0, 1L).otherwise(0L)).cast("double") /
          count(lit(1)), 6).as("late_share"),
        round(max(col("late_us")).cast("double") / 1000000.0, 6)
          .as("max_lateness_s"),
        round(sum(col("late_us")).cast("double") / count(lit(1)) / 1000000.0, 6)
          .as("mean_lateness_s"))
    }),

    "etl_gap_detect" -> ((s, dir) => {
      // ONE fact pass: the pinned hour-grain rollup also supplies the
      // calendar bounds (date_trunc is monotone, so min/max of truncated
      // hours = truncated min/max ts) and the type dim — events never
      // re-scans for either
      val hourly = persistShared("gap_hourly", events(s, dir)
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
        .agg(count(lit(1)).as("n")))
      val bounds = hourly.agg(min(col("hr")).as("lo"), max(col("hr")).as("hi"))
      val types = hourly.select(col("event_type")).distinct()
      val spine = types.crossJoin(broadcast(bounds))
        .select(col("event_type"),
          expr("CAST((CAST(hi AS LONG) - CAST(lo AS LONG)) / 3600 AS BIGINT) + 1")
            .as("n_expected"),
          explode(expr("sequence(lo, hi, interval 1 hour)")).as("hr"))
      spine.join(hourly, Seq("event_type", "hr"), "left")
        .groupBy(col("event_type"))
        .agg(max(col("n_expected")).as("n_expected_hours"),
          count(when(col("n").isNull, 1)).as("n_missing_hours"),
          min(when(col("n").isNull, col("hr"))).as("first_gap"),
          max(when(col("n").isNull, col("hr"))).as("last_gap"))
        .orderBy(col("event_type"))
    }),

    // Incremental watermark extract — the batch-ETL counterpart of
    // stream_watermark and the missing third of the load kit beside
    // upsert_load (how rows land) and cdc_apply (how changes fold): a
    // real incremental job reads back the persisted high-watermark and
    // extracts ONLY rows past it. The "previous load" watermark derives
    // deterministically (max ts over the first fixture fortnight — the
    // state a checkpoint table would hold), the delta scan is one
    // predicate past it (at scale: a partition-pruned range scan, never
    // a full-table diff), and the new watermark comes out with the batch
    // stats a scheduler records.
    "etl_watermark_load" -> ((s, dir) => {
      val e = events(s, dir)
      val wm = e.filter(col("ts") < lit("2024-01-16 00:00:00").cast("timestamp"))
        .agg(max(col("ts")).as("wm"))
      e.crossJoin(broadcast(wm))
        .filter(col("ts") > col("wm"))
        .agg(count(lit(1)).as("n_new_rows"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("ts")).as("first_new_ts"),
          max(col("ts")).as("new_watermark"))
    }),

    // full CDC apply — the Delta/Iceberg MERGE kernel as pure relational
    // ops: a change feed of I(nsert)/U(pdate)/D(elete) rows folds into the
    // base snapshot as (base ANTI-JOIN changed-keys) UNION ALL (changes
    // minus deletes). Both legs are key-hash joins; the change feed is
    // normally tiny vs the base, so at scale the anti join broadcasts the
    // key set and the base never shuffles — per-batch cost O(changes),
    // not O(base), same arithmetic as the stream_upsert_sink's
    // partition-pruned merge but expressed as one batch plan. Feed here is
    // derived deterministically from orders: key%10==8 inserts (keys absent
    // from base), %10<=1 updates (price bump), %10==2 deletes.
    "cdc_apply" -> ((s, dir) => {
      val all = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val base = all.filter(col("o_orderkey") % 10 < 8)
      // the change feed probes the anti-join AND unions into the result —
      // pinned so its scan subtree runs once (a real CDC feed is the
      // small side by construction; persisting it is the standard shape)
      val feed = persistShared("cdc_apply_feed", all
        .withColumn("op",
          when(col("o_orderkey") % 10 === 8, "I")
            .when(col("o_orderkey") % 10 <= 1, "U")
            .when(col("o_orderkey") % 10 === 2, "D"))
        .filter(col("op").isNotNull)
        .withColumn("o_totalprice",
          when(col("op") === "U", round(col("o_totalprice") * 1.1, 6))
            .otherwise(r6(col("o_totalprice")))))
      base.join(feed.select(col("o_orderkey")), Seq("o_orderkey"), "left_anti")
        .select(col("o_orderkey"), col("o_orderstatus"), r6(col("o_totalprice")).as("o_totalprice"))
        .unionByName(feed.filter(col("op") =!= "D")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
        .orderBy(col("o_orderkey"))
    }),

    // SCD Type-2 dimension history — the spec's "audits or updates"
    // (README.md:29) done the warehouse way: a changed attribute closes the
    // old row's validity window and opens a new current row; unchanged keys
    // keep one open-ended row. One window over (key, valid_from).
    "scd2_history" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_custkey")).orderBy(col("valid_from"))
      val v1 = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        .withColumn("valid_from", lit("2026-01-01 00:00:00").cast("timestamp"))
      val v2 = v1.filter(col("c_custkey") % 4 === 0)
        .withColumn("segment", lit("MOVED"))
        .withColumn("valid_from", lit("2026-02-01 00:00:00").cast("timestamp"))
      v1.unionByName(v2)
        // open-row sentinel stays inside pandas' datetime64[ns] range
        // (max 2262-04-11) so the verify dump round-trips; 9999-12-31
        // overflows the driver-side compare.
        .withColumn("valid_to",
          coalesce(lead(col("valid_from"), 1).over(w),
            lit("2200-01-01 00:00:00").cast("timestamp")))
        .withColumn("is_current", lead(col("valid_from"), 1).over(w).isNull)
        .orderBy(col("c_custkey"), col("valid_from"))
    }),

    // Point-in-time (temporal version) join — the feature-store
    // correctness primitive (training labels must see the dim version
    // valid AT FACT TIME, or the model trains on leakage): facts
    // equi-join the SCD2-shaped version table on the key, the validity
    // interval applies as a post-join predicate — one co-partitioned
    // shuffle, versions-per-key bounded (=2 here), never a range
    // explosion. The rollup by effective segment makes the time travel
    // visible: orders after the 1996 move land in MOVED.
    "join_temporal_version" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_custkey")).orderBy(col("valid_from"))
      val v1 = t(s, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        .withColumn("valid_from", lit("1992-01-01").cast("date"))
      val v2 = v1.filter(col("c_custkey") % 4 === 0)
        .withColumn("segment", lit("MOVED"))
        .withColumn("valid_from", lit("1996-01-01").cast("date"))
      val vers = v1.unionByName(v2)
        .withColumn("valid_to", coalesce(lead(col("valid_from"), 1).over(w),
          lit("2200-01-01").cast("date")))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderdate").cast("date").as("od"),
          col("o_totalprice"))
        .join(vers, col("o_custkey") === col("c_custkey") &&
          col("od") >= col("valid_from") && col("od") < col("valid_to"))
        .groupBy(col("segment"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("revenue"))
        .orderBy(col("segment"))
    }),

    // §2.I multimodal: opaque binary payload columns flow through the
    // relational pipeline with typed metadata.
    "multimodal_cols" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("payload", encode(col("text"), "UTF-8"))
        .select(
          col("doc_id"),
          octet_length(col("payload")).as("n_bytes"),
          (decode(col("payload"), "UTF-8") === col("text")).as("roundtrip_ok"),
          base64(encode(substring(col("text"), 1, 12), "UTF-8")).as("head_b64"))
        .orderBy(col("doc_id"))
    }))

  val oracles: Map[String, String] = Map(
    "scan_parquet" ->
      """SELECT p_partkey, p_name, p_size FROM part WHERE p_size > 25 ORDER BY p_partkey""",
    "scan_partitioned" ->
      """SELECT o_orderkey, round(CAST(o_totalprice AS DOUBLE), 6) AS price
         FROM orders WHERE o_orderstatus = 'F' ORDER BY o_orderkey""",
    "scan_jsonl" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INTEGER) AS k, count(1) AS n
         FROM events GROUP BY k ORDER BY k""",
    "scan_csv" ->
      """SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM events GROUP BY event_type ORDER BY event_type""",
    // XML text round-trips doubles through the same shortest-repr string
    // form as CSV, so the parquet-derived aggregate reproduces it exactly
    "scan_xml" ->
      """SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM events GROUP BY event_type ORDER BY event_type""",
    // the parse round-trips doubles through Spark's shortest-repr string
    // form, so aggregating the ORIGINAL values reproduces it exactly
    "scan_text" ->
      """SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM (SELECT CASE WHEN event_id % 97 = 0 THEN '_malformed' ELSE event_type END AS event_type,
                      CASE WHEN event_id % 97 = 0 THEN NULL ELSE value END AS value
               FROM events)
         GROUP BY event_type ORDER BY event_type""",
    "sink_dsv2" ->
      """SELECT lang, count(1) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS chars
         FROM documents GROUP BY lang ORDER BY lang""",
    // sha256(VARCHAR) hashes the string's UTF-8 bytes — exactly the bytes
    // the fixture wrote, so digests match Spark's sha2(content, 256)
    "scan_binaryfile" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                sha256(text) AS digest
         FROM documents WHERE doc_id < 64 ORDER BY doc_id""",
    "scan_orc" ->
      """SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v,
         count(DISTINCT user_id) AS n_users
         FROM events WHERE value >= 50.0 GROUP BY event_type ORDER BY event_type""",
    "scan_corrupt" ->
      """SELECT event_id % 10 = 0 AS is_corrupt,
         CASE WHEN event_id % 10 = 0 THEN -1
              ELSE coalesce(CAST(json_extract_string(props, '$.k') AS INTEGER), -1) END AS k,
         count(1) AS n
         FROM events GROUP BY 1, 2 ORDER BY is_corrupt, k""",
    "sink_jsonl" ->
      """SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
         FROM events GROUP BY event_type ORDER BY event_type""",
    "sink_csv" ->
      """SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000.0, 6) AS v
         FROM events GROUP BY event_type ORDER BY event_type""",
    "sink_xml" ->
      """SELECT event_type, count(1) AS n,
         round(CAST(sum(CAST(round(value * 1000000, 0) AS BIGINT)) AS DOUBLE)
               / 1000000.0, 6) AS v
         FROM events GROUP BY event_type ORDER BY event_type""",
    "sink_parquet" ->
      """SELECT l_returnflag, count(1) AS n FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "scan_json_nested" ->
      """SELECT o_orderstatus AS status,
         count(DISTINCT o_orderkey) AS n_orders, count(1) AS n_items,
         round(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6) AS qty,
         round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS price
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         WHERE o_orderkey < 300 GROUP BY status ORDER BY status""",
    // rev = 1 ONLY for the overwritten partition; the other langs keeping
    // their rows at rev 0 is what distinguishes dynamic from static
    // overwrite (static would leave only the en partition on disk)
    "sink_partition_overwrite" ->
      """SELECT lang, count(1) AS n_docs,
         CAST(CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS BIGINT) AS rev,
         round(CAST(sum(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE), 6) AS chars
         FROM documents GROUP BY lang ORDER BY lang""",
    // n_files = 1 is the compaction CONTRACT (hash-by-partition-column puts
    // each lang in exactly one writer task), so the oracle can state it
    "sink_compact" ->
      """SELECT lang, count(1) AS n_rows, CAST(1 AS BIGINT) AS n_files
         FROM documents GROUP BY lang ORDER BY lang""",
    "scan_evolve" ->
      """SELECT coalesce(CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END, 'pre_schema') AS status,
         count(1) AS n,
         round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6) AS total
         FROM orders GROUP BY status ORDER BY status""",
    "etl_freshness_report" ->
      """WITH m AS (
           SELECT 'events' AS table_name, count(1) AS n_rows,
                  max(CAST(ts AS DATE)) AS max_day FROM events
           UNION ALL
           SELECT 'orders', count(1), max(CAST(o_orderdate AS DATE)) FROM orders
           UNION ALL
           SELECT 'lineitem', count(1), max(CAST(l_shipdate AS DATE))
           FROM lineitem),
         h AS (SELECT max(max_day) AS h_day FROM m)
         SELECT table_name, n_rows, max_day,
                CAST(date_diff('day', max_day, h_day) AS INT) AS staleness_days,
                CAST(CASE WHEN date_diff('day', max_day, h_day) <= 30
                     THEN 1 ELSE 0 END AS INT) AS fresh
         FROM m, h ORDER BY table_name""",
    "etl_partition_digest" ->
      """WITH r AS (
           SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                  md5(concat_ws('|', o_orderkey, o_orderstatus,
                        CAST(round(o_totalprice * 100) AS BIGINT))) AS m
           FROM orders),
         d AS (
           SELECT month,
                  CAST(ascii(substr(m, 1, 1)) * 1
                     + ascii(substr(m, 2, 1)) * 256
                     + ascii(substr(m, 3, 1)) * 65536
                     + ascii(substr(m, 4, 1)) * 16777216
                     + ascii(substr(m, 5, 1)) * 4294967296
                     + ascii(substr(m, 6, 1)) * 1099511627776 AS HUGEINT) AS t
           FROM r)
         SELECT month, CAST(count(1) AS BIGINT) AS n_rows,
                CAST(sum(t) % 2147483647 AS BIGINT) AS digest
         FROM d GROUP BY month ORDER BY month""",
    "etl_reconcile" ->
      """WITH src AS (
           SELECT o_orderstatus AS status, count(1) AS src_rows,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT))
                    AS BIGINT) AS src_cents
           FROM orders GROUP BY 1),
         tgt AS (
           SELECT o_orderstatus AS status, count(1) AS tgt_rows,
                  CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)
                    + CASE WHEN ((o_orderkey % 2147483648) * 2654435761)
                                % 2147483648 % 991 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS tgt_cents
           FROM orders
           WHERE ((o_orderkey % 2147483648) * 2654435761)
                 % 2147483648 % 997 <> 0
           GROUP BY 1)
         SELECT src.status, src_rows, tgt_rows,
                src_rows - tgt_rows AS missing_rows,
                src_cents, tgt_cents,
                tgt_cents - src_cents AS cents_drift
         FROM src JOIN tgt ON src.status = tgt.status
         ORDER BY src.status""",
    "etl_referential_check" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem),
         ok AS (SELECT o_orderkey, o_custkey FROM orders),
         rows4 AS (
           SELECT 'lineitem_to_orders' AS relationship,
                  (SELECT count(1) FROM li) AS n_rows,
                  (SELECT count(1) FROM li WHERE NOT EXISTS
                    (SELECT 1 FROM ok WHERE o_orderkey = l_orderkey))
                    AS n_orphans
           UNION ALL
           SELECT 'orders_to_lineitem_childless',
                  (SELECT count(1) FROM ok),
                  (SELECT count(1) FROM ok WHERE NOT EXISTS
                    (SELECT 1 FROM li WHERE l_orderkey = o_orderkey))
           UNION ALL
           SELECT 'orders_to_customer',
                  (SELECT count(1) FROM ok),
                  (SELECT count(1) FROM ok WHERE NOT EXISTS
                    (SELECT 1 FROM customer WHERE c_custkey = o_custkey))
           UNION ALL
           SELECT 'lineitem_to_part',
                  (SELECT count(1) FROM li),
                  (SELECT count(1) FROM li WHERE NOT EXISTS
                    (SELECT 1 FROM part WHERE p_partkey = l_partkey)))
         SELECT relationship, n_rows, n_orphans,
                CASE WHEN n_orphans = 0 THEN 'pass' ELSE 'fail' END AS status
         FROM rows4 ORDER BY relationship""",
    "etl_dq_report" ->
      """WITH n AS (SELECT count(1) AS n FROM orders),
         scalars AS (
           SELECT max(n.n) AS n,
                  count(CASE WHEN o_totalprice <= 0 THEN 1 END) AS v_range,
                  count(CASE WHEN o_orderdate IS NULL THEN 1 END) AS v_null,
                  count(CASE WHEN o_orderdate > DATE '1998-12-31' THEN 1 END) AS v_future
           FROM orders, n),
         dups AS (
           SELECT coalesce(sum(CASE WHEN cnt > 1 THEN cnt - 1 END), 0) AS v_dup,
                  CAST(sum(cnt) AS BIGINT) AS n
           FROM (SELECT o_orderkey, count(1) AS cnt FROM orders GROUP BY 1)),
         orph AS (
           SELECT count(1) AS v_orph, max(n.n) AS n
           FROM orders o, n
           WHERE NOT EXISTS (SELECT 1 FROM customer c
                             WHERE c.c_custkey = o.o_custkey)),
         rows_ AS (
           SELECT 'completeness_orderdate' AS rule, n AS n_checked,
                  CAST(v_null AS BIGINT) AS n_violations,
                  CASE WHEN v_null = 0 THEN 'pass' ELSE 'fail' END AS status
           FROM scalars
           UNION ALL
           SELECT 'domain_totalprice_positive', n, CAST(v_range AS BIGINT),
                  CASE WHEN v_range = 0 THEN 'pass' ELSE 'fail' END FROM scalars
           UNION ALL
           SELECT 'integrity_custkey_fk', coalesce(n, (SELECT n FROM n)),
                  CAST(v_orph AS BIGINT),
                  CASE WHEN v_orph = 0 THEN 'pass' ELSE 'fail' END FROM orph
           UNION ALL
           SELECT 'temporal_orderdate_bound', n, CAST(v_future AS BIGINT),
                  CASE WHEN v_future = 0 THEN 'pass' ELSE 'fail' END FROM scalars
           UNION ALL
           SELECT 'uniqueness_orderkey', n, CAST(v_dup AS BIGINT),
                  CASE WHEN v_dup = 0 THEN 'pass' ELSE 'fail' END FROM dups)
         SELECT rule, n_checked, n_violations, status
         FROM rows_ ORDER BY rule""",
    "ingest_quarantine" ->
      """SELECT event_id, event_type, reason FROM (
           SELECT event_id, event_type,
             CASE WHEN user_id IS NULL THEN 'missing_user'
                  WHEN ts IS NULL THEN 'missing_ts'
                  WHEN value < 0 THEN 'negative_value'
                  WHEN event_type NOT IN ('error','signup','purchase','view','click')
                    THEN 'unknown_type' END AS reason
           FROM (
             SELECT event_id, user_id, ts,
               CASE WHEN event_id % 7 = 0 THEN -value ELSE value END AS value,
               CASE WHEN event_id % 13 = 0 THEN 'x_' || event_type ELSE event_type END AS event_type
             FROM events))
         WHERE reason IS NOT NULL ORDER BY event_id""",
    "ingest_observe" ->
      """SELECT count(1) AS n_rows,
         round(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS sum_value,
         count(CASE WHEN value < 1.0 THEN 1 END) AS n_small
         FROM events""",
    "ingest_audit" ->
      """SELECT event_id, event_type,
         TIMESTAMP '2026-01-01 00:00:00' AS _ingested_at, 'events_api' AS _source
         FROM events ORDER BY event_id""",
    "upsert_load" ->
      """SELECT o_orderkey, round(CAST(o_totalprice AS DOUBLE), 6) AS price, _ingested_at FROM (
           SELECT o_orderkey, o_totalprice, TIMESTAMP '2026-01-01 00:00:00' AS _ingested_at FROM orders
           UNION ALL
           SELECT o_orderkey, o_totalprice * 1.1, TIMESTAMP '2026-01-02 00:00:00' FROM orders
           WHERE o_orderkey % 3 = 0)
         QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY _ingested_at DESC) = 1
         ORDER BY o_orderkey""",
    "etl_disorder_report" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_us(ts) AS tu FROM events),
         p AS (
           SELECT tu, max(tu) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS maxprev
           FROM e),
         l AS (
           SELECT CASE WHEN maxprev IS NOT NULL AND tu < maxprev
                       THEN maxprev - tu ELSE 0 END AS late_us
           FROM p)
         SELECT count(1) AS n_events,
                CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_late,
                round(CAST(sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(1), 6) AS late_share,
                round(CAST(max(late_us) AS DOUBLE) / 1000000.0, 6)
                  AS max_lateness_s,
                round(CAST(sum(late_us) AS DOUBLE) / count(1) / 1000000.0, 6)
                  AS mean_lateness_s
         FROM l""",
    "etl_gap_detect" ->
      """WITH hourly AS (
           SELECT event_type, date_trunc('hour', ts) AS hr, count(1) AS n
           FROM events GROUP BY 1, 2),
         b AS (
           SELECT date_trunc('hour', min(ts)) AS lo,
                  date_trunc('hour', max(ts)) AS hi
           FROM events),
         ty AS (SELECT DISTINCT event_type FROM events),
         spine AS (
           SELECT ty.event_type,
                  CAST((epoch(hi) - epoch(lo)) / 3600 AS BIGINT) + 1 AS n_expected,
                  unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
           FROM ty CROSS JOIN b)
         SELECT s.event_type,
                CAST(max(n_expected) AS BIGINT) AS n_expected_hours,
                count(CASE WHEN h.n IS NULL THEN 1 END) AS n_missing_hours,
                min(CASE WHEN h.n IS NULL THEN s.hr END) AS first_gap,
                max(CASE WHEN h.n IS NULL THEN s.hr END) AS last_gap
         FROM spine s LEFT JOIN hourly h USING (event_type, hr)
         GROUP BY 1 ORDER BY 1""",
    "etl_watermark_load" ->
      """WITH wm AS (
           SELECT max(ts) AS wm FROM events
           WHERE ts < TIMESTAMP '2024-01-16 00:00:00'),
         n AS (SELECT e.user_id, e.ts FROM events e CROSS JOIN wm
               WHERE e.ts > wm.wm)
         SELECT count(1) AS n_new_rows,
                count(DISTINCT user_id) AS n_users,
                min(ts) AS first_new_ts,
                max(ts) AS new_watermark
         FROM n""",
    "cdc_apply" ->
      """WITH feed AS (
           SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 10 <= 1
                  THEN round(CAST(o_totalprice * 1.1 AS DOUBLE), 6)
                  ELSE round(CAST(o_totalprice AS DOUBLE), 6) END AS o_totalprice,
             CASE WHEN o_orderkey % 10 = 8 THEN 'I'
                  WHEN o_orderkey % 10 <= 1 THEN 'U'
                  WHEN o_orderkey % 10 = 2 THEN 'D' END AS op
           FROM orders WHERE o_orderkey % 10 IN (0, 1, 2, 8)),
         base AS (
           SELECT o_orderkey, o_orderstatus,
             round(CAST(o_totalprice AS DOUBLE), 6) AS o_totalprice
           FROM orders WHERE o_orderkey % 10 < 8)
         SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
         WHERE o_orderkey NOT IN (SELECT o_orderkey FROM feed)
         UNION ALL
         SELECT o_orderkey, o_orderstatus, o_totalprice FROM feed WHERE op <> 'D'
         ORDER BY o_orderkey""",
    "scd2_history" ->
      """SELECT c_custkey, segment, valid_from,
           coalesce(lead(valid_from, 1) OVER w, TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
           lead(valid_from, 1) OVER w IS NULL AS is_current
         FROM (
           SELECT c_custkey, c_mktsegment AS segment,
                  TIMESTAMP '2026-01-01 00:00:00' AS valid_from FROM customer
           UNION ALL
           SELECT c_custkey, 'MOVED', TIMESTAMP '2026-02-01 00:00:00' FROM customer
           WHERE c_custkey % 4 = 0)
         WINDOW w AS (PARTITION BY c_custkey ORDER BY valid_from)
         ORDER BY c_custkey, valid_from""",
    "join_temporal_version" ->
      """WITH vraw AS (
           SELECT c_custkey, c_mktsegment AS segment,
                  DATE '1992-01-01' AS valid_from FROM customer
           UNION ALL
           SELECT c_custkey, 'MOVED', DATE '1996-01-01' FROM customer
           WHERE c_custkey % 4 = 0),
         v AS (
           SELECT *, coalesce(lead(valid_from, 1) OVER (PARTITION BY c_custkey
                       ORDER BY valid_from), DATE '2200-01-01') AS valid_to
           FROM vraw)
         SELECT segment, count(1) AS n_orders,
                round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 6)
                  AS revenue
         FROM orders JOIN v ON o_custkey = c_custkey
           AND CAST(o_orderdate AS DATE) >= valid_from
           AND CAST(o_orderdate AS DATE) < valid_to
         GROUP BY segment ORDER BY segment""",
    "multimodal_cols" ->
      """SELECT doc_id, octet_length(encode(text)) AS n_bytes,
         decode(encode(text)) = text AS roundtrip_ok,
         to_base64(encode(substring(text, 1, 12))) AS head_b64
         FROM documents ORDER BY doc_id"""
  ).map { case (k, v) => k -> v.replaceAll("\\s+", " ").trim }
}
