package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession, SaveMode}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths, Path}
import scala.jdk.CollectionConverters._

/** Iceberg-shaped table facade (SURVEY §7.5#2): the sandbox has no Iceberg jar,
  * so tables are bucketed partitioned Parquet plus a `_manifest.json` snapshot
  * file carrying the properties the north rule needs — per-partition lineage
  * (partition → row count), stage metadata, and an atomic "complete" marker that
  * makes every stage write idempotent and the pipeline checkpoint-resumable.
  *
  * Swap-in point for real Iceberg: replace save/load with
  * `df.writeTo(table).partitionedBy(bucket(N, col))` — the call sites and the
  * bucketing column stay identical.
  */
object TableFormat {

  val BucketCol = "part_bucket"

  /** Write `df` bucketed by xxhash64(keyCol) % buckets. Deterministic layout:
    * the same row lands in the same partition directory at any cluster size.
    *
    * Rows are repartitioned onto their bucket BEFORE the write: without it,
    * every input task fans out into every bucket directory (inputPartitions ×
    * buckets small files per stage — the classic small-files explosion that
    * kills a 10^12-doc table's metadata layer). One shuffle buys one
    * well-sized file per bucket per stage. */
  def save(df: DataFrame, path: String, keyCol: String, buckets: Int = 32,
           stage: String = "", extra: Map[String, String] = Map.empty): Unit = {
    val t0 = System.currentTimeMillis()
    val out = df.withColumn(BucketCol, pmod(xxhash64(col(keyCol)), lit(buckets.toLong)).cast("int"))
      .repartition(buckets, col(BucketCol))
    out.write.mode(SaveMode.Overwrite).partitionBy(BucketCol).parquet(path)
    // an Overwrite replaces file names under an already-listed path — drop the
    // session's cached FileIndex or later reads resolve to the deleted files
    df.sparkSession.catalog.refreshByPath(path)
    // Schema snapshot (pre-bucket-column): a stage whose output is
    // legitimately EMPTY (e.g. a clean corpus yields zero near-dup clusters)
    // writes no parquet part files under partitionBy, so a later load cannot
    // infer the schema from data. Iceberg carries the schema in table
    // metadata; this is our facade's equivalent.
    Files.writeString(Paths.get(path, "_schema.json"), df.schema.json)
    // bucket layout metadata (key column + modulus) recorded in the manifest:
    // what plans.BucketPrune needs to conjoin the partition predicate for
    // key-equality scans automatically (Iceberg keeps the same facts in its
    // partition spec)
    writeManifest(df.sparkSession, path, stage,
      extra + ("bucket_key" -> keyCol, "buckets" -> buckets.toString),
      writeMs = System.currentTimeMillis() - t0)
    // exact invalidation of the rule's layout cache: an mtime check alone
    // can miss a same-millisecond re-save with a different bucket count
    // (coarse-mtime filesystems), and a stale modulus prunes WRONG
    graft.plans.BucketPrune.invalidate(path)
  }

  /** Write `df` with a TWO-LEVEL layout `partCol=v/part_bucket=h` — the
    * vertical-partitioning triple-store layout (one predicate value, one
    * directory family). A constant in `partCol` then prunes whole value
    * directories at the scan (PartitionFilters, before any IO), and a
    * key-equality on `keyCol` still prunes to one bucket inside each value —
    * at 10^12 triples a constant-pred BGP step reads one predicate's worth
    * of the table, not the table.
    *
    * File-count discipline matches [[save]]: the repartition hashes exactly
    * the two layout columns, so every (value, bucket) combination lands on
    * one task → one file per leaf directory per stage, regardless of input
    * parallelism. Per-partition lineage in the manifest is keyed by the full
    * two-level path (`partCol=v/part_bucket=h`). `partCol` values must be
    * directory-safe (the KG predicates are fixed identifiers); they come
    * back as a string partition column on load, like Iceberg identity
    * partitioning. */
  def savePartitioned(df: DataFrame, path: String, partCol: String,
                      keyCol: String, buckets: Int = 32, stage: String = "",
                      extra: Map[String, String] = Map.empty): Unit = {
    val t0 = System.currentTimeMillis()
    val out = df.withColumn(BucketCol, pmod(xxhash64(col(keyCol)), lit(buckets.toLong)).cast("int"))
      .repartition(col(partCol), col(BucketCol))
    out.write.mode(SaveMode.Overwrite).partitionBy(partCol, BucketCol).parquet(path)
    df.sparkSession.catalog.refreshByPath(path)
    Files.writeString(Paths.get(path, "_schema.json"), df.schema.json)
    writeManifest(df.sparkSession, path, stage,
      extra + ("bucket_key" -> keyCol, "buckets" -> buckets.toString,
        "part_col" -> partCol),
      writeMs = System.currentTimeMillis() - t0,
      lineageCols = Seq(partCol, BucketCol))
    graft.plans.BucketPrune.invalidate(path)
  }

  /** Scale-adaptive bucket count (guide-§2 rule: derive partitioning from
    * input size, never from a constant tuned to one deployment): enough
    * buckets that a leaf holds ≤ ~targetRows rows (≈ the 128 MB–1 GB output
    * file-sizing guidance at the store's ~30–100 B triple rows), clamped to
    * [1, maxBuckets]. The same call yields 1 bucket per predicate for a
    * fixture-sized store — one well-sized file instead of 32 ten-row ones —
    * and hundreds for a corpus-scale one. Callers with a fixed production
    * layout keep passing an explicit bucket count. */
  def adaptiveBuckets(rows: Long, targetRows: Long = 4000000L,
                      maxBuckets: Int = 1024): Int = {
    val r = math.max(rows, 0L)
    // overflow-safe ceiling division (r + target - 1 wraps near Long.MaxValue)
    val q = r / targetRows + (if (r % targetRows == 0L) 0L else 1L)
    math.max(1L, math.min(maxBuckets.toLong, q)).toInt
  }

  private def writeManifest(spark: SparkSession, path: String, stage: String,
                            extra: Map[String, String], writeMs: Long,
                            lineageCols: Seq[String] = Seq(BucketCol)): Unit = {
    // Per-partition lineage counts from a scan that projects ONLY the bucket
    // partition column: the parquet reader materializes row counts from file
    // footers (zero data columns read), so this is metadata-priced even when
    // the table is huge — not a re-read of the data.
    val counts =
      try spark.read.parquet(path)
        .select(lineageCols.map(col): _*)
        .groupBy(lineageCols.map(col): _*).count()
        .collect()
        .map { r =>
          // single-level layouts keep the bare-bucket key (existing manifest
          // consumers parse it); two-level layouts key by the full leaf path
          val k =
            if (lineageCols.size == 1) r.get(0).toString
            else lineageCols.indices.map(i => s"${lineageCols(i)}=${r.get(i)}").mkString("/")
          (k, r.getLong(lineageCols.size))
        }
        .sortBy(_._1)
      catch {
        // an empty stage output writes no part files — zero partitions
        case e: org.apache.spark.sql.AnalysisException
            if e.getCondition == "UNABLE_TO_INFER_SCHEMA" => Array.empty[(String, Long)]
      }
    // Stage metrics beside the lineage: total rows, files, bytes on disk
    // (directory walk of what was just written — metadata-priced), and the
    // write's wall duration. What an operator dashboard reads per stage.
    val (nFiles, nBytes) = walkFilesBytes(Paths.get(path))
    publishManifest(path, extra + ("stage" -> stage), counts, nFiles, nBytes, writeMs)
  }

  /** Regular-file count + byte total under `root` (manifest/marker files
    * excluded). Metadata-priced: callers hand it either a whole fixture-scale
    * table or, on the update path, just the touched leaf directories. */
  private[graft] def walkFilesBytes(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val walk = Files.walk(root)
      try {
        var f = 0L; var b = 0L
        walk.iterator().asScala.foreach { p =>
          val name = p.getFileName.toString
          if (Files.isRegularFile(p) && !name.startsWith("_") && !name.startsWith(".")) {
            f += 1; b += Files.size(p)
          }
        }
        (f, b)
      } finally walk.close()
    }

  /** Assemble + atomically publish a manifest from PRE-COMPUTED lineage
    * counts and file metrics. [[save]]/[[savePartitioned]] feed it a full
    * recount of what they just wrote; the update path
    * ([[graft.kg.Update.applyDelta]]) feeds it a MERGE — untouched leaves
    * inherit their write-time counts, touched leaves are re-counted — so a
    * 10^12-row store's manifest refresh prices by the delta, not the table. */
  private[graft] def publishManifest(path: String, fields: Map[String, String],
                                     counts: Seq[(String, Long)],
                                     nFiles: Long, nBytes: Long,
                                     writeMs: Long): Unit = {
    val countsJson = counts.map { case (b, n) => s""""$b": $n""" }.mkString("{", ", ", "}")
    val metrics = s"""{"rows": ${counts.map(_._2).sum}, "files": $nFiles, """ +
      s""""bytes": $nBytes, "write_ms": $writeMs}"""
    // JSON-quote the flat fields: untrusted strings (the HTTP surface's
    // update_id stamp) ride here, and an unescaped quote or control char
    // would corrupt the store's completeness marker. readManifest decodes
    // the same escapes.
    val kv = (fields + ("wall_ms" -> System.currentTimeMillis().toString))
      .map { case (k, v) => s"""${jsonString(k)}: ${jsonString(v)}""" }.mkString(", ")
    val json = s"""{$kv, "partition_rows": $countsJson, "metrics": $metrics, "complete": true}"""
    // Atomic publish: the manifest is the stage's "complete" marker, so a
    // crash mid-write must not leave a readable half manifest (resume would
    // then trust a broken snapshot). Write to a temp name, fsync-free rename.
    val tmp = Paths.get(path, "._manifest.json.tmp")
    Files.writeString(tmp, json)
    try Files.move(tmp, Paths.get(path, "_manifest.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, Paths.get(path, "_manifest.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** True iff the path holds a complete snapshot (manifest present). */
  def isComplete(path: String): Boolean =
    Files.exists(Paths.get(path, "_manifest.json"))

  /** A parsed `_manifest.json`: the flat string fields (stage, bucket_key,
    * buckets, part_col, update lineage, …), the per-leaf row-count lineage,
    * and the global file metrics. */
  final case class Manifest(fields: Map[String, String],
                            leafRows: Seq[(String, Long)],
                            files: Long, bytes: Long) {
    def buckets: Int = fields.getOrElse("buckets", "32").toInt
  }

  /** `s` as a JSON string literal: quotes, backslashes and every control
    * char escaped. */
  private[graft] def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'           => sb.append("\\\"")
      case '\\'          => sb.append("\\\\")
      case '\n'          => sb.append("\\n")
      case '\r'          => sb.append("\\r")
      case '\t'          => sb.append("\\t")
      case c if c < ' '  => sb.append(f"\\u${c.toInt}%04x")
      case c             => sb.append(c)
    }
    sb.append('"').toString
  }

  private val jsonEscapeRe = """\\(u[0-9a-fA-F]{4}|.)""".r

  /** Decode the escapes [[jsonString]] writes in a string literal's body. */
  private def jsonUnescape(s: String): String =
    jsonEscapeRe.replaceAllIn(s, m => scala.util.matching.Regex.quoteReplacement(m.group(1) match {
      case "n" => "\n"
      case "r" => "\r"
      case "t" => "\t"
      case u if u.length == 5 => Integer.parseInt(u.substring(1), 16).toChar.toString
      case c => c
    }))

  private val manifestFieldRe =
    """"([A-Za-z_][A-Za-z0-9_]*)"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
  private val manifestLeafRe = """"([^"]+)"\s*:\s*(\d+)""".r

  /** Read back what [[publishManifest]] wrote — the metadata half of the
    * table, one small JSON file, no scan. The update path starts here:
    * layout facts (part_col/bucket_key/buckets) drive the delta's leaf
    * mapping, and the per-leaf counts are the lineage baseline the merged
    * manifest inherits for untouched leaves. */
  def readManifest(path: String): Manifest = {
    val text = Files.readString(Paths.get(path, "_manifest.json"))
    val fields = manifestFieldRe.findAllMatchIn(text)
      .map(m => m.group(1) -> jsonUnescape(m.group(2))).toMap
    def block(name: String): String = {
      val at = text.indexOf(s""""$name"""")
      if (at < 0) "{}"
      else {
        val open = text.indexOf('{', at)
        val close = text.indexOf('}', open) // leaf keys/values never nest
        text.substring(open, close + 1)
      }
    }
    val leaves = manifestLeafRe.findAllMatchIn(block("partition_rows"))
      .map(m => m.group(1) -> m.group(2).toLong).toSeq
    val met = manifestLeafRe.findAllMatchIn(block("metrics"))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    Manifest(fields, leaves, met.getOrElse("files", 0L), met.getOrElse("bytes", 0L))
  }

  /** The manifest's wall_ms completion stamp. Fails loudly on a missing or
    * malformed manifest — a silent 0 would make the NEXT stage's computed
    * wall ≈ the whole epoch and poison any timing breakdown built on it. */
  def manifestWallMs(path: String): Long =
    "\"wall_ms\": \"(\\d+)\"".r
      .findFirstMatchIn(Files.readString(Paths.get(path, "_manifest.json")))
      .getOrElse(throw new IllegalStateException(s"no wall_ms in $path/_manifest.json"))
      .group(1).toLong

  /** Per-stage wall seconds from consecutive manifest completion stamps
    * (shared by Bench's e2e breakdown and tools/E2eProbe — one parser, one
    * semantics). */
  def stageWallsSec(workDir: String, stages: Seq[String], startMs: Long): Seq[(String, Double)] = {
    val ends = stages.map(st => manifestWallMs(s"$workDir/$st"))
    stages.zip((startMs +: ends).sliding(2).map(p => math.max(p(1) - p(0), 0L) / 1e3).toSeq)
  }

  /** Load a table previously written by save (drops the bucket column).
    * An empty table (no part files) reconstructs from the schema snapshot. */
  def load(spark: SparkSession, path: String): DataFrame = {
    val schemaFile = Paths.get(path, "_schema.json")
    try spark.read.parquet(path).drop(BucketCol)
    catch {
      case e: org.apache.spark.sql.AnalysisException
          if e.getCondition == "UNABLE_TO_INFER_SCHEMA" && Files.exists(schemaFile) =>
        val schema = org.apache.spark.sql.types.DataType
          .fromJson(Files.readString(schemaFile))
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
  }

  /** The bucket a key lands in — same hash as `save`, computable anywhere. */
  def bucketOf(spark: SparkSession, key: String, buckets: Int = 32): Int =
    spark.range(1).select(pmod(xxhash64(lit(key)), lit(buckets.toLong)).cast("int"))
      .head().getInt(0)

  /** Point lookup: rows whose `keyCol` equals `key`, reading ONLY that key's
    * bucket directory (partition pruning on the bucket column — at 10^12-doc
    * scale a doc fetch touches 1/buckets of the table, and the pruned
    * partition shows up as PartitionFilters in the scan). */
  def lookup(spark: SparkSession, path: String, keyCol: String, key: String,
             buckets: Int = 32): DataFrame =
    spark.read.parquet(path)
      .filter(col(BucketCol) === bucketOf(spark, key, buckets) && col(keyCol) === key)
      .drop(BucketCol)
}
