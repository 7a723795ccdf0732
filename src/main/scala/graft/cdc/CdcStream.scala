package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming CDC: tail a rotating binlog directory with Structured
  * Streaming — a capability the reference cannot express at all (it
  * shells out to mysqlbinlog once, batch-only; main.py:90). Each newly
  * rotated file becomes micro-batch input; a file parses through the
  * SAME FSM, filter set, catalog join, and SQL renderer as the batch
  * path (`CdcJob.projectEvents` / `applyFilters` / `renderUnordered`
  * are shared, so the two paths cannot drift).
  *
  * Semantics: the file is the parallelism AND ordering unit — the
  * whole pipeline is stateless per file (flatMap + stream-static
  * broadcast join), so append mode needs no watermark and no state
  * store. Rows carry (file, seq) for sinks that need total order; a
  * GLOBAL sort is undefined on an unbounded stream, which is also why
  * flashback (a full-stream reversal) is batch-only and rejected here.
  *
  * At scale: binlogs rotate at a fixed size, so arrival rate is files/
  * minute and each micro-batch parses its new files in parallel; the
  * catalog is a broadcast dimension exactly as in batch. Its static
  * side is the driver-local relation `Catalog.resolve` returns, so a
  * micro-batch broadcasts it from the driver and never re-executes
  * the catalog's scans, aggregates or joins.
  */
object CdcStream {

  /** Rendered SQL as an unbounded append stream over `dir`.
    * Start with `.writeStream` (any append sink); order within a file
    * is emission order, cross-file order = the `file` column. */
  def changes(spark: SparkSession, dir: String, catalog: DataFrame,
      cfg: CdcConfig = CdcConfig()): DataFrame = {
    require(!cfg.flashback,
      "flashback reverses the whole stream and needs its end: batch-only " +
        "(CdcJob.run); a stream has no final event to start from")
    import spark.implicits._
    // Streaming twin of GtidPrune's seek: a file-stream source cannot
    // pre-prune a growing directory, but each arriving file's
    // PREVIOUS_GTIDS header still proves "everything requested precedes
    // this file" (S ⊆ P) during catch-up — skip the whole-file FSM walk
    // at header cost. (Parsed once on the driver; the closure ships the
    // tiny interval map.)
    val includeSet: Option[GtidSet.Set] = cfg.includeGtids.map(GtidSet.parse)
    val parsed = CdcJob.projectEvents(
      spark.readStream
        .option("wholetext", "true")
        .text(dir)
        .select(input_file_name().as("file"), col("value"))
        .as[(String, String)]
        .flatMap { case (file, text) =>
          val skip = includeSet.exists(s =>
            BinlogFsm.headerPrevGtids(text.linesIterator)
              .exists(p => GtidSet.isSubset(s, p)))
          if (skip) Iterator.empty
          else BinlogFsm.parse(file, text.linesIterator, cfg.includeDdl)
        }
        .toDF())
    CdcJob.renderUnordered(CdcJob.applyFilters(parsed, cfg), catalog, cfg)
  }

  /** The BINARY-source twin of `changes`: tail a directory of raw
    * `.binlog` files (no mysqlbinlog, no text step) — decode via
    * `sources.BinlogBinary.parseBytes` per newly arrived file, then
    * the same shared filter/catalog/render kernel. The `binaryFile`
    * format is a regular file-stream source, so rotation semantics,
    * statelessness, and per-file parallelism match the text path. */
  def changesBinary(spark: SparkSession, dir: String, catalog: DataFrame,
      cfg: CdcConfig = CdcConfig()): DataFrame = {
    require(!cfg.flashback,
      "flashback reverses the whole stream and needs its end: batch-only " +
        "(sources.BinlogBinary.run)")
    import spark.implicits._
    // streaming file sources need the schema up front; binaryFile's
    // is fixed by the format
    val binarySchema = org.apache.spark.sql.types.StructType.fromDDL(
      "path STRING, modificationTime TIMESTAMP, length LONG, content BINARY")
    // same catch-up seek as the text stream: header-proven stale files
    // (S ⊆ P) skip the full decode
    val includeSet: Option[GtidSet.Set] = cfg.includeGtids.map(GtidSet.parse)
    val parsed = CdcJob.projectEvents(
      spark.readStream
        .format("binaryFile")
        .schema(binarySchema)
        .load(dir)
        .select(col("path"), col("content"))
        .as[(String, Array[Byte])]
        .flatMap { case (file, bytes) =>
          val skip = includeSet.exists(s =>
            graft.sources.BinlogBinary.headerPrevGtids(bytes)
              .exists(p => GtidSet.isSubset(s, p)))
          if (skip) Seq.empty[graft.cdc.RawChange]
          else graft.sources.BinlogBinary.parseBytes(file, bytes, cfg.includeDdl)
        }
        .toDF())
    CdcJob.renderUnordered(CdcJob.applyFilters(parsed, cfg), catalog, cfg)
  }
}
