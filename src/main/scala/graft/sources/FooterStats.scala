package graft.sources

import scala.jdk.CollectionConverters._
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.Path
import org.apache.parquet.column.values.bloomfilter.BloomFilter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ColumnChunkMetaData
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One zone-map row: a column chunk's footer statistics. */
final case class ZoneMapRow(file: String, row_group: Int, column_name: String,
                            n_values: Long, n_nulls: Long,
                            min_val: Double, max_val: Double)

/** Parquet footer statistics as a queryable table (s24) — the zone map.
  *
  * Every parquet file already carries per-row-group, per-column
  * min/max/null-count statistics in its footer; harvesting them costs a
  * footer read (KBs) per file, never a data scan. At corpus scale this
  * table IS the data-skipping index: planning a predicate against it
  * prunes whole files/row groups before any scan task launches —
  * the same statistics Spark's own scan uses for row-group skipping,
  * made available for offline layout analysis (is the table clustered
  * on this key? how selective would this predicate be?) and for
  * building external file-pruning manifests.
  *
  * Footer reads are distributed: the file LIST is driver-side (cheap —
  * it's a listing), the footer parsing runs in `mapPartitions` over the
  * list, so a million-file corpus fans across the cluster. Columns kept
  * are the ones whose footer stats are exact and portable: plain INT64
  * (no logical type — timestamps shift with timezone annotations) and
  * DOUBLE.
  */
object FooterStats {

  def zoneMap(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    require(paths.nonEmpty, "zoneMap needs at least one parquet path")
    footerSweep(spark, paths) { (p, reader) =>
      val file = new Path(p).getName
      reader.getFooter.getBlocks.asScala.toList.zipWithIndex.flatMap {
        case (block, gi) =>
          block.getColumns.asScala.toList.flatMap { c =>
            val pt = c.getPrimitiveType
            val stats = c.getStatistics
            val tn = pt.getPrimitiveTypeName.toString
            val keep = (tn == "INT64" &&
              pt.getLogicalTypeAnnotation == null) || tn == "DOUBLE"
            if (!keep || stats == null || !stats.hasNonNullValue) None
            else (stats.genericGetMin, stats.genericGetMax) match {
              case (mn: java.lang.Long, mx: java.lang.Long) =>
                Some(ZoneMapRow(file, gi, c.getPath.toDotString,
                  c.getValueCount, stats.getNumNulls,
                  mn.toDouble, mx.toDouble))
              case (mn: java.lang.Double, mx: java.lang.Double) =>
                Some(ZoneMapRow(file, gi, c.getPath.toDotString,
                  c.getValueCount, stats.getNumNulls,
                  mn.toDouble, mx.toDouble))
              case _ => None
            }
          }
      }
    }.toDF()
  }

  /** (file, n_row_groups) per input path, keyed by file NAME like
    * [[zoneMap]] rows. The denominator [[ScanPlanner]] needs for a
    * LOSSLESS range verdict: [[zoneMap]] emits a row only where a row
    * group actually carries stats, so "no intersecting stats row" alone
    * cannot distinguish "every row group provably misses" from "some
    * row group has no stats and can't be ruled out" — a foreign-written
    * file with stats on only part of its groups would be falsely
    * pruned.
    */
  def fileRowGroupCounts(spark: SparkSession, paths: Seq[String]): DataFrame = {
    import spark.implicits._
    require(paths.nonEmpty, "fileRowGroupCounts needs at least one parquet path")
    footerSweep(spark, paths)((p, reader) =>
      List((new Path(p).getName, reader.getFooter.getBlocks.size().toLong)))
      .toDF("file", "n_row_groups")
  }

  /** THE footer sweep every reader here runs: the file LIST stays on the
    * driver (cheap — it's a listing) and fans over up to 64 tasks; each
    * task opens one footer reader per path and hands it to `rows` with
    * the path verbatim. `rows` builds the file's rows in full (a strict
    * List) because the reader closes as soon as it returns.
    */
  private def footerSweep[T <: Product : TypeTag](spark: SparkSession, paths: Seq[String])(
      rows: (String, ParquetFileReader) => List[T]): Dataset[T] = {
    import spark.implicits._
    spark.createDataset(paths)
      .repartition(math.min(paths.size, 64))
      .mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        it.flatMap { p =>
          val reader = ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), conf))
          try rows(p, reader) finally reader.close()
        }
      }
  }

  /** Parquet BLOOM-FILTER probe (s25) — the zone map's point-lookup
    * sibling: min/max statistics prune RANGE predicates but are useless
    * for `key = x` on an unclustered column (every row group spans the
    * whole domain); the per-row-group bloom filters parquet writes when
    * `parquet.bloom.filter.enabled#col` is set answer exactly that.
    * Probing costs a footer + bloom-header read per row group, never a
    * data scan. Semantics are the pruning contract: `might_contain` is
    * the OR over all row groups of all files — false ⇒ the key is
    * PROVABLY absent (blooms have no false negatives), true ⇒ scan (or
    * exact-confirm) the surviving groups; a row group that carries NO
    * bloom for the column answers true ("cannot rule out"), never
    * false. Every probe key appears in the output exactly once as long
    * as the column exists in the layout (a misspelled column matches no
    * chunks and yields an empty frame — caller beware). Keys hash by
    * the column's PHYSICAL type: INT64 as Long, INT32 as Int
    * (writer-identical; a key outside Int range is provably absent from
    * an INT32 column, so false there is exact); any other physical type
    * answers true for every key ("cannot rule out") rather than risking
    * a false negative from a cross-type hash.
    *
    * Same distribution shape as [[zoneMap]]: driver-side file list,
    * footer/bloom reads fanned over `mapPartitions`.
    */
  def bloomProbe(spark: SparkSession, paths: Seq[String], column: String,
                 keys: Seq[Long]): DataFrame =
    bloomProbeByFile(spark, paths, column, keys)
      .groupBy("probe_key")
      .agg(max(col("might_contain")).as("might_contain"))

  /** Per-FILE bloom probe — the planner's form of [[bloomProbe]]:
    * (file, probe_key, might_contain) where `file` is the input path
    * verbatim and might_contain ORs over the file's row groups. A file
    * that does not carry the column at all emits NO rows — for an
    * `IN`-list predicate that is a correct prune (a missing column reads
    * as null and null never satisfies IN), distinct from the
    * stats-unavailable case, which answers true per chunk.
    */
  def bloomProbeByFile(spark: SparkSession, paths: Seq[String],
                       column: String, keys: Seq[Long]): DataFrame =
    probeBlooms(spark, paths, column, keys) { cc =>
      // The writer hashed the column's PHYSICAL representation, so the
      // probe must hash the same bytes: INT64 keys as-is; INT32 keys as
      // Int (the writer hashed 4-byte values — identical xxhash input
      // when the key fits, and a key OUTSIDE Int range is provably absent
      // from an INT32 column, so false is exact, not a guess, whether or
      // not a bloom exists). Any other physical type (BINARY, …) hashed
      // different bytes entirely — findHash could return false for a
      // PRESENT value, a silent false negative that breaks the
      // "false ⇒ provably absent" contract — so those answer true
      // ("cannot rule out"), exactly like a chunk with no bloom at all.
      val ptn = cc.getPrimitiveType.getPrimitiveTypeName
      // The INT32 exact path interprets the key as a SIGNED 32-bit value
      // (the fits-range shortcut and the k.toInt hash). That is only
      // sound when the logical annotation says the stored values ARE
      // signed ints (absent/int(≤32, signed)/date — Spark's own INT32
      // shapes). A foreign-written UINT32 column stores values up to
      // 2³²−1 whose int bit patterns are negative: a PRESENT 3e9 would be
      // declared "provably absent" by the range shortcut — a false
      // negative that breaks the contract and wrongly prunes files.
      // UINT32 / decimal / time annotations answer true per key (cannot
      // rule out), like any other foreign type. INT64 needs no such
      // gate: its probe hashes the key's raw 8-byte pattern with no range
      // shortcut, so `false` always means "this bit pattern is absent" —
      // exact whatever the annotation labels those bits.
      val int32Signed =
        cc.getPrimitiveType.getLogicalTypeAnnotation match {
          case null => true
          case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => i.isSigned
          case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => true
          case _ => false
        }
      if (ptn == INT64) Some(k => Some(b => b.findHash(b.hash(k))))
      else if (ptn == INT32 && int32Signed) Some { k =>
        if (k < Int.MinValue.toLong || k > Int.MaxValue.toLong) None
        else Some(b => b.findHash(b.hash(k.toInt)))
      }
      else None
    }

  /** STRING-keyed twin of [[bloomProbeByFile]] for BINARY-physical
    * columns: the writer of a string column hashed the UTF-8 bytes of
    * each value (parquet blooms hash `Binary` content with xxh64), so
    * hashing the probe key's own UTF-8 bytes reproduces the writer's
    * hash exactly — string-keyed layouts get REAL bloom pruning with
    * the same no-false-negative contract as the integer path.
    *
    * The exact path is gated on the column actually storing string
    * bytes: BINARY physical with a string/enum/json annotation (Spark
    * writes StringType as BINARY+UTF8) or no annotation at all (raw
    * bytes — byte-equality IS the comparison semantics). Any other
    * shape answers true for every key ("cannot rule out"): a DECIMAL/
    * BSON-annotated BINARY stores bytes that are not the display
    * string's UTF-8, and a non-BINARY physical type hashed numbers —
    * a cross-representation probe could declare a present value absent
    * and wrongly prune its file. Missing column ⇒ no rows for the file
    * (same intentional IN-list sharpening as the integer form).
    */
  def bloomProbeByFileString(spark: SparkSession, paths: Seq[String],
                             column: String, keys: Seq[String]): DataFrame =
    probeBlooms(spark, paths, column, keys) { cc =>
      val stringBytes = cc.getPrimitiveType.getPrimitiveTypeName == BINARY &&
        (cc.getPrimitiveType.getLogicalTypeAnnotation match {
          case null => true
          case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => true
          case _: LogicalTypeAnnotation.EnumLogicalTypeAnnotation => true
          case _: LogicalTypeAnnotation.JsonLogicalTypeAnnotation => true
          case _ => false
        })
      if (!stringBytes) None
      else Some { k =>
        val bin = org.apache.parquet.io.api.Binary.fromString(k)
        Some(b => b.findHash(b.hash(bin)))
      }
    }

  /** The one bloom-probe body. `exact` is the probe's type gate per
    * column chunk: None ⇒ the chunk's type is not what the probe hashes,
    * so every key answers true and no bloom is read; Some(test) ⇒ per
    * key, None when the type alone proves the key absent, else the bloom
    * lookup — which answers true when the chunk carries no bloom. A file
    * without the column emits no rows; might_contain ORs over a file's
    * row groups.
    */
  private def probeBlooms[K: TypeTag](spark: SparkSession, paths: Seq[String],
                                      column: String, keys: Seq[K])(
      exact: ColumnChunkMetaData => Option[K => Option[BloomFilter => Boolean]])
      : DataFrame = {
    import spark.implicits._
    require(paths.nonEmpty, "bloomProbe needs at least one parquet path")
    require(keys.nonEmpty, "bloomProbe needs at least one probe key")
    val keyList = keys.toList
    footerSweep(spark, paths) { (p, reader) =>
      reader.getFooter.getBlocks.asScala.toList.flatMap { block =>
        block.getColumns.asScala
          .find(_.getPath.toDotString == column).toList.flatMap { cc =>
            exact(cc) match {
              case None => keyList.map(k => (p, k, true))
              case Some(test) =>
                val bloom = reader.getBloomFilterDataReader(block).readBloomFilter(cc)
                keyList.map(k => (p, k, test(k).exists(t => bloom == null || t(bloom))))
            }
          }
      }
    }
      .toDF("file", "probe_key", "_might")
      .groupBy("file", "probe_key")
      .agg(max(col("_might")).as("might_contain"))
  }
}
