package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Versioned

/** The ONE executor-side decode of a versioned data file, shared by the
  * SQL row-level scan ([[RowLevelReaderFactory]]) and the change feed
  * ([[VersionedChangeReaderFactory]]): read `path` through the public
  * parquet-hadoop Group API under DRIVER-computed era recipes
  * (`fields`: (logical name, physical name or "", logical DDL) — rename
  * mapping, added-later nulls, widened casts via [[ParquetGroups.value]]),
  * minus the rows its MOR delete sidecars delete, and append
  * `constants` to every row (`_file` for the row-level scan; side,
  * from, to for the change feed).
  *
  * `dvFilters`: per key column, its recipe under this file's era plus
  * every sidecar path ([[VersionedFileReader.dvFilters]]); the reader
  * builds its own file's deleted-key sets ([[ParquetGroups.dvKeySet]]),
  * so driver memory stays O(paths), never O(deleted keys).
  * `otherDvFilters`, when non-empty, are the OTHER side's sidecar
  * filters of a change-feed pair (q318): emit ONLY the rows they delete
  * and `dvFilters` do not — one side of the pair's sidecar diff, read
  * as rows.
  */
private[v2] final class VersionedFileReader(conf: Configuration,
    path: String, fields: Array[(String, String, String)],
    dvFilters: Array[((String, String, String), Array[String])],
    otherDvFilters: Array[((String, String, String), Array[String])],
    constants: Array[Any]) extends PartitionReader[InternalRow] {

  private val reader: ParquetReader[Group] = ParquetReader
    .builder(new GroupReadSupport(), new Path(path))
    .withConf(conf)
    .build()
  private val types = fields.map(f => DataType.fromDDL(f._3))
  private def keySets(filters: Array[((String, String, String), Array[String])]) =
    filters.map { case ((_, phys, ddl), paths) =>
      val dt = DataType.fromDDL(ddl)
      (phys, dt, ParquetGroups.dvKeySet(conf, paths, new Path(path).getName, dt))
    }
  private val dvSets = keySets(dvFilters)
  private val otherSets = keySets(otherDvFilters)
  private var cur: InternalRow = _

  // absent (added after this file's era) or NULL physical field → null
  private def decode(g: Group, physical: String, dt: DataType): Any =
    if (physical.isEmpty || !g.getType.containsField(physical)) null
    else {
      val idx = g.getType.getFieldIndex(physical)
      if (g.getFieldRepetitionCount(idx) == 0) null
      else ParquetGroups.value(g, idx, dt)
    }

  // a null key never matches — a dv key is a real value by construction
  private def deleted(g: Group, sets: Array[(String, DataType, Set[Any])]): Boolean =
    sets.exists { case (phys, dt, set) =>
      val v = decode(g, phys, dt)
      v != null && set.contains(v)
    }

  // skip this side's deleted rows; with other-side filters, keep only
  // the rows those delete
  private def skip(g: Group): Boolean =
    deleted(g, dvSets) || (otherSets.nonEmpty && !deleted(g, otherSets))

  override def next(): Boolean = {
    var g = reader.read()
    while (g != null && skip(g)) g = reader.read()
    if (g == null) { cur = null; false }
    else {
      val n = fields.length
      val arr = new Array[Any](n + constants.length)
      var i = 0
      while (i < n) {
        arr(i) = decode(g, fields(i)._2, types(i))
        i += 1
      }
      System.arraycopy(constants, 0, arr, n, constants.length)
      cur = new GenericInternalRow(arr)
      true
    }
  }
  override def get(): InternalRow = cur
  override def close(): Unit = reader.close()
}

private[v2] object VersionedFileReader {
  /** The MOR delete filters of one manifest's data files, per era:
    * sidecars grouped by CURRENT key name (mapped forward through
    * `renames`), each key's recipe for the file's era under `changes`,
    * and the group's sidecar paths. `keyType` gives the key's LOGICAL
    * type; it and the recipes resolve only when a file asks, so a
    * manifest whose files are never read never needs its key columns.
    */
  def dvFilters(dir: String, changes: Seq[(Int, String, String, String)],
      dvs: Seq[Versioned.DvRef], renames: Seq[(Int, String, String)],
      keyType: String => DataType)
      : Int => Array[((String, String, String), Array[String])] =
    if (dvs.isEmpty) _ => Array.empty
    else {
      val byKey = dvs.groupBy(d => Versioned.currentName(d.keyName, d.gen,
          renames)).toSeq.sortBy(_._1)
        .map { case (kn, rs) =>
          (kn, rs.map(r => s"$dir/data/${r.file}").distinct.toArray)
        }
      lazy val recipes = Versioned.eraRecipes(changes,
        byKey.map { case (kn, _) => kn -> keyType(kn) })
      era => recipes(era).zip(byKey.map(_._2))
    }
}

/** Group-API primitive extraction under a LOGICAL Spark type.
  * Branches on the file's OWN primitive so mixed-era (widened)
  * histories decode without per-era reader code.
  */
private[v2] object ParquetGroups {

  /** The deleted-key SET one target data file must filter by: scan the
    * sidecar parquets for rows whose `__target` is `target`, decoding
    * `__key` under the CURRENT logical type (each sidecar's own
    * primitive — mixed-gen sidecars land in one uniformly-typed set).
    */
  def dvKeySet(conf: Configuration,
      paths: Array[String], target: String, dt: DataType): Set[Any] = {
    val set = scala.collection.mutable.HashSet.empty[Any]
    paths.foreach { sp =>
      val r = ParquetReader
        .builder(new GroupReadSupport(), new Path(sp))
        .withConf(conf).build()
      try {
        var g = r.read()
        // resolve the field indexes once per sidecar file — the
        // schema is constant across one reader's rows, and this
        // loop is the candidates × sidecar-rows hot path
        var ti = -1
        var ki = -1
        while (g != null) {
          if (ti < 0) {
            ti = g.getType.getFieldIndex("__target")
            ki = g.getType.getFieldIndex("__key")
          }
          if (g.getString(ti, 0) == target)
            set += ParquetGroups.value(g, ki, dt)
          g = r.read()
        }
      } finally r.close()
    }
    set.toSet
  }

  def value(g: Group, idx: Int, dt: DataType): Any = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val typ = g.getType.getType(idx).asPrimitiveType()
    val prim = typ.getPrimitiveTypeName
    dt match {
      case LongType | TimestampType | TimestampNTZType => prim match {
        case INT64 => g.getLong(idx, 0)
        case INT32 => g.getInteger(idx, 0).toLong
        // legacy parquet timestamps (a file written without the MICROS
        // session conf): 8-byte LE nanos-of-day + 4-byte LE Julian day
        case INT96 if dt != LongType =>
          val b = g.getInt96(idx, 0).getBytes
          val buf = java.nio.ByteBuffer.wrap(b)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val nanos = buf.getLong
          val julian = buf.getInt
          (julian - 2440588L) * 86400000000L + nanos / 1000L
        case other => throw new IllegalStateException(
          s"cannot widen $other to ${dt.catalogString}")
      }
      case IntegerType | DateType => g.getInteger(idx, 0)
      case ShortType => g.getInteger(idx, 0).toShort
      case ByteType => g.getInteger(idx, 0).toByte
      case DoubleType => prim match {
        case DOUBLE => g.getDouble(idx, 0)
        case FLOAT => g.getFloat(idx, 0).toDouble
        case INT32 => g.getInteger(idx, 0).toDouble
        case other => throw new IllegalStateException(
          s"cannot widen $other to double")
      }
      case FloatType => g.getFloat(idx, 0)
      case BooleanType => g.getBoolean(idx, 0)
      case StringType => UTF8String.fromString(g.getString(idx, 0))
      case BinaryType => g.getBinary(idx, 0).getBytes
      case d: DecimalType =>
        // unscaled by the file's physical encoding; scale from the
        // file's own annotation (widening preserves scale, so it
        // matches the logical type's)
        val ann = typ.getLogicalTypeAnnotation match {
          case a: org.apache.parquet.schema.LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => a
          case other => throw new IllegalStateException(
            s"decimal column backed by non-decimal parquet annotation $other")
        }
        val unscaled = prim match {
          case INT32 => java.math.BigInteger.valueOf(g.getInteger(idx, 0).toLong)
          case INT64 => java.math.BigInteger.valueOf(g.getLong(idx, 0))
          case FIXED_LEN_BYTE_ARRAY | BINARY =>
            new java.math.BigInteger(g.getBinary(idx, 0).getBytes)
          case other => throw new IllegalStateException(
            s"cannot decode $other as decimal")
        }
        Decimal(new java.math.BigDecimal(unscaled, ann.getScale),
          d.precision, d.scale)
      case other => throw new IllegalStateException(
        s"unsupported column type ${other.catalogString}")
    }
  }
}
