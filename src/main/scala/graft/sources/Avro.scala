package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.engine.{QueryDef, Staging, Tables}

/** Avro object-container-file (OCF) interchange — the Kafka-ecosystem
  * default wire format, completing the sink/source inventory beside
  * parquet (native), ORC (q210), CSV (q230), JSONL (q229), XML (q235).
  *
  * This Spark build ships the CORE Avro library (`org.apache.avro`) but
  * not the `spark-avro` connector, so the container read/write is
  * implemented here against the Avro 1.12 spec API directly — the same
  * codecs-from-the-spec discipline as the PNG/JPEG/WAV readers. Both
  * directions are DISTRIBUTED: the writer emits one OCF per input
  * partition from inside `mapPartitionsWithIndex` (per-partition
  * imperative IO — the case RDD drop-down exists for), the reader
  * parallelizes over the file list and streams each container with
  * `DataFileStream`; only the file listing and the schema of one file
  * header ever touch the driver. All IO goes through the Hadoop
  * FileSystem, so any scheme works.
  *
  * Logical-type conventions (the cross-system traps, pinned by the q267
  * gate + AvroSpec):
  *   - DecimalType(p,s)  <-> bytes + logicalType decimal(p,s), value =
  *     two's-complement unscaled big-endian (sign-extended), scale FIXED
  *     by the schema — a negative unscaled value round-trips exactly;
  *   - DateType          <-> int + logicalType date (days since epoch,
  *     negative for pre-1970);
  *   - TimestampType     <-> long + logicalType timestamp-micros;
  *   - TimestampNTZType  <-> long + logicalType local-timestamp-micros
  *     (the Spark 4 parquet default for unadjusted µs timestamps);
  *   - StringType reads back from Avro Utf8, BinaryType from ByteBuffer;
  *   - nullable fields are union(null, T) with null first (Avro's
  *     default-friendly order).
  */
object Avro {

  import org.apache.avro.{LogicalTypes, Schema => ASchema}
  import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

  private def avroType(dt: DataType): ASchema = dt match {
    case LongType => ASchema.create(ASchema.Type.LONG)
    case IntegerType => ASchema.create(ASchema.Type.INT)
    case DoubleType => ASchema.create(ASchema.Type.DOUBLE)
    case FloatType => ASchema.create(ASchema.Type.FLOAT)
    case BooleanType => ASchema.create(ASchema.Type.BOOLEAN)
    case StringType => ASchema.create(ASchema.Type.STRING)
    case BinaryType => ASchema.create(ASchema.Type.BYTES)
    case DateType =>
      LogicalTypes.date().addToSchema(ASchema.create(ASchema.Type.INT))
    case TimestampType =>
      LogicalTypes.timestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
    case TimestampNTZType =>
      LogicalTypes.localTimestampMicros().addToSchema(ASchema.create(ASchema.Type.LONG))
    case d: DecimalType =>
      LogicalTypes.decimal(d.precision, d.scale)
        .addToSchema(ASchema.create(ASchema.Type.BYTES))
    case other =>
      throw new IllegalArgumentException(s"unsupported Avro interchange type: $other")
  }

  /** Spark schema -> Avro record schema (JSON, so tasks re-parse it
    * instead of serializing Schema objects).
    */
  private[graft] def avroSchemaJson(schema: StructType, name: String): String = {
    val fields = new java.util.ArrayList[ASchema.Field]()
    schema.fields.foreach { f =>
      val base = avroType(f.dataType)
      val t =
        if (f.nullable)
          ASchema.createUnion(ASchema.create(ASchema.Type.NULL), base)
        else base
      fields.add(new ASchema.Field(f.name, t, null,
        if (f.nullable) ASchema.Field.NULL_DEFAULT_VALUE else null))
    }
    val rec = ASchema.createRecord(name, null, "graft", false, fields)
    rec.toString
  }

  /** Avro record schema -> Spark schema (inverse of [[avroSchemaJson]],
    * for reading containers written by anyone following the same
    * conventions).
    */
  private[graft] def sparkSchema(avro: ASchema): StructType = {
    def strip(s: ASchema): (ASchema, Boolean) =
      if (s.getType == ASchema.Type.UNION) {
        val nonNull = s.getTypes.stream()
          .filter(_.getType != ASchema.Type.NULL).findFirst().get()
        (nonNull, true)
      } else (s, false)
    def dataType(s: ASchema): DataType = (s.getType, s.getLogicalType) match {
      case (ASchema.Type.INT, _: LogicalTypes.Date) => DateType
      case (ASchema.Type.LONG, _: LogicalTypes.TimestampMicros) => TimestampType
      case (ASchema.Type.LONG, _: LogicalTypes.LocalTimestampMicros) => TimestampNTZType
      case (ASchema.Type.BYTES, d: LogicalTypes.Decimal) =>
        DecimalType(d.getPrecision, d.getScale)
      case (ASchema.Type.LONG, _) => LongType
      case (ASchema.Type.INT, _) => IntegerType
      case (ASchema.Type.DOUBLE, _) => DoubleType
      case (ASchema.Type.FLOAT, _) => FloatType
      case (ASchema.Type.BOOLEAN, _) => BooleanType
      case (ASchema.Type.STRING, _) => StringType
      case (ASchema.Type.BYTES, _) => BinaryType
      case other =>
        throw new IllegalArgumentException(s"unsupported Avro type: $other")
    }
    StructType(avro.getFields.stream().map[StructField] { f =>
      val (t, nullable) = strip(f.schema())
      StructField(f.name(), dataType(t), nullable)
    }.collect(java.util.stream.Collectors.toList[StructField])
      .toArray(Array.empty[StructField]))
  }

  private def toAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (d: java.math.BigDecimal, t: DecimalType) =>
      java.nio.ByteBuffer.wrap(
        d.setScale(t.scale).unscaledValue().toByteArray)
    case (d: java.sql.Date, DateType) =>
      d.toLocalDate.toEpochDay.toInt
    case (t: java.sql.Timestamp, TimestampType) =>
      // floorDiv, not truncating division: getTime carries the ms
      // fraction with SIGN for pre-1970 instants, so `/ 1000L` would
      // round toward zero and land one second late whenever the ms
      // component is non-zero (getNanos is always the non-negative
      // sub-second part, mirroring fromAvroValue's floorDiv/floorMod)
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
    case (t: java.time.LocalDateTime, TimestampNTZType) =>
      t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000L
    case (b: Array[Byte], BinaryType) => java.nio.ByteBuffer.wrap(b)
    case (x, _) => x
  }

  private def fromAvroValue(v: Any, dt: DataType): Any = (v, dt) match {
    case (null, _) => null
    case (b: java.nio.ByteBuffer, t: DecimalType) =>
      val bytes = new Array[Byte](b.remaining()); b.duplicate().get(bytes)
      new java.math.BigDecimal(new java.math.BigInteger(bytes), t.scale)
    case (days: Integer, DateType) =>
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(days.longValue()))
    case (micros: java.lang.Long, TimestampType) =>
      val ts = new java.sql.Timestamp(Math.floorDiv(micros, 1000000L) * 1000L)
      ts.setNanos((Math.floorMod(micros, 1000000L) * 1000L).toInt)
      ts
    case (micros: java.lang.Long, TimestampNTZType) =>
      java.time.LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC)
    case (b: java.nio.ByteBuffer, BinaryType) =>
      val bytes = new Array[Byte](b.remaining()); b.duplicate().get(bytes)
      bytes
    case (u, StringType) => u.toString // Avro Utf8
    case (x, _) => x
  }

  /** Write `df` as one OCF per partition under `dir`; returns the file
    * names. File names carry a commit-unique token (the versioned
    * table's staged-writer discipline), so successive writes APPEND new
    * containers — possibly under an evolved schema, which
    * [[readAvroResolved]] resolves per-file. Every partition writes a
    * file (an empty partition yields a schema-only container), so the
    * schema survives even an empty frame.
    */
  def writeAvro(df: DataFrame, dir: String): Seq[String] = {
    val schema = df.schema
    val json = avroSchemaJson(schema, "graft_interchange")
    val token = java.util.UUID.randomUUID.toString.take(8)
    // the SESSION's Hadoop conf, shipped to the tasks — a bare
    // `new Configuration()` would drop spark.hadoop.* scheme/credential
    // settings (s3a keys, fs overrides), breaking the "any scheme works"
    // contract exactly the way Layout's zmeta sidecar once did
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sessionState.newHadoopConf())
    df.rdd.mapPartitionsWithIndex { (i, rows) =>
      val aSchema = new ASchema.Parser().parse(json)
      val path = new org.apache.hadoop.fs.Path(dir, f"part-$token-$i%05d.avro")
      val fs = path.getFileSystem(hconf.value)
      val out = fs.create(path, true)
      val w = new org.apache.avro.file.DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](aSchema))
      w.create(aSchema, out)
      try rows.foreach { row =>
        val rec = new GenericData.Record(aSchema)
        var j = 0
        while (j < schema.length) {
          rec.put(j, toAvroValue(row.get(j), schema(j).dataType))
          j += 1
        }
        w.append(rec)
      } finally w.close()
      Iterator.single(path.getName)
    }.collect().toSeq.sorted
  }

  /** Read every `part-*.avro` under `dir` as a DataFrame: schema from
    * one container header (driver), record decoding parallelized over
    * the file list.
    */
  def readAvro(spark: SparkSession, dir: String): DataFrame =
    readAvroResolved(spark, dir, None)

  /** Avro SCHEMA RESOLUTION on read (the evolution contract consumers
    * rely on when producers upgrade independently): fields are matched
    * BY NAME — a reader field the writer lacks resolves to NULL (it
    * must be nullable, Avro's null-default rule), a writer field the
    * reader omits is skipped, and reordering is free. Shared fields
    * must agree on type (loud mismatch, never silent coercion).
    */
  def readAvroAs(spark: SparkSession, dir: String, reader: StructType): DataFrame =
    readAvroResolved(spark, dir, Some(reader))

  private def readAvroResolved(spark: SparkSession, dir: String,
      readerOpt: Option[StructType]): DataFrame = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(root).toSeq
      .filter(s => s.isFile && s.getPath.getName.endsWith(".avro"))
      .map(_.getPath.toString).sorted
    require(files.nonEmpty, s"no .avro containers under $dir")
    val headIn = fs.open(new org.apache.hadoop.fs.Path(files.head))
    val headStream = new org.apache.avro.file.DataFileStream[GenericRecord](
      headIn, new GenericDatumReader[GenericRecord]())
    val writer = try sparkSchema(headStream.getSchema) finally headStream.close()
    val schema = readerOpt.getOrElse(writer)
    // resolution plan for ONE container's writer schema: reader field ->
    // writer position, or -1 for NULL. Computed PER FILE inside the
    // task — a directory may mix files written under different schema
    // generations (the actual evolution case), each resolving on its
    // own header.
    def planFor(w: StructType): Array[Int] = {
      val idx = w.fieldNames.zipWithIndex.toMap
      schema.fields.map { f =>
        idx.get(f.name) match {
          case Some(j) =>
            require(w(j).dataType == f.dataType,
              s"schema resolution: field '${f.name}' is ${w(j).dataType} " +
                s"in the container but ${f.dataType} in the reader schema")
            j
          case None =>
            require(f.nullable,
              s"schema resolution: non-nullable reader field '${f.name}' " +
                "is absent from the container (no null default possible)")
            -1
        }
      }
    }
    planFor(writer) // fail fast on the driver for the head container
    val n = math.min(files.size, spark.sparkContext.defaultParallelism)
    // session conf to the tasks (same reason as writeAvro's)
    val hconf = new org.apache.spark.util.SerializableConfiguration(
      spark.sessionState.newHadoopConf())
    val rows = spark.sparkContext.parallelize(files, math.max(1, n))
      .flatMap { f =>
        val path = new org.apache.hadoop.fs.Path(f)
        val tfs = path.getFileSystem(hconf.value)
        val in = new org.apache.avro.file.DataFileStream[GenericRecord](
          tfs.open(path), new GenericDatumReader[GenericRecord]())
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; in.close() }
        // a task that stops early (limit/take pushdown, mid-partition
        // exception) never drains the iterator — the completion listener
        // is what keeps the file handle from leaking in that case; the
        // eager close below still releases it promptly on a full drain
        // (a flatMap task walks many containers sequentially)
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => closeOnce()))
        val plan = planFor(sparkSchema(in.getSchema))
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = !closed && in.hasNext
            if (!h) closeOnce()
            h
          }
          def next(): Row = {
            val rec = in.next()
            Row.fromSeq(schema.fields.indices.map { j =>
              if (plan(j) < 0) null
              else fromAvroValue(rec.get(plan(j)), schema(j).dataType)
            })
          }
        }
      }
    spark.createDataFrame(rows, schema)
  }

  // q267 — AVRO ROUND-TRIP on the gate (the q210/q229/q230 pattern for
  // the Kafka-ecosystem interchange format): orders is projected onto
  // the three trap logical types — decimal(12,2) money, a true DATE,
  // and the native timestamp-micros — written as distributed OCF,
  // read back, schema-checked field-for-field (a convention drift
  // throws, failing the gate), and aggregated per the q12 decimal
  // discipline with a micros checksum so a single lost microsecond or
  // mis-scaled cent hash-fails. The oracle replays the semantics over
  // the RAW table — the format must be value-invisible. Scale: one
  // pass to write (a file per partition), one to read; no shuffle
  // until the final keyed agg.
  val q267AvroRoundtrip: QueryDef = QueryDef.sql(
    "q267_avro_roundtrip",
    """WITH t AS (SELECT o_orderkey, o_orderstatus,
      |  CAST(o_totalprice AS DECIMAL(12,2)) AS price,
      |  CAST(o_orderdate AS DATE) AS odate,
      |  o_orderdate AS ts
      |FROM orders)
      |SELECT o_orderstatus,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(price) AS DOUBLE) AS sum_price,
      |  CAST(date_diff('day', DATE '1990-01-01', MIN(odate)) AS BIGINT) AS min_odate_days,
      |  CAST(SUM(epoch_us(ts) % 1000003) AS BIGINT) AS ts_checksum
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val dir = Staging.scratch("graft-avro-gate", "q267_avro").getAbsolutePath
    val src = Tables.orders(s, d).select(
      col("o_orderkey"), col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("price"),
      col("o_orderdate").cast("date").as("odate"),
      col("o_orderdate").as("ts"))
    writeAvro(src, dir)
    val back = readAvro(s, dir)
    require(back.schema.map(f => (f.name, f.dataType)) ==
      src.schema.map(f => (f.name, f.dataType)),
      s"Avro round-trip changed the schema: ${back.schema} vs ${src.schema}")
    back.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"),
        datediff(min(col("odate")), lit("1990-01-01")).cast("long")
          .as("min_odate_days"),
        // ts reads back NTZ; the UTC session makes the cast epoch-exact
        sum(unix_micros(col("ts").cast("timestamp")) % 1000003).as("ts_checksum"))
      .orderBy("o_orderstatus")
  }

  // q271 — AVRO SCHEMA RESOLUTION on the gate (the evolution contract a
  // Kafka-era pipeline lives by: producers upgrade independently, the
  // consumer reads every generation under ONE reader schema): half of
  // orders is written as generation A (o_orderkey, o_orderstatus,
  // price), the other half as generation B with the columns REORDERED
  // and a `discount` column added — then the WHOLE mixed directory is
  // read under a reader schema that drops o_orderkey, keeps price, and
  // declares discount nullable: gen-A rows resolve discount to NULL
  // (Avro's null-default rule), gen-B rows carry it, reordering is
  // matched by name per FILE header. The oracle re-derives the merged
  // view closed-form; the null-count column is the tripwire for a
  // resolution that invents or drops defaults.
  val q271AvroResolution: QueryDef = QueryDef.sql(
    "q271_avro_resolution",
    """WITH t AS (SELECT o_orderstatus,
      |    CAST(o_totalprice AS DECIMAL(12,2)) AS price,
      |    CASE WHEN o_orderkey % 2 = 1
      |         THEN CAST(o_orderkey % 500 AS DECIMAL(7,2)) END AS discount
      |  FROM orders)
      |SELECT o_orderstatus,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(price) AS DOUBLE) AS sum_price,
      |  CAST(COALESCE(SUM(discount), 0) AS DOUBLE) AS sum_discount,
      |  CAST(SUM(CASE WHEN discount IS NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_nodisc
      |FROM t GROUP BY 1 ORDER BY 1""".stripMargin) { (s, d) =>
    val dir = Staging.scratch("graft-avro-gate", "q271_evolve").getAbsolutePath
    val base = Tables.orders(s, d).select(col("o_orderkey"),
      col("o_orderstatus"),
      col("o_totalprice").cast("decimal(12,2)").as("price"))
    writeAvro(base.filter(col("o_orderkey") % 2 === 0), dir) // generation A
    writeAvro(base.filter(col("o_orderkey") % 2 === 1)       // generation B
      .select(col("o_orderkey"), col("price"),
        (col("o_orderkey") % 500).cast("decimal(7,2)").as("discount"),
        col("o_orderstatus")), dir)
    val reader = StructType(Seq(
      StructField("o_orderstatus", StringType, nullable = true),
      StructField("price", DecimalType(12, 2), nullable = true),
      StructField("discount", DecimalType(7, 2), nullable = true)))
    readAvroAs(s, dir, reader)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(col("price")).cast("double").as("sum_price"),
        coalesce(sum(col("discount")).cast("double"), lit(0.0))
          .as("sum_discount"),
        sum(when(col("discount").isNull, 1L).otherwise(0L)).as("n_nodisc"))
      .orderBy("o_orderstatus")
  }

  val all: Seq[QueryDef] = Seq(q267AvroRoundtrip, q271AvroResolution)
}
