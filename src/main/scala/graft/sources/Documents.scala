package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameReader, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Document formats (reference: src/document (Rust modules) — json, jsonl, csv, text,
  * toml, xml, yaml, parquet, byte), re-expressed as Spark I/O.
  *
  * json/jsonl/csv/parquet/text/xml/binary map to native Spark sources (full
  * pushdown + split parallelism). yaml/toml parse per-partition into JSON
  * strings and reuse Spark's JSON inference — parallel, no driver loop.
  */
object Documents {

  /** Options shared by chewdata document configs. */
  final case class DocOptions(
      delimiter: String = ",",
      header: Boolean = true,
      quote: String = "\"",
      rowTag: String = "row",       // xml
      attributePrefix: String = "_", // xml attribute field prefix
      valueTag: String = "_VALUE",  // xml text-content field name
      multiLine: Boolean = false,   // json array files / csv quoted newlines
      wholetext: Boolean = false,   // text: one row per file
      entryPath: String = "",       // json pointer into each document (RFC 6901)
      maxRecordsPerFile: Long = 0,  // writer: cap rows per output file (0 = off)
      sortBy: Seq[String] = Nil)    // writer: sortWithinPartitions before write

  /** Descend a json-pointer into each record (reference: document/json.rs
    * `entry_path` — the API-envelope case `{"data": [...]}`). Field
    * segments descend structs, numeric segments index arrays; an array at
    * the pointer explodes into rows, a struct spreads into columns, a
    * scalar lands in a `value` column. Root-array indexing (`/0` on an
    * array document) is not expressible here: Spark's JSON reader already
    * explodes the root array into rows. */
  private def applyEntryPath(df: DataFrame, pointer: String): DataFrame = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    val parts = pointer.split("/").filter(_.nonEmpty)
    if (parts.isEmpty) df
    else {
      val c = parts.foldLeft(struct(df.columns.toIndexedSeq.map(col): _*)) { (acc, p) =>
        if (p.forall(_.isDigit)) acc.getItem(p.toInt) else acc.getField(p)
      }
      val tmp = df.select(c.as("__entry"))
      tmp.schema.head.dataType match {
        case _: ArrayType =>
          val ex = tmp.select(explode(col("__entry")).as("__e"))
          ex.schema.head.dataType match {
            case _: StructType => ex.select(col("__e.*"))
            case _ => ex.withColumnRenamed("__e", "value")
          }
        case _: StructType => tmp.select(col("__entry.*"))
        case _ => tmp.withColumnRenamed("__entry", "value")
      }
    }
  }

  /** Also applied to streaming frames (Connectors.loadStream): the pointer
    * descent is plain column ops, so it reshapes a stream the same way. */
  private[sources] def withEntryPath(df: DataFrame, opts: DocOptions): DataFrame =
    if (opts.entryPath.nonEmpty) applyEntryPath(df, opts.entryPath) else df

  /** The reader for a document type whose read infers its schema with a
    * scan of the input; a schema set on `r` beforehand skips that scan. */
  private def inferring(r: DataFrameReader, docType: String, opts: DocOptions): DataFrameReader =
    docType match {
      case "json"  => r.format("json").option("multiLine", value = true)
      case "jsonl" => r.format("json")
      case "csv"   => r.format("csv")
        .option("header", opts.header).option("sep", opts.delimiter)
        .option("quote", opts.quote).option("inferSchema", value = true)
        .option("multiLine", opts.multiLine).option("escape", "\"")
      case "xml"   => r.format("xml").option("rowTag", opts.rowTag)
        .option("attributePrefix", opts.attributePrefix)
        .option("valueTag", opts.valueTag)
    }

  /** Schemas inferred earlier in this JVM, reused while their input is
    * unchanged: a config run again, or a referential loaded once per step,
    * reads an unchanged input without another inference scan. Process-wide,
    * one entry per key.
    *
    * A path entry is keyed by path, document type, options and the
    * session's SQL conf. It holds a digest of the file listing (path,
    * length, modification time of each file) and the inferred data schema.
    * A hit builds the frame with that schema and keeps it only when the
    * frame's own listing, the one its scans read, digests the same, so no
    * file can change between the check and the scan; otherwise the read
    * infers afresh and replaces the entry. Partition columns are discovered
    * from the listing as on any read. A literal entry (in_memory data) is
    * keyed by a digest of the text, which cannot change. */
  private object SchemaMemo {
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.StructType

    private final case class Key(literal: Boolean, source: String, docType: String,
                                 opts: DocOptions, conf: String)
    private final case class Entry(listing: String, schema: StructType)
    private val entries = new java.util.concurrent.ConcurrentHashMap[Key, Entry]()

    private def sha256(parts: Iterator[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      parts.foreach { p =>
        md.update(p.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update(0: Byte)
      }
      md.digest().map(b => f"$b%02x").mkString
    }

    private def key(spark: SparkSession, literal: Boolean, source: String, docType: String,
                    opts: DocOptions): Key =
      Key(literal, source, docType, opts,
        sha256(spark.conf.getAll.toSeq.sorted.iterator.flatMap { case (k, v) => Iterator(k, v) }))

    private def listing(files: Seq[org.apache.hadoop.fs.FileStatus]): String =
      sha256(files.sortBy(_.getPath.toString).iterator.flatMap(f =>
        Iterator(f.getPath.toString, f.getLen.toString, f.getModificationTime.toString)))

    def path(spark: SparkSession, docType: String, path: String, opts: DocOptions)
            (load: DataFrameReader => DataFrame): DataFrame = {
      val k = key(spark, literal = false, path, docType, opts)
      val hit = Option(entries.get(k)).flatMap { e =>
        val df = load(spark.read.schema(e.schema))
        Bridge.fileScan(df).collect { case (files, _) if listing(files) == e.listing => df }
      }
      hit.getOrElse {
        val df = load(spark.read)
        Bridge.fileScan(df).foreach { case (files, schema) =>
          entries.put(k, Entry(listing(files), schema))
        }
        df
      }
    }

    /** `load` gets the remembered schema, or None to infer one. */
    def literal(spark: SparkSession, docType: String, data: String, opts: DocOptions)
               (load: Option[StructType] => DataFrame): DataFrame = {
      val k = key(spark, literal = true, sha256(Iterator(data)), docType, opts)
      Option(entries.get(k)) match {
        case Some(e) => load(Some(e.schema))
        case None =>
          val df = load(None)
          entries.put(k, Entry("", df.schema))
          df
      }
    }
  }

  private def inferred(spark: SparkSession, docType: String, path: String,
                       opts: DocOptions): DataFrame =
    SchemaMemo.path(spark, docType, path, opts)(inferring(_, docType, opts).load(path))

  def read(spark: SparkSession, docType: String, path: String,
           opts: DocOptions = DocOptions()): DataFrame = docType match {
    case "parquet" => spark.read.parquet(path)
    case "orc"     => spark.read.orc(path)
    case "json" | "jsonl" => withEntryPath(inferred(spark, docType, path, opts), opts)
    case "csv" | "xml" => inferred(spark, docType, path, opts)
    case "text"    => spark.read.option("wholetext", opts.wholetext).text(path)
    case "yaml"    => Yaml.read(spark, path)
    case "toml"    => Toml.read(spark, path)
    case "avro"    => Avro.read(spark, path)
    case "byte" | "binary" => spark.read.format("binaryFile").load(path)
    case other     => throw new IllegalArgumentException(s"unknown document type: $other")
  }

  /** Parse a literal document string (in_memory / cli connectors —
    * reference: in_memory.rs accepts any document type). json/jsonl/csv/
    * yaml/toml parse straight from the string through the same per-partition
    * machinery as the file path; xml (needs a file-based rowTag scan) stages
    * the literal to a temp file and reads that. `memo` reuses the schema
    * inferred earlier for the same text (config literals repeat on every
    * run); paged HTTP bodies leave it off, as each page is new content. A
    * json/jsonl literal parses on the driver into a local relation
    * (`Bridge.jsonLiteral`), so a schema hit starts no SQL execution: a json
    * literal is one record (an array of objects gives a row per object), a
    * jsonl literal one record per non-empty line. */
  def readString(spark: SparkSession, docType: String, data: String,
                 opts: DocOptions = DocOptions(), memo: Boolean = false): DataFrame = {
    import spark.implicits._
    def withSchema(load: Option[org.apache.spark.sql.types.StructType] => DataFrame): DataFrame =
      if (memo) SchemaMemo.literal(spark, docType, data, opts)(load) else load(None)
    def parsed(load: DataFrameReader => DataFrame): DataFrame =
      withSchema(s => load(s.fold(spark.read)(spark.read.schema)))
    docType match {
      case "json" | "jsonl" =>
        val records =
          if (docType == "jsonl") data.linesIterator.filter(_.trim.nonEmpty).toSeq
          else Seq(data)
        withEntryPath(withSchema(
          org.apache.spark.sql.graftbridge.Bridge.jsonLiteral(spark, records, _)), opts)
      case "csv" =>
        parsed(_.option("header", opts.header).option("sep", opts.delimiter)
          .option("quote", opts.quote).option("inferSchema", value = true)
          .csv(data.linesIterator.toSeq.toDS()))
      case "text" => Seq(data).toDF("value")
      case "yaml" => Yaml.parse(spark, Seq(data).toDS())
      case "toml" => Toml.parse(spark, Seq(data).toDS())
      case "xml" =>
        val dir = java.nio.file.Files.createTempDirectory("graft-mem")
        val f = dir.resolve("data.xml")
        java.nio.file.Files.writeString(f, data)
        f.toFile.deleteOnExit(); dir.toFile.deleteOnExit()
        parsed(inferring(_, "xml", opts).load(f.toString))
      case other => throw new IllegalArgumentException(s"in_memory does not support $other")
    }
  }

  def write(df: DataFrame, docType: String, path: String,
            opts: DocOptions = DocOptions(), mode: SaveMode = SaveMode.Overwrite,
            partitionBy: Seq[String] = Nil): Unit = {
    // 100 TB writer hygiene: sortWithinPartitions improves parquet
    // run-length/dictionary encoding (no shuffle — local sort only);
    // maxRecordsPerFile caps output file size so downstream scans split
    val sorted =
      if (opts.sortBy.nonEmpty)
        df.sortWithinPartitions(opts.sortBy.map(col): _*)
      else df
    def w = {
      var base = sorted.write.mode(mode)
      if (opts.maxRecordsPerFile > 0)
        base = base.option("maxRecordsPerFile", opts.maxRecordsPerFile)
      if (partitionBy.nonEmpty) base.partitionBy(partitionBy: _*) else base
    }
    docType match {
      case "parquet" => w.parquet(path)
      case "orc"     => w.orc(path)
      case "json" | "jsonl" => w.json(path)
      case "csv" => w
        .option("header", opts.header).option("sep", opts.delimiter)
        .option("quote", opts.quote).csv(path)
      case "text" => w.text(path)
      case "xml"  => w.format("xml").option("rowTag", opts.rowTag)
        .option("attributePrefix", opts.attributePrefix)
        .option("valueTag", opts.valueTag).save(path)
      case "yaml" => Yaml.write(sorted, path, mode)
      case "toml" => Toml.write(sorted, path, mode)
      case "avro" => Avro.write(sorted, path, mode)
      case "byte" | "binary" => Binary.write(sorted, path, mode)
      case other  => throw new IllegalArgumentException(s"unknown document type: $other")
    }
  }
}

/** Binary document write path (reference: src/document/byte.rs encodes the
  * byte stream both ways; read side is Spark's binaryFile source). Each row
  * writes one file under `path`, named from a `path`/`name` string column
  * when present (basename only), else a task-unique counter. Writing runs
  * inside foreachPartition — distributed, no driver collect. */
object Binary {
  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.hadoop.fs.Path
    val binCol = df.schema.fields
      .find(_.dataType == org.apache.spark.sql.types.BinaryType)
      .getOrElse(throw new IllegalArgumentException(
        s"byte write needs a binary column; got ${df.schema.simpleString}")).name
    val nameCol = df.schema.fields.map(_.name).find(n => n == "path" || n == "name")
    val target = new Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (mode == SaveMode.Overwrite && fs.exists(target)) fs.delete(target, true)
    fs.mkdirs(target)
    val cols = nameCol.toSeq :+ binCol
    // duplicate basenames are a data error that must surface BEFORE any
    // bytes land (validated up front so the per-file write can stay
    // overwrite=true — task retries and speculative duplicates regenerate
    // the same deterministic names and must be idempotent, so a
    // create-exclusive guard at write time cannot distinguish a data
    // error from a routine re-attempt)
    nameCol.foreach { nc =>
      val dup = df.select(col(nc))
        .filter(col(nc).isNotNull)
        .select(element_at(split(col(nc), "/"), -1).as("__base"))
        .groupBy(col("__base")).count().filter(col("count") > 1)
        .limit(1).collect()
      require(dup.isEmpty,
        s"byte write collision: basename '${dup.head.getString(0)}' appears more than once in column $nc")
    }
    // ship the SESSION Hadoop conf to executors — a bare `new
    // Configuration()` there would drop session-scoped settings (s3a
    // endpoints/creds, fs tuning) that the scan side resolves with
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val confB = df.sparkSession.sparkContext.broadcast(serConf)
    df.select(cols.head, cols.tail: _*).foreachPartition {
      (it: Iterator[org.apache.spark.sql.Row]) =>
        val tfs = new Path(path).getFileSystem(confB.value.value)
        val pid = Option(org.apache.spark.TaskContext.get()).map(_.partitionId()).getOrElse(0)
        var i = 0
        it.foreach { r =>
          val bytes = r.getAs[Array[Byte]](binCol)
          val name =
            if (nameCol.isDefined && !r.isNullAt(0))
              new Path(r.getString(0)).getName
            else f"part-$pid%05d-$i%06d.bin"
          val out = tfs.create(new Path(path, name), true)
          try out.write(bytes) finally out.close()
          i += 1
        }
    }
  }
}

/** Avro container-file document, hand-rolled over avro-core (this image
  * ships no spark-avro connector jar; the Avro Java library is on the
  * Spark classpath). Read: binaryFile → per-partition DataFileStream →
  * records re-encoded as JSON lines → Spark JSON inference, the same
  * parallel no-driver-loop shape as the yaml/toml codecs. Write: one
  * container file per partition through DataFileWriter with a schema
  * derived from the frame (nullable unions over primitives). Container
  * files load whole-file per task, so this is an INTERCHANGE format
  * here — corpus-scale columnar data belongs in parquet/orc. */
object Avro {
  import org.apache.avro.Schema
  import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}

  private def avroSchema(st: org.apache.spark.sql.types.StructType): Schema = {
    import org.apache.spark.sql.types._
    val fields = new java.util.ArrayList[Schema.Field]()
    st.fields.foreach { f =>
      val base = f.dataType match {
        case StringType => Schema.create(Schema.Type.STRING)
        case LongType => Schema.create(Schema.Type.LONG)
        case IntegerType | ShortType | ByteType => Schema.create(Schema.Type.INT)
        case DoubleType => Schema.create(Schema.Type.DOUBLE)
        case FloatType => Schema.create(Schema.Type.FLOAT)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case DateType => Schema.create(Schema.Type.STRING)      // ISO text
        case TimestampType => Schema.create(Schema.Type.STRING) // ISO text
        case _: DecimalType => Schema.create(Schema.Type.STRING) // exact text
        // BinaryType deliberately rejected: the read side goes through a
        // JSON rendering, which cannot restore bytes losslessly — binary
        // payloads belong to the `byte` document, and a loud error here
        // beats a silent bytes→mojibake-string roundtrip
        case other => throw new IllegalArgumentException(
          s"avro document: unsupported column type ${other.simpleString} (${f.name})")
      }
      val nullable = Schema.createUnion(java.util.List.of(
        Schema.create(Schema.Type.NULL), base))
      fields.add(new Schema.Field(f.name, nullable, null, Schema.Field.NULL_DEFAULT_VALUE))
    }
    Schema.createRecord("row", null, "graft", false, fields)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.format("binaryFile").load(s"$path")
      .select(col("content"))
    val lines = files.as[Array[Byte]].mapPartitions { it =>
      it.flatMap { bytes =>
        val in = new org.apache.avro.file.SeekableByteArrayInput(bytes)
        val reader = org.apache.avro.file.DataFileReader.openReader(
          in, new GenericDatumReader[GenericRecord]())
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        // GenericData's toString IS the JSON rendering of a record (keys
        // quoted, strings escaped, no union wrappers — unlike jsonEncoder,
        // which wraps every nullable union as {"type": value})
        try { while (reader.hasNext) buf += reader.next().toString }
        finally reader.close()
        buf
      }
    }
    // Parse with the schema the container files DECLARE (one driver-side
    // header read of the first part file) instead of re-inferring from
    // the JSON rendering: inference types double NaN/±Infinity tokens as
    // strings, silently degrading such rows (ADVICE r13) — a declared
    // DoubleType plus allowNonNumericNumbers accepts exactly the bare
    // tokens GenericData emits. Files written by other producers with
    // richer schemas still parse: unmapped avro branches fall back to
    // inference.
    declaredSchema(spark, path) match {
      case Some(st) => spark.read.schema(st)
        .option("allowNonNumericNumbers", "true").json(lines)
      case None => spark.read
        .option("allowNonNumericNumbers", "true").json(lines)
    }
  }

  /** The Spark schema declared by the first Avro container file under
    * `path` (a header-only driver read, metadata-sized) — None when no
    * file exists or the schema uses branches outside this codec's
    * write surface. */
  private def declaredSchema(spark: SparkSession,
                             path: String): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.spark.sql.types._
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val first = fs.listStatus(p).filter(_.isFile).map(_.getPath)
      .sortBy(_.getName).headOption
    first.flatMap { f =>
      val in = fs.open(f)
      val avro =
        try {
          val s = new org.apache.avro.file.DataFileStream(
            in, new GenericDatumReader[GenericRecord]())
          try s.getSchema finally s.close()
        } catch { case scala.util.control.NonFatal(_) => in.close(); return None }
      def branch(s: Schema): Option[DataType] = s.getType match {
        case Schema.Type.STRING => Some(StringType)
        case Schema.Type.LONG => Some(LongType)
        case Schema.Type.INT => Some(IntegerType)
        case Schema.Type.DOUBLE => Some(DoubleType)
        case Schema.Type.FLOAT => Some(FloatType)
        case Schema.Type.BOOLEAN => Some(BooleanType)
        case Schema.Type.UNION =>
          import scala.jdk.CollectionConverters._
          s.getTypes.asScala.filter(_.getType != Schema.Type.NULL).toList match {
            case one :: Nil => branch(one)
            case _ => None
          }
        case _ => None
      }
      if (avro.getType != Schema.Type.RECORD) None
      else {
        import scala.jdk.CollectionConverters._
        val fields = avro.getFields.asScala.map { fld =>
          branch(fld.schema()).map(dt => StructField(fld.name(), dt))
        }
        if (fields.exists(_.isEmpty)) None
        else Some(StructType(fields.map(_.get).toArray))
      }
    }
  }

  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    import org.apache.hadoop.fs.Path
    val st = df.schema
    avroSchema(st) // validate types up front, on the driver
    val target = new Path(path)
    val fs = target.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    if (mode == SaveMode.Overwrite && fs.exists(target)) fs.delete(target, true)
    fs.mkdirs(target)
    val serConf = new org.apache.spark.util.SerializableConfiguration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    val confB = df.sparkSession.sparkContext.broadcast(serConf)
    df.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      if (it.hasNext) {
        val schema = avroSchema(st)
        val pid = Option(org.apache.spark.TaskContext.get()).map(_.partitionId()).getOrElse(0)
        val tfs = new Path(path).getFileSystem(confB.value.value)
        val out = tfs.create(new Path(path, f"part-$pid%05d.avro"), true)
        val w = new org.apache.avro.file.DataFileWriter(
          new GenericDatumWriter[GenericRecord](schema))
        w.create(schema, out)
        try {
          it.foreach { r =>
            val rec = new GenericData.Record(schema)
            st.fields.zipWithIndex.foreach { case (f, i) =>
              val v: AnyRef =
                if (r.isNullAt(i)) null
                else f.dataType match {
                  case org.apache.spark.sql.types.DateType |
                       org.apache.spark.sql.types.TimestampType |
                       _: org.apache.spark.sql.types.DecimalType =>
                    r.get(i).toString
                  // short/byte ride the Avro INT branch: union resolution
                  // matches on the exact Integer class, so the narrower
                  // boxes must widen here or the row write throws
                  case org.apache.spark.sql.types.ShortType |
                       org.apache.spark.sql.types.ByteType =>
                    Int.box(r.getAs[Number](i).intValue())
                  case _ => r.get(i).asInstanceOf[AnyRef]
                }
              rec.put(f.name, v)
            }
            w.append(rec)
          }
        } finally w.close()
      }
    }
  }
}

/** Concatenated-JSON support: chewdata's jsonl document is a stream of
  * (possibly pretty-printed) JSON values, not strictly line-delimited.
  * Each file parses per-partition with a Jackson MappingIterator into
  * compact one-line JSON, then Spark JSON inference takes over. For huge
  * strictly-line-delimited files prefer docType "jsonl" (splittable). */
object JsonConcat {
  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val files = spark.read.option("wholetext", value = true).text(path).as[String]
    val lines = files.mapPartitions { it =>
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      it.flatMap { content =>
        val parser = mapper.createParser(content)
        val mit = mapper.readValues(parser, classOf[com.fasterxml.jackson.databind.JsonNode])
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (mit.hasNext) {
          val n = mit.next()
          if (n.isArray) n.elements().forEachRemaining(e => buf += e.toString)
          else buf += n.toString
        }
        buf
      }
    }
    spark.read.json(lines)
  }
}

/** YAML document support: per-partition snakeyaml parse → JSON strings →
  * Spark JSON inference. Multi-document files (`---`) become multiple rows. */
object Yaml {
  import com.fasterxml.jackson.databind.ObjectMapper

  private def toJson(obj: Object, mapper: ObjectMapper): String = mapper.writeValueAsString(obj)

  /** Parse a dataset of whole YAML documents (one string = one file). */
  def parse(spark: SparkSession, files: Dataset[String]): DataFrame = {
    val jsonDs = files.mapPartitions { it =>
      val yaml = new org.yaml.snakeyaml.Yaml()
      val mapper = new ObjectMapper()
      it.flatMap { content =>
        val docs = yaml.loadAll(content).iterator()
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        while (docs.hasNext) {
          docs.next() match {
            case null => ()
            case l: java.util.List[_] =>
              l.forEach(e => buf += toJson(e.asInstanceOf[Object], mapper))
            case m => buf += toJson(m.asInstanceOf[Object], mapper)
          }
        }
        buf
      }
    }(org.apache.spark.sql.Encoders.STRING)
    spark.read.json(jsonDs)
  }

  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    parse(spark, spark.read.option("wholetext", value = true).text(path).as[String])
  }

  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    import df.sparkSession.implicits._
    val out = df.toJSON.mapPartitions { it =>
      val mapper = new ObjectMapper()
      val opts = new org.yaml.snakeyaml.DumperOptions()
      opts.setDefaultFlowStyle(org.yaml.snakeyaml.DumperOptions.FlowStyle.BLOCK)
      opts.setExplicitStart(true)
      val yaml = new org.yaml.snakeyaml.Yaml(opts)
      it.map(j => yaml.dump(mapper.readValue(j, classOf[java.util.Map[String, Object]])).stripLineEnd)
    }
    out.write.mode(mode).text(path)
  }
}

/** Minimal TOML document support (flat key/value + [tables] + arrays of
  * primitive values — the subset the reference's toml examples use).
  * Parses per-partition into JSON, reuses Spark JSON inference. */
object Toml {
  import com.fasterxml.jackson.databind.ObjectMapper

  /** Parse one TOML document into a list of JSON objects: each `[[name]]`
    * array-of-tables entry becomes its own row; a bare document is one row. */
  def tomlToJsonRows(content: String): Seq[String] = {
    val mapper = new ObjectMapper()
    val root = mapper.createObjectNode()
    var current = root
    val rows = scala.collection.mutable.ArrayBuffer.empty[com.fasterxml.jackson.databind.node.ObjectNode]

    def parseValue(raw: String): com.fasterxml.jackson.databind.JsonNode = {
      val v = raw.trim
      if (v.startsWith("\"") && v.endsWith("\""))
        mapper.getNodeFactory.textNode(v.substring(1, v.length - 1)
          .replace("\\n", "\n").replace("\\\"", "\""))
      else if (v.startsWith("[") && v.endsWith("]")) {
        val arr = mapper.createArrayNode()
        splitTop(v.substring(1, v.length - 1)).filter(_.nonEmpty).foreach(e => arr.add(parseValue(e)))
        arr
      }
      else if (v == "true" || v == "false") mapper.getNodeFactory.booleanNode(v.toBoolean)
      else if (v.matches("[+-]?\\d+")) mapper.getNodeFactory.numberNode(v.toLong)
      else if (v.matches("[+-]?\\d*\\.\\d+([eE][+-]?\\d+)?")) mapper.getNodeFactory.numberNode(v.toDouble)
      else mapper.getNodeFactory.textNode(v)
    }

    def splitTop(s: String): Seq[String] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var depth = 0; var inStr = false; val sb = new StringBuilder
      s.foreach {
        case '"' => inStr = !inStr; sb += '"'
        case '[' if !inStr => depth += 1; sb += '['
        case ']' if !inStr => depth -= 1; sb += ']'
        case ',' if !inStr && depth == 0 => out += sb.result().trim; sb.clear()
        case c => sb += c
      }
      if (sb.nonEmpty) out += sb.result().trim
      out.toSeq
    }

    // fold `"""multi-line"""` values into single logical lines: the body
    // becomes a normal quoted string with \n escapes (unescaped later in
    // parseValue). TOML trims a newline right after the opening quotes.
    val logical = {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = content.linesIterator
      while (it.hasNext) {
        val line = it.next()
        val start = line.indexOf("\"\"\"")
        if (start >= 0 && line.indexOf("\"\"\"", start + 3) < 0) {
          val parts = scala.collection.mutable.ArrayBuffer.empty[String]
          val firstRest = line.substring(start + 3)
          if (firstRest.nonEmpty) parts += firstRest
          var closed = false
          while (!closed && it.hasNext) {
            val l = it.next()
            val e = l.indexOf("\"\"\"")
            if (e >= 0) { parts += l.substring(0, e); closed = true }
            else parts += l
          }
          val body = parts.mkString("\\n").replace("\"", "\\\"")
          out += line.substring(0, start) + "\"" + body + "\""
        } else out += line
      }
      out.toSeq
    }
    logical.iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).foreach { line =>
      if (line.startsWith("[[") && line.endsWith("]]")) {
        val node = mapper.createObjectNode()
        rows += node
        current = node
      } else if (line.startsWith("[") && line.endsWith("]")) {
        // nested table inside the root document row
        val name = line.substring(1, line.length - 1)
        val node = mapper.createObjectNode()
        root.replace(name, node)
        current = node
      } else {
        val idx = line.indexOf('=')
        if (idx > 0) {
          val key = line.substring(0, idx).trim
          current.replace(key, parseValue(line.substring(idx + 1)))
        }
      }
    }
    if (rows.nonEmpty) rows.map(_.toString).toSeq
    else if (root.size() > 0) Seq(root.toString)
    else Seq.empty
  }

  /** Parse a dataset of whole TOML documents (one string = one file). */
  def parse(spark: SparkSession, files: Dataset[String]): DataFrame =
    spark.read.json(files.flatMap(tomlToJsonRows)(org.apache.spark.sql.Encoders.STRING))

  def read(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    parse(spark, spark.read.option("wholetext", value = true).text(path).as[String])
  }

  def write(df: DataFrame, path: String, mode: SaveMode = SaveMode.Overwrite): Unit = {
    import df.sparkSession.implicits._
    val out = df.toJSON.mapPartitions { it =>
      val mapper = new ObjectMapper()
      it.map { j =>
        val node = mapper.readTree(j)
        val sb = new StringBuilder("[[row]]\n")
        node.properties().forEach { e =>
          val v = e.getValue
          val rendered =
            if (v.isTextual) "\"" + v.asText().replace("\"", "\\\"") + "\""
            else v.toString
          sb.append(s"${e.getKey} = $rendered\n")
        }
        sb.result()
      }
    }
    out.write.mode(mode).text(path)
  }
}
