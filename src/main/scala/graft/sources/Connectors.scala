package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import graft.sources.Documents.DocOptions

/** Connectors (reference: src/connector (Rust modules) — local, in_memory, cli, curl,
  * mongodb, psql, bucket, bucket_select), re-expressed Spark-first.
  *
  * - local/bucket are the same code path: a path (file:// or s3a://) read by
  *   Spark's datasource layer — the wildcard paginator is Spark's glob +
  *   file-split parallelism; "S3 Select" pushdown is Catalyst predicate/
  *   column pushdown, which the scan does natively.
  * - psql maps to Spark JDBC with partitioned reads.
  * - curl maps to a partitioned page-fetch (offset/cursor paginator becomes
  *   a page-per-partition plan). The HTTP call itself is injectable and the
  *   default transport refuses (this environment has zero egress) — the
  *   plumbing (pagination plan, parallelism, parsing) is real and tested.
  * - mongodb executes against an injectable client surface (MongoConnector
  *   below: pagination planning, distributed parse, batched insert, erase —
  *   fake-client e2e specs); on a real deployment the client binds to the
  *   official driver (no driver jar in this environment).
  */
sealed trait Connector {
  def load(spark: SparkSession): DataFrame
  def save(df: DataFrame, mode: SaveMode = SaveMode.Overwrite): Unit =
    throw new UnsupportedOperationException(s"$this is read-only")
  /** Eraser-step support: remove the target's contents. */
  def erase(spark: SparkSession): Unit =
    throw new UnsupportedOperationException(s"$this cannot be erased")
  /** Structured-Streaming source (`"stream": true` on a reader step). */
  def loadStream(spark: SparkSession): DataFrame =
    throw new UnsupportedOperationException(s"$this cannot be read as a stream")
  /** Structured-Streaming sink: drains all available input (AvailableNow),
    * so a streaming config behaves like a batch run that happens to go
    * through the streaming engine — rerun it to pick up new files. */
  def saveStream(df: DataFrame): Unit =
    throw new UnsupportedOperationException(s"$this cannot be written as a stream")
}

/** Local filesystem (or any Hadoop-FS URI incl. s3a://) + document format.
  * Glob wildcards in `path` fan out to parallel file partitions. */
final case class LocalConnector(path: String, docType: String = "json",
                                opts: DocOptions = DocOptions(),
                                partitionBy: Seq[String] = Nil) extends Connector {
  override def load(spark: SparkSession): DataFrame =
    Documents.read(spark, docType, path, opts)
  override def save(df: DataFrame, mode: SaveMode): Unit =
    Documents.write(df, docType, path, opts, mode, partitionBy)
  override def erase(spark: SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }

  /** File stream over the same path: the schema comes from one static pass
    * (a streaming source needs it up front), then readStream watches the
    * directory. New files appearing later are picked up by reruns (or a
    * long-running trigger if the caller starts one). */
  override def loadStream(spark: SparkSession): DataFrame = {
    // Schema comes from a RAW static pass — BEFORE entry_path reshaping —
    // because the stream parses the same raw files; the pointer then
    // applies to the streamed frame itself (plain column ops, stream-safe).
    // The json branch mirrors the batch reader's always-on multiLine: an
    // array-of-objects file must parse to rows here too, not null columns.
    val schema = Documents.read(spark, docType, path, opts.copy(entryPath = "")).schema
    val r = spark.readStream.schema(schema)
    val raw = docType match {
      case "parquet" => r.parquet(path)
      case "json" => r.option("multiLine", value = true).json(path)
      case "jsonl" => r.json(path)
      case "csv" => r.option("header", opts.header).option("sep", opts.delimiter).csv(path)
      case "text" => spark.readStream.text(path)
      case other => throw new UnsupportedOperationException(
        s"streaming reader not supported for document type $other")
    }
    Documents.withEntryPath(raw, opts)
  }

  override def saveStream(df: DataFrame): Unit = {
    val fmt = docType match {
      case "parquet" | "orc" | "csv" | "text" => docType
      case "json" | "jsonl" => "json"
      case other => throw new UnsupportedOperationException(
        s"streaming writer not supported for document type $other")
    }
    df.writeStream
      .format(fmt)
      .option("path", path)
      .option("checkpointLocation", path.stripSuffix("/") + "_checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
      .awaitTermination()
  }
}

/** S3-style bucket — same scan machinery as local through s3a. */
final case class BucketConnector(bucket: String, key: String,
                                 docType: String = "json",
                                 opts: DocOptions = DocOptions()) extends Connector {
  private[graft] def uri = s"s3a://$bucket/$key"
  override def load(spark: SparkSession): DataFrame =
    Documents.read(spark, docType, uri, opts)
  override def save(df: DataFrame, mode: SaveMode): Unit =
    Documents.write(df, docType, uri, opts, mode)
  override def erase(spark: SparkSession): Unit = {
    // the reference eraser works on any connector (src/step/eraser.rs);
    // bucket erase = recursive delete of the key prefix through the same FS
    val p = new org.apache.hadoop.fs.Path(uri)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) { fs.delete(p, true); () }
  }
}

/** Literal data carried in the config (reference: in_memory.rs — accepts any
  * document type; also usable as a test sink: save buffers JSON rows). */
final case class InMemoryConnector(data: String, docType: String = "json",
                                   opts: DocOptions = DocOptions()) extends Connector {
  /** Rows written through save(), as JSON lines (driver-side test sink —
    * mirrors the reference's use of in_memory as an assertion buffer). */
  val written: scala.collection.mutable.ArrayBuffer[String] =
    scala.collection.mutable.ArrayBuffer.empty
  override def load(spark: SparkSession): DataFrame =
    Documents.readString(spark, docType, data, opts, memo = true)
  override def save(df: DataFrame, mode: SaveMode): Unit = {
    if (mode == SaveMode.Overwrite) written.clear()
    written ++= df.toJSON.collect()
  }
  override def erase(spark: SparkSession): Unit = written.clear()
  /** Streaming sink via foreachBatch: each micro-batch appends to the
    * buffer (drains all available input, then returns). */
  override def saveStream(df: DataFrame): Unit =
    df.writeStream
      .foreachBatch((batch: DataFrame, _: Long) => save(batch, SaveMode.Append))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("graft-mem-ckpt").toString)
      .start()
      .awaitTermination()
}

/** stdin/stdout passthrough (reference: cli.rs). Driver-side by nature. */
final case class CliConnector(docType: String = "json") extends Connector {
  override def load(spark: SparkSession): DataFrame = {
    val content = scala.io.Source.stdin.mkString
    InMemoryConnector(content, docType).load(spark)
  }
  override def save(df: DataFrame, mode: SaveMode): Unit =
    // stdout is driver-side by nature, but the frame need not be:
    // toLocalIterator streams one partition at a time, so driver memory is
    // bounded by a partition, not the dataset (collect() pinned it all)
    df.toJSON.toLocalIterator().forEachRemaining(println(_))
}

/** Relational DB via Spark JDBC (reference: psql.rs). `partitionColumn` +
  * bounds split the read across executors. */
final case class JdbcConnector(url: String, table: String,
                               user: String = "", password: String = "",
                               partitionColumn: Option[String] = None,
                               lowerBound: Long = 0, upperBound: Long = 0,
                               numPartitions: Int = 8,
                               driver: String = "") extends Connector {
  private def base(r: org.apache.spark.sql.DataFrameReader) = {
    val w = r.option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
    if (driver.nonEmpty) w.option("driver", driver) else w
  }
  override def load(spark: SparkSession): DataFrame = {
    var r = base(spark.read.format("jdbc"))
    partitionColumn.foreach { c =>
      r = r.option("partitionColumn", c)
        .option("lowerBound", lowerBound).option("upperBound", upperBound)
        .option("numPartitions", numPartitions)
    }
    r.load()
  }
  override def save(df: DataFrame, mode: SaveMode): Unit = {
    var w = df.write.format("jdbc").mode(mode)
      .option("url", url).option("dbtable", table)
      .option("user", user).option("password", password)
    if (driver.nonEmpty) w = w.option("driver", driver)
    w.save()
  }
}

/** JWT compact-serialization signing (RFC 7515/7519 — public standards;
  * reference: src/connector/authenticator/jwt.rs signs claims with
  * signing types secret/base64secret/rsa_pem/rsa_components, HS256
  * default). HMAC rides javax.crypto.Mac; RSA rides
  * java.security.Signature with a PKCS#8 PEM key or RFC 7517 JWK
  * components. EC signing types are not wired (no reference example
  * exercises them). */
object Jwt {

  def sign(claimsJson: String, key: String, algorithm: String = "HS256",
           signingType: String = "secret"): String = {
    val enc = java.util.Base64.getUrlEncoder.withoutPadding
    val header = s"""{"alg":"$algorithm","typ":"JWT"}"""
    val input = enc.encodeToString(header.getBytes("UTF-8")) + "." +
      enc.encodeToString(claimsJson.getBytes("UTF-8"))
    val sig = algorithm match {
      case "HS256" | "HS384" | "HS512" =>
        val macAlg = "HmacSHA" + algorithm.drop(2)
        val keyBytes =
          if (signingType == "base64secret") java.util.Base64.getDecoder.decode(key)
          else key.getBytes("UTF-8")
        val mac = javax.crypto.Mac.getInstance(macAlg)
        mac.init(new javax.crypto.spec.SecretKeySpec(keyBytes, macAlg))
        mac.doFinal(input.getBytes("UTF-8"))
      case "RS256" | "RS384" | "RS512" =>
        val s = java.security.Signature.getInstance("SHA" + algorithm.drop(2) + "withRSA")
        s.initSign(rsaPrivateKey(key, signingType))
        s.update(input.getBytes("UTF-8"))
        s.sign()
      case other => throw new IllegalArgumentException(
        s"unsupported JWT algorithm: $other (supported: HS256/384/512, RS256/384/512)")
    }
    input + "." + enc.encodeToString(sig)
  }

  /** RSA private key from a PKCS#8 PEM (`rsa_pem`/`rsa_der`) or a JWK's
    * n/d components (`rsa_components`, RFC 7517). */
  private def rsaPrivateKey(key: String, signingType: String): java.security.PrivateKey = {
    val kf = java.security.KeyFactory.getInstance("RSA")
    signingType match {
      case "rsa_pem" | "rsa_der" =>
        val der = java.util.Base64.getMimeDecoder.decode(
          key.replaceAll("-----[A-Z ]+-----", ""))
        kf.generatePrivate(new java.security.spec.PKCS8EncodedKeySpec(der))
      case "rsa_components" | "jwk" =>
        val jwk = new com.fasterxml.jackson.databind.ObjectMapper().readTree(key)
        def big(f: String): java.math.BigInteger =
          new java.math.BigInteger(1, java.util.Base64.getUrlDecoder.decode(jwk.get(f).asText()))
        kf.generatePrivate(new java.security.spec.RSAPrivateKeySpec(big("n"), big("d")))
      case other => throw new IllegalArgumentException(
        s"unsupported RSA signing type: $other (rsa_pem/rsa_der/rsa_components)")
    }
  }
}

object Http {
  /** One HTTP exchange: body plus response headers (what header-based
    * counters read — reference: src/connector/counter/curl/header.rs). */
  final case class Response(body: String, headers: Map[String, String] = Map.empty)

  /** Body-only transport: (url, request headers) -> body. Injectable for
    * tests; the default refuses — this environment is zero-egress. */
  type Transport = (String, Map[String, String]) => String

  /** Full transport: (url, request headers) -> Response. Body-only
    * transports lift via [[full]]; only callers that need response
    * headers (header counter) must provide one. */
  type FullTransport = (String, Map[String, String]) => Response
  def full(t: Transport): FullTransport = (u, h) => Response(t(u, h))

  /** Write transport: (url, request headers, request body) -> response
    * body (reference: curl.rs send — POST/PUT/PATCH per method config). */
  type WriteTransport = (String, Map[String, String], String) => String
  val noWriteTransport: WriteTransport = (u, _, _) =>
    throw new UnsupportedOperationException(s"HTTP write transport unavailable (no egress): $u")

  val noTransport: Transport = (u, _) =>
    throw new UnsupportedOperationException(s"HTTP transport unavailable (no egress): $u")
}

/** File-based HTTP response cache (reference: curl.rs:46,145 —
  * `is_cached` flag, OS-temp `cache/http` storage). Keyed by
  * sha256(url + canonical request headers); stores body AND response
  * headers so a cached probe still answers a header counter. The cache is
  * per-node (each executor caches its own fetches), matching the
  * reference's process-local cache — at 100 TB the win is re-runs and
  * retried tasks skipping the network, not cross-node sharing. */
object HttpCache {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def dir: java.nio.file.Path =
    java.nio.file.Paths.get(sys.props("java.io.tmpdir"), "graft", "http-cache")

  private def keyFor(url: String, headers: Map[String, String]): String = {
    val canonical = url + "\n" +
      headers.toSeq.sorted.map { case (k, v) => s"$k:$v" }.mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(canonical.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  /** Read-through wrapper: hit -> cached Response, zero transport calls;
    * miss -> fetch, then write atomically (temp file + move) so a
    * concurrent task never reads a half-written entry. */
  def cached(t: Http.FullTransport): Http.FullTransport = (url, headers) => {
    val f = dir.resolve(keyFor(url, headers))
    if (java.nio.file.Files.exists(f)) {
      val node = mapper.readTree(java.nio.file.Files.readString(f))
      val hs = Map.newBuilder[String, String]
      node.get("headers").properties().forEach(e => hs += (e.getKey -> e.getValue.asText()))
      Http.Response(node.get("body").asText(), hs.result())
    } else {
      val r = t(url, headers)
      java.nio.file.Files.createDirectories(dir)
      val entry = mapper.createObjectNode()
      val hdrs = entry.putObject("headers")
      r.headers.foreach { case (k, v) => hdrs.put(k, v) }
      entry.put("body", r.body)
      val tmp = java.nio.file.Files.createTempFile(dir, "w", ".tmp")
      java.nio.file.Files.writeString(tmp, entry.toString)
      java.nio.file.Files.move(tmp, f,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      r
    }
  }

  /** Drop every cached entry (spec isolation / forced refresh). */
  def clear(): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val s = java.nio.file.Files.list(dir)
      try s.forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally s.close()
    }
}

/** Pagination strategies (reference: src/connector/paginator/curl). */
sealed trait HttpPaginator
/** Parallel page-per-partition when `count` is known; sequential walk until
  * an empty page otherwise (reference: paginator/curl/offset.rs —
  * limit/skip/count). */
final case class OffsetPaginator(limit: Int = 100, skip: Int = 0,
                                 count: Option[Long] = None) extends HttpPaginator
/** Next-token chain; the token is read from each response body at
  * `entryPath` (json pointer) and substituted into the next request
  * (reference: paginator/curl/cursor.rs — limit/entry_path). Inherently
  * sequential → driver walk, distributed parse. */
final case class CursorPaginator(limit: Int = 100,
                                 entryPath: String = "/next") extends HttpPaginator

object HttpConnector {
  /** Page fetcher: pageIndex -> raw page body. Injectable for tests; the
    * default refuses — this environment is zero-egress. */
  type Fetch = Int => String
  val noTransport: Fetch = _ =>
    throw new UnsupportedOperationException("HTTP transport unavailable (no egress)")

  /** Auth header factories (reference: src/connector/authenticator). */
  def basicAuth(user: String, pass: String): (String, String) =
    "Authorization" -> ("Basic " + java.util.Base64.getEncoder
      .encodeToString(s"$user:$pass".getBytes("UTF-8")))
  def bearerAuth(token: String): (String, String) = "Authorization" -> s"Bearer $token"
  /** Pre-signed JWT pass-through. */
  def jwtAuth(token: String): (String, String) = bearerAuth(token)
  /** JWT signed from claims (reference: authenticator/jwt.rs). */
  def jwtSignedAuth(claimsJson: String, key: String, algorithm: String = "HS256",
                    signingType: String = "secret"): (String, String) =
    bearerAuth(Jwt.sign(claimsJson, key, algorithm, signingType))
}

/** HTTP endpoint with offset pagination (reference: curl.rs +
  * paginator/curl/offset.rs): `pages` page indices fetched one-per-task in
  * parallel, each page parsed as a JSON array/object body. */
final case class HttpConnector(endpoint: String, pages: Int = 1,
                               headers: Map[String, String] = Map.empty,
                               fetch: HttpConnector.Fetch = HttpConnector.noTransport)
    extends Connector {
  override def load(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val f = fetch
    // one page per partition: page fetches run concurrently on executors
    val bodies = spark.range(pages).repartition(pages)
      .mapPartitions(it => it.map(i => f(i.toInt)))
    spark.read.json(bodies)
  }
}

/** Spill surface for sequential page walks: pages go to one file each AS
  * FETCHED, so driver memory holds a single page at a time no matter how
  * long the walk is (a 100k-page cursor chain used to pin every body in an
  * ArrayBuffer).
  *
  * Cluster contract: the spill path must be readable by EXECUTORS (the
  * json parse is a distributed file read). A driver-local tempdir only
  * qualifies on a local master, so the spill location is chosen per
  * session: `spark.graft.http.spillDir` (any shared Hadoop filesystem —
  * hdfs://, s3a://, a mounted NFS path) when set; a driver-local tempdir
  * when the master is local; otherwise spilling is impossible without a
  * shared location and bodies fall back to an in-driver buffer (correct
  * everywhere, memory bounded by walk size — configure spillDir for long
  * walks on a real cluster).
  *
  * Lifecycle: the json parse MATERIALIZES into Spark's block manager
  * (persist + count) and the spill dir is deleted eagerly right after —
  * no per-file deleteOnExit accumulation in a long-lived JVM, and the
  * returned frame never re-reads the deleted files. */
private[sources] final class PageSpill(spark: SparkSession) {
  private val hadoopConf = spark.sparkContext.hadoopConfiguration
  private val dir: Option[org.apache.hadoop.fs.Path] =
    spark.conf.getOption("spark.graft.http.spillDir")
      .map(base => new org.apache.hadoop.fs.Path(
        base, s"graft-curl-pages-${java.util.UUID.randomUUID()}"))
      .orElse {
        if (spark.sparkContext.isLocal)
          Some(new org.apache.hadoop.fs.Path(
            "file://" + java.nio.file.Files.createTempDirectory("graft-curl-pages")))
        else None
      }
  private val mem = scala.collection.mutable.ArrayBuffer.empty[String]

  def write(i: Int, body: String): Unit = dir match {
    case Some(d) =>
      val fs = d.getFileSystem(hadoopConf)
      val out = fs.create(new org.apache.hadoop.fs.Path(d, f"page-$i%08d.body"), true)
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    case None => mem += body
  }

  def readPage(i: Int): String = dir match {
    case Some(d) =>
      val fs = d.getFileSystem(hadoopConf)
      val in = fs.open(new org.apache.hadoop.fs.Path(d, f"page-$i%08d.body"))
      try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    case None => mem(i)
  }

  /** Json parse: one wholetext row per spilled page, read distributed,
    * pinned to the block manager so [[delete]] can run eagerly. */
  def parseJson(): DataFrame = {
    import spark.implicits._
    dir match {
      case Some(d) =>
        val parsed = spark.read.json(
            spark.read.option("wholetext", "true").text(d.toString).as[String])
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        parsed.count() // materialize before the spill files disappear
        delete()
        parsed
      case None => spark.read.json(spark.createDataset(mem.toSeq))
    }
  }

  /** Remove the spill dir (recursive). Idempotent. */
  def delete(): Unit =
    dir.foreach(d => d.getFileSystem(hadoopConf).delete(d, true))
}

object CursorHttpConnector {
  /** Cursor fetch: (cursorOrNull) -> (body, nextCursorOrNull). */
  type CursorFetch = Option[String] => (String, Option[String])
}

/** Cursor-paginated HTTP source (reference: paginator/curl/cursor.rs).
  * Cursor chains are inherently sequential — each page's token comes from
  * the previous response — so pages are walked on the driver (bounded by
  * maxPages) and PARSING is distributed. Use offset pagination
  * (HttpConnector) when the API supports it; this exists for APIs that
  * only hand out next-tokens. */
final case class CursorHttpConnector(endpoint: String, maxPages: Int = 1000,
                                     fetch: CursorHttpConnector.CursorFetch =
                                       _ => throw new UnsupportedOperationException(
                                         "HTTP transport unavailable (no egress)"))
    extends Connector {
  override def load(spark: SparkSession): DataFrame = {
    // sequential by protocol, bounded by memory: each body spills to a
    // file as fetched; the json parse reads the files distributed
    val spill = new PageSpill(spark)
    var cursor: Option[String] = None
    var pages = 0
    var done = false
    while (!done && pages < maxPages) {
      val (body, next) = fetch(cursor)
      spill.write(pages, body)
      cursor = next
      pages += 1
      done = next.isEmpty
    }
    if (pages == 0) { spill.delete(); spark.emptyDataFrame }
    else spill.parseJson()
  }
}

/** Total-count probes (reference: src/connector/counter/curl): one
  * driver-side request that learns the collection size, upgrading an
  * unknown-count offset paginator to the parallel page-per-partition
  * path. `path`, when set, overrides the connector path for the probe. */
sealed trait HttpCounter { def path: Option[String] }
/** Size read from the response body at a json pointer
  * (reference: counter/curl/body.rs — entry_path). */
final case class BodyCounter(entryPath: String = "/count",
                             path: Option[String] = None) extends HttpCounter
/** Size read from a response header, `X-Total-Count` by convention
  * (reference: counter/curl/header.rs — name/path). */
final case class HeaderCounter(name: String = "X-Total-Count",
                               path: Option[String] = None) extends HttpCounter

/** Config-grade curl connector (reference: curl.rs — endpoint + path,
  * headers, authenticator, offset/cursor paginator, all wired from the
  * config node by `Connector.fromConfig`). The URL template honours
  * `{{ paginator.limit }}` / `{{ paginator.skip }}` / `{{ paginator.next }}`
  * mustache slots in `path` (chewdata-style); without slots the values are
  * appended as query parameters. The HTTP call itself is the injectable
  * `transport` — zero egress here — while pagination planning, parallelism
  * and parsing are real:
  *  - offset + known count → page-per-partition parallel fetch on executors
  *  - offset + unknown count → sequential driver walk until an empty page
  *  - cursor → sequential driver walk on the next-token chain
  * and every body parses through distributed JSON inference. */
final case class CurlConnector(endpoint: String, path: String = "",
                               headers: Map[String, String] = Map.empty,
                               paginator: HttpPaginator = OffsetPaginator(),
                               transport: Http.Transport = Http.noTransport,
                               counter: Option[HttpCounter] = None,
                               auth: Option[() => (String, String)] = None,
                               fullTransport: Option[Http.FullTransport] = None,
                               isCached: Boolean = false,
                               docType: String = "json",
                               opts: DocOptions = DocOptions(),
                               writeTransport: Http.WriteTransport = Http.noWriteTransport,
                               writeBatchSize: Int = 1000)
    extends Connector {

  /** Write the frame to the endpoint (reference: curl.rs send): rows
    * serialize as JSON arrays of up to `writeBatchSize` records and POST
    * per partition — sends run concurrently on executors, nothing funnels
    * through the driver. Auth evaluates once on the driver (same policy
    * as load) and the headers broadcast with the closure. */
  override def save(df: org.apache.spark.sql.DataFrame, mode: SaveMode): Unit = {
    val wt = writeTransport
    val hs = headers ++ auth.map(_())
    val url = urlFor(Map.empty)
    val bs = writeBatchSize
    df.toJSON.foreachPartition { (it: Iterator[String]) =>
      it.grouped(bs).foreach { batch =>
        wt(url, hs, batch.mkString("[", ",", "]"))
        ()
      }
    }
  }

  /** The effective exchange: a full transport if provided (needed by
    * header counters), else the body-only transport lifted; wrapped in
    * the file cache when `is_cached` is on (reference: curl.rs:46). */
  private def exchange: Http.FullTransport = {
    val base = fullTransport.getOrElse(Http.full(transport))
    if (isCached) HttpCache.cached(base) else base
  }

  /** Fill pagination slots: mustache substitution if present, else query
    * params. Exposed for spec assertions. */
  def urlFor(subst: Map[String, String]): String = {
    val raw = endpoint + path
    if (raw.contains("{{"))
      subst.foldLeft(raw) { case (u, (k, v)) =>
        u.replaceAll("\\{\\{\\s*paginator\\." + k + "\\s*\\}\\}",
          java.util.regex.Matcher.quoteReplacement(v))
      }
    else {
      val params = subst.map { case (k, v) => s"$k=$v" }.mkString("&")
      if (params.isEmpty) raw
      else raw + (if (raw.contains("?")) "&" else "?") + params
    }
  }

  private def blankPage(body: String): Boolean = {
    val t = body.trim
    t.isEmpty || t == "[]" || t == "{}" || t == "null"
  }

  /** Parse driver-collected page bodies per the configured DOCUMENT type
    * (reference: curl.rs delegates body decode to the document layer, so
    * a csv- or xml-speaking API works too). json/jsonl parse distributed
    * with entry_path envelope unwrap; other document types go through
    * Documents.readString per page (pages are bounded — the walk already
    * buffered them). No pages -> a schemaless empty frame instead of
    * json inference's "Unable to infer schema" crash. */
  private def parsePages(spark: SparkSession, bodies: Seq[String]): DataFrame = {
    import spark.implicits._
    val nonBlank = bodies.filterNot(blankPage)
    if (nonBlank.isEmpty) spark.emptyDataFrame
    else docType match {
      case "json" | "jsonl" | "" =>
        Documents.withEntryPath(spark.read.json(spark.createDataset(
          spark.sparkContext.parallelize(nonBlank))), opts)
      case other =>
        nonBlank.map(b => Documents.readString(spark, other, b, opts))
          .reduce(_.unionByName(_))
    }
  }

  /** Parse spilled page files. json/jsonl stays fully distributed: wholetext
    * gives one row per page file and inference reads from the files, so the
    * bodies never re-assemble on the driver. Other document types decode
    * through Documents.readString one page at a time — bounded at a single
    * body in driver memory (the plan union stays distributed). The spill
    * dir is deleted before returning in every branch. */
  private def parseSpilled(spark: SparkSession, spill: PageSpill,
                           n: Int): DataFrame = {
    if (n == 0) { spill.delete(); spark.emptyDataFrame }
    else docType match {
      case "json" | "jsonl" | "" =>
        Documents.withEntryPath(spill.parseJson(), opts)
      case other =>
        val parsed = (0 until n).map(i =>
          Documents.readString(spark, other, spill.readPage(i), opts))
          .reduce(_.unionByName(_))
        spill.delete()
        parsed
    }
  }

  override def load(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val ex = exchange
    // auth evaluates at LOAD time, not config-parse time (the reference
    // authenticates per request; key material may come from a refresh
    // flow only reachable when the job runs)
    val hs = headers ++ auth.map(_())
    // a configured counter turns an unknown total into a known one with a
    // single probe call, unlocking parallel pagination
    val effective = (paginator, counter) match {
      case (op @ OffsetPaginator(_, _, None), Some(c)) =>
        val url = c.path.map(endpoint + _).getOrElse(urlFor(Map.empty))
        val resp = ex(url, hs)
        val probed: Option[Long] = c match {
          case BodyCounter(_, _) if resp.body.trim.isEmpty => None
          case BodyCounter(entryPath, _) =>
            val node = new com.fasterxml.jackson.databind.ObjectMapper()
              .readTree(resp.body).at(entryPath)
            if (node.isMissingNode || node.isNull) None else Some(node.asLong())
          case HeaderCounter(name, _) =>
            // a missing/garbage header degrades to the sequential walk,
            // matching the BodyCounter fallback
            resp.headers.collectFirst {
              case (k, v) if k.equalsIgnoreCase(name) => v.trim
            }.flatMap(v => scala.util.Try(v.toLong).toOption)
        }
        probed.map(n => op.copy(count = Some(n))).getOrElse(op)
      case (p, _) => p
    }
    effective match {
      case OffsetPaginator(limit, skip, Some(count)) =>
        val nPages = math.max(0L, (count - skip + limit - 1) / limit).toInt
        if (nPages == 0) spark.emptyDataFrame
        else {
          // URLs planned on the driver (cheap strings), fetched one page
          // per partition so page fetches run concurrently on executors;
          // the bodies STAY distributed (a collect() here would bottleneck
          // the driver at 100k-page collections) and persist so json
          // inference + downstream actions re-parse the cache instead of
          // re-fetching every page. The cached blocks are LRU-evictable
          // and die with the session.
          val urls = (0 until nPages).map(i =>
            urlFor(Map("limit" -> limit.toString, "skip" -> (skip + i.toLong * limit).toString)))
          val fetched = urls.toDS().repartition(math.min(nPages, 64))
            .map(u => ex(u, hs).body)
          docType match {
            case "json" | "jsonl" | "" =>
              val bodies = fetched.filter(b => !blankPage(b))
                .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
              if (bodies.isEmpty) { bodies.unpersist(blocking = false); spark.emptyDataFrame }
              else Documents.withEntryPath(spark.read.json(bodies), opts)
            case _ =>
              // non-json documents decode through the per-page document
              // layer; the fetch still ran in parallel on executors, and
              // the bodies stream to a spill dir one page at a time
              // (toLocalIterator) instead of assembling on the driver
              val spill = new PageSpill(spark)
              var n = 0
              fetched.toLocalIterator().forEachRemaining { body =>
                if (!blankPage(body)) { spill.write(n, body); n += 1 }
              }
              parseSpilled(spark, spill, n)
          }
        }
      case OffsetPaginator(limit, skip, None) =>
        // unknown total: the page count is data-dependent, so the walk is
        // sequential on the driver; each body spills to disk as fetched
        // (driver holds ONE page) and parsing reads the files distributed
        val spill = new PageSpill(spark)
        var n = 0
        var s = skip.toLong
        var done = false
        while (!done) {
          val body = ex(urlFor(Map("limit" -> limit.toString, "skip" -> s.toString)), hs).body
          if (blankPage(body)) done = true
          else { spill.write(n, body); n += 1; s += limit }
        }
        parseSpilled(spark, spill, n)
      case CursorPaginator(limit, entryPath) =>
        // cursor chains are inherently sequential (each page names the
        // next); memory is NOT — bodies spill as fetched, same as above
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        val spill = new PageSpill(spark)
        var n = 0
        var cursor: Option[String] = None
        var done = false
        while (!done) {
          val subst = Map("limit" -> limit.toString) ++ cursor.map("next" -> _)
          val body = ex(urlFor(subst), hs).body
          if (blankPage(body)) done = true
          else {
            spill.write(n, body); n += 1
            val at = mapper.readTree(body).at(entryPath)
            cursor = if (at.isMissingNode || at.isNull || at.asText().isEmpty) None
                     else Some(at.asText())
            done = cursor.isEmpty
          }
        }
        parseSpilled(spark, spill, n)
    }
  }
}

object MongoConnector {
  /** Minimal driver-shaped client surface (reference: mongodb.rs wraps the
    * official Rust driver). Injectable so pagination planning, distributed
    * parse, batched insert and erase are real and spec-tested without a
    * server; a production adapter wraps mongo-java-driver (or the Spark
    * connector) behind the same four calls. Documents travel as extended
    * JSON strings — the same wire shape the reference's serde layer sees. */
  trait Client extends Serializable {
    def count(database: String, collection: String, filterJson: String): Long
    def find(database: String, collection: String, filterJson: String,
             skip: Long, limit: Int): Seq[String]
    def insert(database: String, collection: String, docsJson: Seq[String]): Unit
    def drop(database: String, collection: String): Unit
    /** Cursor-session walk (reference: paginator/mongodb/cursor.rs — the
      * driver cursor's getMore chain): fetch the page after `cursor`
      * (None = the first page), returning the docs plus the next token
      * (None = exhausted). The default emulates the chain over
      * skip/limit so existing adapters keep working unchanged; a
      * driver-backed client overrides with the real cursor session
      * (whose token is the live cursor id). */
    def findWithCursor(database: String, collection: String,
                       filterJson: String, cursor: Option[String],
                       limit: Int): (Seq[String], Option[String]) = {
      val skip = cursor.map(_.toLong).getOrElse(0L)
      val docs = find(database, collection, filterJson, skip, limit)
      (docs,
        if (docs.size < limit) None else Some((skip + docs.size).toString))
    }
  }
}

/** MongoDB connector (reference: mongodb.rs — endpoint/db/collection,
  * `filter` find query, offset OR cursor pagination, update/erase). With
  * a client the whole execution path runs: offset pagination plans
  * page-per-partition parallel finds off a count probe (the curl
  * known-count shape); cursor pagination (reference:
  * paginator/mongodb/cursor.rs) walks the driver's next-token chain
  * sequentially on the driver — each page names the next, so the walk
  * cannot parallelize, exactly like the curl cursor paginator — and
  * parses distributed. Bodies parse with distributed JSON inference,
  * saves insert in per-partition batches. Without a client (this
  * container has no driver jar and no egress) the operations fail fast
  * with a clear message instead of a classpath error. */
final case class MongoConnector(uri: String, database: String, collection: String,
                                filter: String = "{}", batchSize: Int = 1000,
                                client: Option[MongoConnector.Client] = None,
                                pagination: String = "offset")
    extends Connector {
  private def unavailable = new UnsupportedOperationException(
    "MongoDB support requires a client (mongo driver jar) on the classpath " +
      s"(would read $database.$collection from $uri)")

  override def load(spark: SparkSession): DataFrame = client match {
    case None => throw unavailable
    case Some(c) if pagination == "cursor" =>
      import spark.implicits._
      // sequential token-chain walk (driver-side buffer, bounded by the
      // collection — the curl cursor paginator's documented contract);
      // page bodies then parse distributed
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      var cursor: Option[String] = None
      var done = false
      while (!done) {
        val (docs, next) =
          c.findWithCursor(database, collection, filter, cursor, batchSize)
        buf ++= docs
        cursor = next
        done = next.isEmpty || docs.isEmpty
      }
      if (buf.isEmpty) spark.emptyDataFrame
      else spark.read.json(spark.createDataset(buf.toSeq))
    case Some(c) =>
      import spark.implicits._
      val total = c.count(database, collection, filter)
      val nPages = math.max(0L, (total + batchSize - 1) / batchSize).toInt
      if (nPages == 0) spark.emptyDataFrame
      else {
        val (db, coll, f, bs) = (database, collection, filter, batchSize)
        val docs = spark.range(nPages).repartition(math.min(nPages, 64))
          .mapPartitions(_.flatMap(p => c.find(db, coll, f, p * bs.toLong, bs)))
        // persisted so json inference + downstream actions re-parse the
        // cache instead of re-querying every page; blocks are
        // LRU-evictable and die with the session
        spark.read.json(docs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      }
  }

  override def save(df: DataFrame, mode: SaveMode): Unit = client match {
    case None => throw unavailable
    case Some(c) =>
      if (mode == SaveMode.Overwrite) c.drop(database, collection)
      val (db, coll, bs) = (database, collection, batchSize)
      df.toJSON.foreachPartition { (it: Iterator[String]) =>
        it.grouped(bs).foreach(batch => c.insert(db, coll, batch.toSeq))
      }
  }

  override def erase(spark: SparkSession): Unit =
    client.getOrElse(throw unavailable).drop(database, collection)
}

object Connector {
  import com.fasterxml.jackson.databind.JsonNode

  /** Parse a chewdata authenticator config node → auth header
    * (reference: src/connector/authenticator/{basic,bearer,jwt}.rs). */
  def authHeader(a: JsonNode): (String, String) = {
    def s(f: String, d: String = ""): String = if (a.has(f)) a.get(f).asText() else d
    s("type") match {
      case "basic" => HttpConnector.basicAuth(
        if (a.has("username")) s("username") else s("user"), s("password"))
      case "bearer" => HttpConnector.bearerAuth(s("token"))
      case "jwt" if a.has("token") => HttpConnector.jwtAuth(s("token"))
      case "jwt" =>
        val claims =
          if (a.has("claims")) a.get("claims").toString
          else if (a.has("payload")) a.get("payload").toString
          else "{}"
        val signing = s("signing_type", s("signing", "secret"))
        // rsa_components keys travel as a JWK object (RFC 7517)
        val key =
          if (a.has("jwk") && signing.startsWith("rsa")) a.get("jwk").toString
          else s("key")
        HttpConnector.jwtSignedAuth(claims, key,
          s("algorithm", s("algo", "HS256")), signing)
      case other => throw new IllegalArgumentException(
        s"unknown authenticator type: $other (basic/bearer/jwt)")
    }
  }

  /** Parse a paginator config node (reference: src/connector/paginator). */
  def paginator(p: JsonNode): HttpPaginator = {
    def int(f: String, d: Int): Int = if (p.has(f)) p.get(f).asInt() else d
    if (p.has("type") && p.get("type").asText() == "cursor")
      CursorPaginator(int("limit", 100),
        if (p.has("entry_path")) p.get("entry_path").asText() else "/next")
    else
      OffsetPaginator(int("limit", 100), int("skip", 0),
        if (p.has("count")) Some(p.get("count").asLong()) else None)
  }

  /** Build from a chewdata-style connector config node. `transport` is the
    * injectable HTTP call for curl connectors (default: zero-egress);
    * `mongoClient` is the injectable mongodb driver adapter (default:
    * none — mongodb operations fail fast). The config node itself is
    * identical with or without the live bindings. */
  def fromConfig(node: com.fasterxml.jackson.databind.JsonNode,
                 docType: String, opts: DocOptions,
                 transport: Http.Transport = Http.noTransport,
                 mongoClient: Option[MongoConnector.Client] = None): Connector = {
    def str(field: String, default: String = ""): String =
      if (node.has(field)) node.get(field).asText() else default
    str("type", "local") match {
      case "local" | "l"          =>
        val parts = Option(node.get("partition_by"))
          .map(n => scala.jdk.CollectionConverters.IteratorHasAsScala(n.elements()).asScala.map(_.asText()).toSeq)
          .getOrElse(Nil)
        LocalConnector(str("path"), docType, opts, parts)
      case "mem" | "in_memory"    => InMemoryConnector(str("data"), docType, opts)
      case "cli" | "io"           => CliConnector(docType)
      case "bucket" | "bucket_select" => BucketConnector(str("bucket"), str("key"), docType, opts)
      case "psql" | "jdbc"        =>
        def lng(f: String): Long = if (node.has(f)) node.get(f).asLong() else 0L
        JdbcConnector(str("url"), str("table"), str("user"), str("password"),
          if (node.has("partition_column")) Some(node.get("partition_column").asText()) else None,
          lng("lower_bound"), lng("upper_bound"),
          if (node.has("num_partitions")) node.get("num_partitions").asInt() else 8,
          str("driver"))
      case "curl" =>
        val headers = Option(node.get("headers")).map { h =>
          val b = Map.newBuilder[String, String]
          h.properties().forEach(e => b += (e.getKey -> e.getValue.asText()))
          b.result()
        }.getOrElse(Map.empty[String, String])
        val auth = Option(node.get("authenticator_type"))
          .orElse(Option(node.get("authenticator")))
          .orElse(Option(node.get("auth")))
          .map(a => () => authHeader(a))
        val pag = Option(node.get("paginator_type"))
          .orElse(Option(node.get("paginator")))
          .map(paginator)
          // legacy shorthand: "pages": N ≡ offset paginator of N known pages
          .getOrElse(if (node.has("pages"))
            OffsetPaginator(limit = 1, skip = 0, count = Some(node.get("pages").asLong()))
          else OffsetPaginator())
        val counter = Option(node.get("counter_type"))
          .orElse(Option(node.get("counter")))
          .map { c =>
            val cpath = if (c.has("path")) Some(c.get("path").asText()) else None
            if (c.has("type") && c.get("type").asText() == "header")
              HeaderCounter(
                if (c.has("name")) c.get("name").asText() else "X-Total-Count", cpath)
            else
              BodyCounter(
                if (c.has("entry_path")) c.get("entry_path").asText() else "/count", cpath)
          }
        // reference: curl.rs:181 — `is_cached`, aliases `cache`/`cache_enabled`
        val isCached = Seq("is_cached", "cache", "cache_enabled")
          .exists(f => node.has(f) && node.get(f).asBoolean())
        CurlConnector(str("endpoint"), str("path"), headers, pag, transport, counter,
          auth, isCached = isCached, docType = docType, opts = opts)
      case "mongodb" | "mongo"    =>
        // reference: paginator/mongodb/{offset,cursor}.rs — the paginator
        // node picks the walk; limit maps onto the page/batch size
        val pagNode = Option(node.get("paginator_type"))
        val pagKind = pagNode.filter(p => p.has("type"))
          .map(_.get("type").asText()).getOrElse("offset")
        val pageSize = pagNode.filter(_.has("limit")).map(_.get("limit").asInt())
        MongoConnector(str("endpoint"), str("database"),
          str("collection"),
          if (node.has("filter")) node.get("filter").toString else "{}",
          pageSize.getOrElse(
            if (node.has("batch_size")) node.get("batch_size").asInt() else 1000),
          client = mongoClient,
          pagination = pagKind)
      case other => throw new IllegalArgumentException(s"unknown connector type: $other")
    }
  }
}
