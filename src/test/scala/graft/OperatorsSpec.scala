package graft

import graft.operators._
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  test("events loader accepts both ts encodings: int64 nanos and timestamp") {
    // testdata generations have shipped ts as TIMESTAMP(NANOS) (loads as
    // BIGINT under nanosAsLong) and as timestamp[us]; Tables.events must
    // surface identical TimestampType data from either. The live testdata
    // covers the timestamp branch; rewrite it as nanos to pin the other.
    val real = Tables(spark, sf).events
    assert(real.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val dir = java.nio.file.Files.createTempDirectory("graft_events_enc").toString
    spark.read.parquet(s"$sf/events.parquet")
      .withColumn("ts", unix_micros(col("ts").cast("timestamp")) * 1000L)
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val viaNanos = Tables(spark, dir).events
    assert(viaNanos.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(unix_micros(col("ts"))),
        min(col("ts")), max(col("ts"))).head()
    assert(fp(viaNanos) == fp(real))
  }

  test("lineitem/orders date columns normalise from nanos and DATE encodings") {
    // the same regeneration hazard as events.ts: if l_shipdate/o_orderdate
    // ever ship as TIMESTAMP(NANOS) (→ BIGINT under nanosAsLong) or DATE,
    // every relational gate dies at analysis. Pin all three encodings to
    // identical TimestampType data.
    val real = Tables(spark, sf).lineitem
    assert(real.schema("l_shipdate").dataType == org.apache.spark.sql.types.TimestampType)
    val dir = java.nio.file.Files.createTempDirectory("graft_li_enc").toString
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
    raw.withColumn("l_shipdate", unix_micros(col("l_shipdate").cast("timestamp")) * 1000L)
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    def fp(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum(unix_micros(col("l_shipdate"))),
        min(col("l_shipdate")), max(col("l_shipdate"))).head()
    val viaNanos = Tables(spark, dir).lineitem
    assert(viaNanos.schema("l_shipdate").dataType == org.apache.spark.sql.types.TimestampType)
    assert(fp(viaNanos) == fp(real))
    // DATE branch: midnight-UTC timestamps, schema normalised; testdata
    // shipdates are already midnight-aligned so values round-trip exactly
    raw.withColumn("l_shipdate", col("l_shipdate").cast("date"))
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val viaDate = Tables(spark, dir).lineitem
    assert(viaDate.schema("l_shipdate").dataType == org.apache.spark.sql.types.TimestampType)
    assert(fp(viaDate) == fp(real))
    val ordReal = Tables(spark, sf).orders
    assert(ordReal.schema("o_orderdate").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("cluster-balanced sample: exact quotas, determinism under repartitioning") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        Similarity.asDouble(col("embedding")).as("c_vec"))
    val out = Similarity.clusterBalancedSample(e, cents, perCell = 10)
    val perCell = out.groupBy("cell").count().collect()
    assert(perCell.forall(_.getLong(1) <= 10), "quota exceeded in some cell")
    assert(out.select("vec_id").distinct().count() == out.count(), "dup ids")
    // hash ranking ⇒ identical selection regardless of physical layout
    val re = Similarity.clusterBalancedSample(e.repartition(13), cents, perCell = 10)
    assert(out.orderBy("cell", "vec_id").collect().toSeq ==
      re.orderBy("cell", "vec_id").collect().toSeq)
    // every selected id really belongs to the cell it was sampled from
    val assignedCells = out.select(countDistinct(col("cell"))).head().getLong(0)
    assert(assignedCells > 1, "expected multiple populated cells")
  }

  test("exact dedup keeps one row per key") {
    val df = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z")).toDF("id", "text")
    val out = Dedup.exact(df, "id", col("text"))
    assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
  }

  test("minhash finds planted near-duplicates with high jaccard") {
    val docs = Tables(spark, sf).documents
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.5))
  }

  test("repeated-substring removal: keep-first policy, within and across docs") {
    val run = "a b c d e f g h" // an 8-gram planted twice across docs, twice within one
    val df = Seq(
      (1L, s"$run x y"),                 // first occurrence anywhere -> kept
      (2L, s"z $run w"),                 // cross-doc repeat -> removed
      (3L, s"$run q $run"),              // within-doc second occurrence -> removed
      (4L, "p q r s t u v")              // 7 tokens: too short to gram, untouched
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedRuns(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == (s"$run x y", 0L), "globally-first occurrence must survive")
    assert(out(2L) == ("z w", 8L))
    // doc 3: occurrence at pos 0 is a dup of doc 1's keeper, so BOTH of its
    // runs go (pos 0 and pos 9), leaving only the middle token
    assert(out(3L) == ("q", 16L))
    assert(out(4L) == ("p q r s t u v", 0L))
    // null text propagates
    val nul = Dedup.removeRepeatedRuns(
      Seq((9L, null: String)).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(nul.isNullAt(1) && nul.isNullAt(2))
  }

  test("simhash of identical token multisets is identical; hamming 0") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"), (3L, "delta epsilon zeta eta")).toDF("id", "text")
    val sims = df.select(col("id"), Dedup.simhash(col("text")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sims(1L) == sims(2L))
    assert(sims(1L) != sims(3L))
  }

  test("native expressions tolerate empty and null inputs") {
    val df = Seq((1L, "", Array.empty[Double]), (2L, "a b", Array(1.0, 2.0)))
      .toDF("id", "t", "v")
    val out = df.select(
      Dedup.simhash(col("t")).as("sh"),
      graft.plans.Native.minhashSig(split(col("t"), " ")).as("mh"),
      graft.plans.NativeSets.hashedSet(split(col("t"), " ")).as("hs"),
      Similarity.cosine(col("v"), col("v")).as("cos"))
    val rows = out.collect()
    assert(rows.length == 2)                       // no crash on empties
    assert(rows(0).getAs[scala.collection.Seq[Long]]("mh").length == 64)
    val nulls = Seq((1L, null: String)).toDF("id", "t")
      .select(Dedup.simhash(col("t")).as("sh")).collect()
    assert(nulls.head.isNullAt(0))                 // null propagates
  }

  test("text operators are total on edge inputs (null/empty/whitespace/unicode)") {
    // a 100 TB corpus WILL contain nulls, empty strings and stray unicode;
    // every text op must stay a total function (null-propagate or produce a
    // sane value), never throw
    val df = Seq((1L, null: String), (2L, ""), (3L, "   "), (4L, "λ µ λ"), (5L, "a"))
      .toDF("doc_id", "text")
    val out = df.select(col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).as("n_ws"),
      TextAnalysis.tokenCountBpe(col("text")).as("n_bpe"),
      TextAnalysis.avgWordLen(col("text")).as("awl"),
      TextAnalysis.qualityScore(col("text")).as("q"),
      TextAnalysis.langId(col("text")).as("lang"),
      TextAnalysis.fingerprintSorted(col("text")).as("fp"),
      TextAnalysis.scrubPii(col("text")).as("clean"),
      TextAnalysis.repetitionRatio(TextAnalysis.tokens(col("text"))).as("rep"))
    val rows = out.collect()
    assert(rows.length == 5)
    val nullRow = rows.find(_.getLong(0) == 1L).get
    // every op null-propagates EXCEPT langId, whose documented (and
    // oracle-matched) contract maps no-evidence input to 'und'
    val langIdx = out.columns.indexOf("lang")
    assert((1 until nullRow.length).filter(_ != langIdx).forall(nullRow.isNullAt),
      s"null text must null-propagate through every text op: $nullRow")
    assert(nullRow.getString(langIdx) == "und")
    assert(rows.find(_.getLong(0) == 4L).get.getAs[String]("lang") != null)
  }

  test("dedup and similarity operators are total on empty frames") {
    // incremental pipelines routinely pass empty slices; every operator
    // must return an empty result, not throw on a missing head()/first()
    import org.apache.spark.sql.types._
    val eDocs = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
    val eVecs = spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("vec_id", LongType),
        StructField("embedding", ArrayType(DoubleType)))))
    assert(Dedup.exact(eDocs, "doc_id", col("text")).count() == 0)
    val pairs = Dedup.minhashPairs(eDocs, "doc_id", "text", threshold = 0.5)
    assert(pairs.count() == 0)
    assert(Dedup.representatives(pairs).count() == 0)
    assert(Dedup.simhashPairs(eDocs, "doc_id", "text").count() == 0)
    val cent = Seq((0, Seq(1.0, 0.0))).toDF("c_id", "c_vec")
    assert(Similarity.semDedup(eVecs, cent, tau = 0.5).count() == 0)
    assert(Similarity.lshNearDupPairs(eVecs, threshold = 0.5).count() == 0)
    val q = Seq((0L, Seq(1.0, 0.0))).toDF("q_id", "q_vec")
    assert(Similarity.bruteTopK(eVecs, q, k = 3).count() == 0)
  }

  test("cosine similarity: native expr matches hand math and self-sim is 1") {
    val df = Seq((1L, Array(1.0, 0.0), 2L, Array(0.5, 0.5))).toDF("a", "va", "b", "vb")
    val c = df.select(Similarity.cosine(col("va"), col("vb")).as("c")).head().getDouble(0)
    assert(math.abs(c - math.sqrt(0.5)) < 1e-12)
    val self = df.select(Similarity.cosine(col("va"), col("va")).as("c")).head().getDouble(0)
    assert(math.abs(self - 1.0) < 1e-12)
  }

  test("bruteTopK rank-1 for an in-corpus query is the query itself") {
    val emb = Tables(spark, sf).embeddings
    val q = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val top = Similarity.bruteTopK(emb, q, k = 1).collect()
    assert(top.length == 3)
    assert(top.forall(r => r.getAs[Long]("q_id") == r.getAs[Long]("vec_id")))
  }

  test("trained centroids: k cells, right dimensionality, deterministic") {
    val emb = Tables(spark, sf).embeddings
    val c1 = Similarity.trainCentroids(emb, k = 4, iterations = 2).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    val c2 = Similarity.trainCentroids(emb, k = 4, iterations = 2).collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    assert(c1.size == 4 && c1.values.forall(_.length == 64))
    assert(c1 == c2)
  }

  test("semdedup with trained centroids: keep-first policy holds, deterministic") {
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sf).embeddings
    val cents = Similarity.trainCentroids(emb, k = 4, iterations = 2)
      .withColumnRenamed("c_id", "c_id").select(col("c_id"), col("c_vec"))
    val kept1 = Similarity.semDedup(emb, cents, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val kept2 = Similarity.semDedup(emb, cents, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept1 == kept2, "semdedup must be deterministic")
    val total = emb.count()
    assert(kept1.size > 0 && kept1.size < total,
      s"expected a strict subset kept, got ${kept1.size}/$total")
    // invariant of keep-first: no two KEPT vectors in the same cell are
    // tau-similar (the later one would have been dropped)
    val vecs = emb.select(col("vec_id"), Similarity.asDouble(col("embedding")))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(x: Array[Double], y: Array[Double]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i); i += 1 }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    for ((_, members) <- kept1.groupBy(_._2)) {
      val ids = members.map(_._1).toSeq.sorted
      for (i <- ids.indices; j <- (i + 1) until ids.size)
        assert(cos(vecs(ids(i)), vecs(ids(j))) < 0.3 + 1e-9,
          s"kept pair (${ids(i)}, ${ids(j)}) is tau-similar — should have deduped")
    }
  }

  test("semdedup cell cap bounds the pair join on a degenerate one-cell corpus") {
    // every vector points the same way → one cell of size n: without the
    // cap the within-cell join is n² on a single hot key; with maxCell=8
    // the anchor side is 8 rows, so pair candidates are bounded at 8n.
    val n = 400
    val one = spark.range(n).select(col("id").as("vec_id"),
      array(lit(1.0), lit(0.0), lit(0.0)).as("embedding"))
    val cent = Seq((0, Seq(1.0, 0.0, 0.0))).toDF("c_id", "c_vec")
    val kept = Similarity.semDedup(one, cent, tau = 0.9, maxCell = 8)
      .collect().map(_.getLong(0)).toSeq
    // id 0 is the first anchor and drops everything else (cos = 1)
    assert(kept == Seq(0L), s"one-direction corpus must keep only id 0, got $kept")

    // cap semantics: beyond-cap members cannot DROP (only anchors do) but
    // stay drop candidates themselves. ids 0..9 ~ e1; id 20 and 50 ~ e2.
    // With maxCell=10 the anchors are ids 0..9, so 20 can no longer drop 50.
    val e1 = Seq(1.0, 0.0); val e2 = Seq(0.0, 1.0)
    val rows = (0L until 10L).map(i => (i, e1)) ++ Seq((20L, e2), (50L, e2))
    val df = rows.toDF("vec_id", "embedding")
    val c = Seq((0, Seq(math.sqrt(0.5), math.sqrt(0.5)))).toDF("c_id", "c_vec")
    def keptIds(cap: Int): Set[Long] =
      Similarity.semDedup(df, c, tau = 0.5, maxCell = cap)
        .collect().map(_.getLong(0)).toSet
    assert(keptIds(1000) == Set(0L, 20L),
      "uncapped keep-first: 20 drops 50, 0 drops 1..9")
    assert(keptIds(10) == Set(0L, 20L, 50L),
      "capped: 50 survives because its only earlier similar member (20) is beyond the anchor cap")
  }

  test("incremental dedup lifecycle: batch vs index, fold in, next batch") {
    spark.sql("DROP TABLE IF EXISTS inc_idx")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "inc_idx")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    try {
      val corpus = Seq((1L, "aa"), (2L, "bb"), (3L, "aa")).toDF("doc_id", "text")
      Dedup.buildFingerprintIndex(corpus, "inc_idx", buckets = 4,
        idCol = "doc_id", key = col("text"))
      // batch 1: "aa" exists in the corpus; "cc" is an intra-batch dup
      val batch1 = Seq((10L, "aa"), (11L, "cc"), (12L, "cc"), (13L, "dd"))
        .toDF("doc_id", "text")
      val kept1 = Dedup.dedupAgainstIndex(batch1, "inc_idx",
        idCol = "doc_id", key = col("text"))
      assert(kept1.select("doc_id").as[Long].collect().sorted.toSeq == Seq(11L, 13L))
      // fold batch 1's survivors in; batch 2 must now see "cc" as existing
      Dedup.appendToIndex(kept1, "inc_idx", buckets = 4,
        idCol = "doc_id", key = col("text"))
      val batch2 = Seq((20L, "cc"), (21L, "ee")).toDF("doc_id", "text")
      val kept2 = Dedup.dedupAgainstIndex(batch2, "inc_idx",
        idCol = "doc_id", key = col("text"))
      assert(kept2.select("doc_id").as[Long].collect().toSeq == Seq(21L))
    } finally spark.sql("DROP TABLE IF EXISTS inc_idx")
  }

  test("incremental near-dup: batch drops corpus near-dups, resolves intra-batch groups") {
    for (t <- Seq("mh_t_bands", "mh_t_sets")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), t)
      loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    }
    try {
      val base = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
      val other = "november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee"
      val corpus = Seq((1L, base)).toDF("doc_id", "text")
      Dedup.buildMinhashIndex(corpus, "mh_t", buckets = 4,
        idCol = "doc_id", textCol = "text")
      val batch = Seq(
        (10L, base + " extra"),    // near-dup of corpus doc 1 → dropped
        (11L, other),              // intra-batch group min-id → kept
        (12L, other + " zulu"),    // near-dup of 11 → dropped
        (13L, "one two three four five six seven eight nine ten eleven twelve"))
        .toDF("doc_id", "text")
      // the cross pair is found with its exact jaccard
      val cross = Dedup.minhashPairsAgainstIndex(batch, "mh_t", 0.5, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(cross.toSeq == Seq((10L, 1L)), s"expected the planted cross pair, got ${cross.toSeq}")
      val kept = Dedup.dedupNearDupAgainstIndex(batch, "mh_t", 0.5, "doc_id", "text")
        .select("doc_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(11L, 13L))
    } finally Seq("mh_t_bands", "mh_t_sets").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("incremental semdedup: batch drops vs corpus anchors, then keep-first within batch") {
    spark.sql("DROP TABLE IF EXISTS sem_t_idx")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "sem_t_idx")
    loc.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(loc, true)
    try {
      val cent = Seq((0, Seq(math.sqrt(0.5), math.sqrt(0.5)))).toDF("c_id", "c_vec")
      val corpus = Seq((1L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
      Similarity.buildSemDedupIndex(corpus, cent, "sem_t_idx", buckets = 2)
      val batch = Seq(
        (10L, Seq(0.995, 0.1)),  // ~corpus doc 1 → cross-dropped
        (11L, Seq(0.0, 1.0)),    // new direction → kept
        (12L, Seq(0.1, 0.995)),  // ~11, later id → intra-batch drop
        (13L, Seq(-1.0, 0.3)))   // far from both survivors → kept
        .toDF("vec_id", "embedding")
      val kept = Similarity.semDedupAgainstIndex(batch, cent, "sem_t_idx", tau = 0.9)
        .select("vec_id").as[Long].collect().sorted.toSeq
      assert(kept == Seq(11L, 13L))
    } finally spark.sql("DROP TABLE IF EXISTS sem_t_idx")
  }

  test("boilerplate line removal strips corpus-common lines, keeps content") {
    val docs = Seq(
      (1L, "HEADER\nunique one content\nFOOTER"),
      (2L, "HEADER\nunique two content\nFOOTER"),
      (3L, "HEADER\nunique three content\nFOOTER"),
      (4L, "no chrome here at all"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.removeCommonLines(docs, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out(1L) == (("unique one content", 2L)))
    assert(out(2L) == (("unique two content", 2L)))
    assert(out(3L) == (("unique three content", 2L)))
    assert(out(4L) == (("no chrome here at all", 0L)), "unique lines must survive")
    assert(out(5L) == ((null, -1L)), "null text must propagate as null")
    // raise the bar past the fixture: nothing is common enough, all intact
    val loose = Dedup.removeCommonLines(docs, "doc_id", "text", minDocs = 4)
      .filter(col("n_removed") > 0).count()
    assert(loose == 0, "minDocs above every line's df must remove nothing")
  }

  test("lsh/minhash/simhash bucket caps bound degenerate one-bucket corpora") {
    // every row identical → every band collapses to ONE hot bucket (the
    // case where collect-then-slice buffers the whole corpus): the bounded
    // min-k cap must keep exactly the maxBucket smallest ids, so the pair
    // set is C(8,2) over ids 0..7 — and nothing else
    val expect = (for (a <- 0L until 8L; b <- (a + 1) until 8L) yield (a, b)).toSet
    val vecs = spark.range(500).select(col("id").as("vec_id"),
      array(lit(1.0), lit(2.0), lit(3.0)).as("embedding"))
    val lsh = Similarity.lshNearDupPairs(vecs, threshold = 0.9, maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == expect, s"lsh pairs must be capped to ids 0..7, got ${lsh.size}")
    val docs = spark.range(300).select(col("id").as("doc_id"),
      lit("the same boilerplate text repeated everywhere in this corpus").as("text"))
    val mh = Dedup.minhashCandidates(docs, "doc_id", "text", maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh == expect, s"minhash candidates must be capped to ids 0..7")
    val sh = Dedup.simhashPairs(docs, "doc_id", "text", maxBucket = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sh == expect, s"simhash pairs must be capped to ids 0..7")
  }

  test("centroid training survives a degenerate corpus prefix (hash-spread seeding)") {
    // ids 0..15 are all the SAME vector: id-order seeding would plant k
    // identical centroids (every later vector lands in one cell — the
    // degenerate case maxCell guards downstream). Hash-spread seeding
    // scatters the picks, so training still yields k distinct live cells.
    val n = 200
    val rows = (0 until n).map { i =>
      val theta = if (i < 16) 0.0 else i * math.Pi / n
      (i.toLong, Seq(math.cos(theta), math.sin(theta)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val trained = Similarity.trainCentroids(df, k = 4, iterations = 2)
    val cents = trained.collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
    assert(cents.length == 4, s"all 4 cells must survive training, got ${cents.length}")
    for (i <- cents.indices; j <- (i + 1) until cents.length) {
      val (a, b) = (cents(i)._2, cents(j)._2)
      val cos = (a(0) * b(0) + a(1) * b(1)) /
        (math.sqrt(a(0) * a(0) + a(1) * a(1)) * math.sqrt(b(0) * b(0) + b(1) * b(1)))
      assert(cos < 0.9999,
        s"centroids ${cents(i)._1} and ${cents(j)._1} are near-identical (cos=$cos)")
    }
    // determinism: the hash order is stable, so reruns seed identically
    val again = Similarity.trainCentroids(df, k = 4, iterations = 2).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).toSet
    assert(again == trained.collect().map(r => (r.getInt(0), r.getSeq[Double](1))).toSet)
  }

  test("ivf top-k returns k ranked rows per query") {
    val emb = Tables(spark, sf).embeddings
    val q = emb.filter(col("vec_id") < 2)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val out = Similarity.ivfTopK(emb, q, k = 5, nCentroids = 4, nprobe = 2)
    val rows = out.collect()
    val byQ = rows.groupBy(_.getAs[Long]("q_id"))
    assert(byQ.keySet == Set(0L, 1L))
    assert(byQ.values.forall(_.length == 5))
    // self-recall: an in-corpus query lands in its own cell, so rank 1 is
    // the query vector itself (cos 1.0) — the minimum quality bar any
    // IVF index must clear
    assert(rows.filter(_.getAs[Int]("rnk") == 1)
      .forall(r => r.getAs[Long]("q_id") == r.getAs[Long]("vec_id")))
  }

  test("ivf recall against brute force rises with nprobe (quality floor)") {
    // the accuracy/scan tradeoff an IVF index must honor. These gaussians
    // are unclustered — the worst case for IVF — so the honest bar is
    // recall well ABOVE the random-scan baseline (nprobe/nCentroids), not
    // the near-1 recall clustered data gives. Measured with hash-spread
    // seeding: 0.42 / 0.84 at nprobe 2 / 8 of 16 (baselines 0.125 / 0.5).
    // The previous 0.85@2 floor was an artifact: id-order seeding planted
    // the query vectors (ids 0..9 ⊂ first 16 ids) as their own centroids.
    val emb = Tables(spark, sf).embeddings
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
    val brute = Similarity.bruteTopK(emb, q, 10).select("q_id", "vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(nprobe: Int): Double = {
      val ivf = Similarity.ivfTopK(emb, q, 10, nCentroids = 16, nprobe = nprobe)
        .select("q_id", "vec_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (ivf & brute).size.toDouble / brute.size
    }
    val r2 = recall(2); val r8 = recall(8)
    assert(r2 >= 0.3, s"recall@10 nprobe=2 collapsed to $r2")
    assert(r2 >= 2 * 2.0 / 16, s"recall@10 nprobe=2 must beat 2x the random-scan baseline, got $r2")
    assert(r8 >= 0.7, s"recall@10 nprobe=8 collapsed to $r8")
    assert(r8 >= r2, "recall must not decrease with more probed cells")
  }

  test("lang id picks stopword-matching language") {
    val df = Seq((1, "the cat and the dog of a house"), (2, "el perro y la casa de los gatos"),
      (3, "qqq zzz www")).toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.langId(col("t")).as("l")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(out(1) == "en" && out(2) == "es" && out(3) == "und")
  }

  test("heavy hitters: exact answer from the bounded sketch, eviction exercised") {
    // vocab (42) ≫ sketch counters (5): the MG buffer evicts constantly,
    // yet the two-pass answer must equal the plain exact count
    val docs = (
      Seq.fill(50)("alpha") ++ Seq.fill(30)("beta") ++
        (0 until 40).map(i => s"rare$i") ++ Seq.fill(5)("gamma")
    ).grouped(5).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text").repartition(8)
    // N=125, k=5 ⇒ threshold 25: alpha (50) and beta (30) qualify;
    // gamma (5) and every rare* (1) must not
    val got = TextAnalysis.heavyHitters(docs, "text", k = 5).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("alpha" -> 50L, "beta" -> 30L))
    // totality: empty corpus and all-null text give an empty frame
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextAnalysis.heavyHitters(empty, "text", k = 5).count() == 0)
    val nul = Seq((1L, null: String)).toDF("doc_id", "text")
    assert(TextAnalysis.heavyHitters(nul, "text", k = 5).count() == 0)
  }

  test("paragraph dedup: globally-first occurrence survives, later copies vanish") {
    val docs = Seq(
      (1L, "A\nB"),          // first A, first B — untouched
      (2L, "B\nC"),          // B is a cross-doc repeat -> removed
      (3L, "A\nA"),          // both copies trail doc 1's A -> fully removed
      (4L, "Z\nZ"),          // within-doc repeat: first Z kept, second removed
      (5L, null: String)     // null text propagates
    ).toDF("doc_id", "text")
    val out = Dedup.dedupParagraphs(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (Option(r.getString(1)), if (r.isNullAt(2)) -1L else r.getLong(2)))
      .toMap
    assert(out(1L) == (Some("A\nB"), 0L))
    assert(out(2L) == (Some("C"), 1L))
    assert(out(3L) == (Some(""), 2L), "a fully-deduped doc must read as empty, not null")
    assert(out(4L) == (Some("Z"), 1L))
    assert(out(5L) == (None, -1L))
  }

  test("fingerprint is stable under token reorder") {
    val df = Seq((1, "b a c"), (2, "c b a"), (3, "c b d")).toDF("id", "t")
    val fps = df.select(col("id"), TextAnalysis.fingerprintSorted(col("t")).as("f")).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(fps(1) == fps(2) && fps(1) != fps(3))
  }

  test("asof join attaches most recent prior right row per key") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, 10L, t(30)), (2L, 10L, t(5)), (3L, 20L, t(10))).toDF("event_id", "user_id", "ts")
    val right = Seq((10L, t(10), 100L), (10L, t(20), 101L), (20L, t(10), 200L))
      .toDF("user_id", "ts", "view_id")
    val out = AsOfJoin.asOf(left, right, "user_id", "ts", "ts", Seq("view_id"))
      .select("event_id", "asof_view_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(1L) == 101L)  // latest view before 10:30
    assert(out(2L) == -1L)   // no view before 10:05
    assert(out(3L) == 200L)  // equal timestamp counts
  }

  test("asof tolerance nulls a stale nearest match, never substitutes an older one") {
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    val left = Seq((1L, 10L, t(30)), (2L, 10L, t(21)), (3L, 20L, t(50))).toDF("event_id", "user_id", "ts")
    val right = Seq((10L, t(0), 100L), (10L, t(20), 101L), (20L, t(10), 200L))
      .toDF("user_id", "ts", "view_id")
    val out = AsOfJoin.asOfTolerance(left, right, "user_id", "ts", "ts",
        Seq("view_id"), toleranceMicros = 10L * 60L * 1000000L) // 10 min
      .select("event_id", "asof_view_id").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) -1L else r.getLong(1))).toMap
    assert(out(1L) == 101L)  // 10 min gap: exactly at tolerance, inclusive
    assert(out(2L) == 101L)  // 1 min gap
    // user 20: nearest is 40 min stale -> null; the in-tolerance-of-nothing
    // older row must NOT be consulted (nearest-only semantics)
    assert(out(3L) == -1L)
    // left row count preserved (it is still a left join)
    assert(AsOfJoin.asOfTolerance(left, right, "user_id", "ts", "ts",
      Seq("view_id"), toleranceMicros = 1L).count() == 3)
  }

  test("zscore per group: exact integer moments, degenerate groups null") {
    val df = Seq((1L, "a", 2L), (2L, "a", 4L), (3L, "a", 6L),
                 (4L, "b", 5L), (5L, "b", 5L), (6L, "c", 9L)).toDF("id", "g", "x")
    val out = Curation.zscorePerGroup(df, "g", "x").select("id", "z").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    // group a: n=3 S1=12 S2=56; z = (3x-12)/sqrt(3*56-144) = (3x-12)/sqrt(24)
    assert(math.abs(out(1L) - (-6.0 / math.sqrt(24.0))) == 0.0)
    assert(out(2L) == 0.0)
    assert(math.abs(out(3L) - (6.0 / math.sqrt(24.0))) == 0.0)
    assert(out(4L).isNaN && out(5L).isNaN, "constant group has no scale")
    assert(out(6L).isNaN, "singleton group has no scale")
  }

  test("zscore per group: null values excluded from n, S1, and S2 alike") {
    // group a has two real values and one null: n must be 2, not 3 —
    // counting the null row would inflate n and silently skew every z.
    val df = Seq((1L, "a", Some(2L)), (2L, "a", Some(4L)), (3L, "a", None))
      .toDF("id", "g", "x")
    val out = Curation.zscorePerGroup(df, "g", "x").select("id", "z").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) Double.NaN else r.getDouble(1))).toMap
    // n=2 S1=6 S2=20: z(2) = (2·2-6)/sqrt(2·20-36) = -2/2 = -1, z(4) = +1
    assert(out(1L) == -1.0 && out(2L) == 1.0)
    assert(out(3L).isNaN, "the null row itself gets null z")
  }

  test("pearson exact: rows with a null in either signal are excluded") {
    // pairwise-complete: only (1,10) and (3,30) count → perfect +1 on n=2;
    // if the null rows leaked into any moment the result would differ.
    val df = Seq(("a", Some(1L), Some(10L)), ("a", None, Some(99L)),
                 ("a", Some(7L), None), ("a", Some(3L), Some(30L)))
      .toDF("g", "x", "y")
    val row = Curation.pearsonExact(df, "g", "x", "y").collect().head
    assert(row.getLong(1) == 2L, "n counts pairwise-complete rows only")
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-14)
  }

  test("pagerank: dst-only sink nodes get ranked, incoming mass kept") {
    // asymmetric chain 1→2→3: 3 never appears as src. It must still be in
    // the output, and with MORE than teleport-only rank (it receives 2's
    // mass); 2 receives 1's. Dangling mass (3's outflow) leaks to teleport.
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.keySet == Set(1L, 2L, 3L), "every node in the edge list ranks")
    val teleportOnly = (0 until 5).foldLeft(1000000L)((rk, _) => 150000L)
    assert(r(1L) == 150000L, "source-only node converges to teleport")
    assert(r(3L) > teleportOnly, "sink keeps its incoming mass")
    assert(r(2L) > teleportOnly)
  }

  test("pagerank releases its edge cache; only the result stays persisted") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    val e0 = Seq((1L, 2L), (2L, 1L))
    val out = Graph.pageRank(e0.toDF("src", "dst"), iterations = 3)
    // the hand-back persisted + forced the node-sized result and dropped the
    // edges-sized cache — exactly one persisted dataset may remain.
    assert(sc.getPersistentRDDs.size <= 1,
      s"edge cache leaked: ${sc.getPersistentRDDs.size} persisted RDDs")
    out.unpersist()
  }

  test("debounce anchors on the KEPT chain, not the previous event") {
    def t(s: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:00:${s}%02d")
    // burst at 0s/4s/8s with 5s gap: 4s drops (4 <= 5 after kept 0s) but
    // 8s KEEPS (8 > 5 after kept 0s) — a lag()-based filter would drop it
    // (8-4 <= 5); plus a same-instant tie keeping the smaller id
    val e = Seq((1L, t(0), 10L), (1L, t(4), 11L), (1L, t(8), 12L),
                (1L, t(8), 13L), (2L, t(0), 20L)).toDF("u", "ts", "eid")
    val kept = graft.queries.DataOps.debounceKeep(e, "u", "ts", "eid", 5L * 1000000L)
      .select("eid").as[Long].collect().toSet
    assert(kept == Set(10L, 12L, 20L))
  }

  test("merge apply: upsert-update, upsert-insert, delete, no-op delete, pass-through") {
    val snap = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "t")
    val batch = Seq((2L, "B", "upsert"),   // update
                    (4L, "d", "upsert"),   // insert
                    (3L, null.asInstanceOf[String], "delete"), // delete
                    (9L, null.asInstanceOf[String], "delete")  // delete of absent id: no-op
      ).toDF("id", "t", "op")
    val out = graft.queries.DataOps.applyChanges(snap, batch, "id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "a", 2L -> "B", 4L -> "d"))
  }

  test("jaccard join: prefix-blocked pairs equal the naive cross-filter") {
    val df = Seq(
      (1L, "a b c d e"), (2L, "a b c d f"),   // J = 4/6 = 2/3 (>= 3/5)
      (3L, "a b c d e"),                       // dup of 1: J = 1
      (4L, "a b x y z"),                       // vs 1: J = 2/8 (< 3/5)
      (5L, "p q r"), (6L, "p q r s")           // J = 3/4 (>= 3/5)
    ).toDF("id", "t")
    val got = Dedup.jaccardJoin(df, "id", "t", tNum = 3, tDen = 5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = df.select(col("id"),
      array_distinct(split(col("t"), " ")).as("s"))
    val naive = sets.as("a").join(sets.as("b"), col("a.id") < col("b.id"))
      .withColumn("i", size(array_intersect(col("a.s"), col("b.s"))))
      .withColumn("u", size(col("a.s")) + size(col("b.s")) - col("i"))
      .filter(col("i") * 5 >= col("u") * 3)
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive)
    assert(got == Set((1L, 2L), (1L, 3L), (2L, 3L), (5L, 6L)))
    // exactly-at-threshold pairs are kept (integer-rational >=, no float)
    val edge = Seq((1L, "a b c"), (2L, "a b c d e")).toDF("id", "t") // J = 3/5
    assert(Dedup.jaccardJoin(edge, "id", "t", 3, 5).count() == 1)
    val plan = Dedup.jaccardJoin(df, "id", "t", 3, 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"))
  }

  test("pearson exact: perfect +/-1 on linear signals, null on constants") {
    val df = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 30L),
                 ("b", 1L, 9L), ("b", 2L, 6L), ("b", 3L, 3L),
                 ("c", 5L, 1L), ("c", 5L, 2L)).toDF("g", "x", "y")
    val out = Curation.pearsonExact(df, "g", "x", "y").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(2)) Double.NaN else r.getDouble(2))).toMap
    // the sqrt(a)·sqrt(b) denominator chain is deterministic but not the
    // same double as sqrt(a·b), so ±1 lands within an ulp, not exactly on
    assert(math.abs(out("a") - 1.0) < 1e-14, "y = 10x correlates to +1")
    assert(math.abs(out("b") + 1.0) < 1e-14, "y = 12-3x correlates to -1")
    assert(out("c").isNaN, "constant x has no correlation")
  }

  test("top-k string heap: ranking, tie-break, and partial-merge stability") {
    val rows = Seq(("g", "beta", 2.0), ("g", "alpha", 3.0), ("g", "delta", 2.0),
                   ("g", "gamma", 1.0), ("g", "omega", 5.0))
    val out = rows.toDF("g", "t", "s").repartition(5)
      .groupBy(col("g"))
      .agg(graft.plans.Native.topKByScoreStr(col("s"), col("t"), 3).as("tk"))
      .select(posexplode(col("tk")).as(Seq("i", "e")))
      .select(col("e.term")).collect().map(_.getString(0)).toSeq
    // top-3 by (score DESC, term ASC): omega(5), alpha(3), then the 2.0
    // tie resolves to beta over delta
    assert(out == Seq("omega", "alpha", "beta"))
  }

  test("distinctive terms: the source-exclusive term wins chi2") {
    val docs = Seq((1L, "sA", "zebra zebra common common"),
                   (2L, "sA", "zebra common word word"),
                   (3L, "sB", "common common word word"),
                   (4L, "sB", "word common other other")).toDF("doc_id", "source", "text")
    val top = TextAnalysis.distinctiveTerms(docs, "source", "text", k = 1)
      .select("source", "term").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(top("sA") == "zebra", "the sA-only term is the most distinctive")
    assert(top("sB") == "other")
  }

  test("dedup lines keeps first occurrences in order") {
    val df = Seq((1L, "nav\nbody one\nnav\nbody two\nnav"),
                 (2L, "only line")).toDF("id", "t")
    val out = df.select(col("id"), TextAnalysis.dedupLines(col("t")).as("d"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "nav\nbody one\nbody two")
    assert(out(2L) == "only line")
  }

  test("weighted pagerank: a heavier edge pulls more rank than a light one") {
    // node 1 links to 2 (weight 9) and 3 (weight 1): 2 must outrank 3;
    // in the UNWEIGHTED walk they would tie exactly
    val e = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 9L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r = Graph.pageRankWeighted(e, iterations = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(2L) > r(3L))
    val unw = Graph.pageRank(e.select("src", "dst"), iterations = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(unw(2L) == unw(3L), "unweighted twin ties the leaves")
  }

  test("pagerank: exact integer ranks, hub outranks leaves, repartition-stable") {
    // star: 1 is hub to 2,3,4 (symmetric); 5-6 an isolated dumbbell
    val e0 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (5L, 6L))
    val edges = (e0 ++ e0.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iterations = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r(1L) > r(2L), "hub must outrank a leaf")
    assert(r(2L) == r(3L) && r(3L) == r(4L), "symmetric leaves tie exactly")
    assert(r(5L) == r(6L), "symmetric pair ties exactly")
    // hand-rolled fixed point for the dumbbell: deg=1 both sides, so each
    // step is rank' = 150000 + (85*rank) div 100; 5 steps from 1000000
    val expect56 = (0 until 5).foldLeft(1000000L)((rk, _) => 150000L + (85L * rk) / 100L)
    assert(r(5L) == expect56, "integer chain must replay exactly")
    val r2 = Graph.pageRank(edges.repartition(7), iterations = 5).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2 == r, "partitioning must not change a single ulp")
  }

  test("edit-distance join: blocked pairs equal the naive cross-filter") {
    // every edit class: substitution (cat/cut), deletion (cat/at),
    // insertion (cat/cart), identity collapse (two "dog"s), far pair (bird)
    val df = Seq((1L, "cat"), (2L, "cut"), (3L, "at"), (4L, "cart"),
                 (5L, "dog"), (6L, "dog"), (7L, "bird"), (8L, ""), (9L, "a"))
      .toDF("id", "s")
    val got = FuzzyJoin.editDistancePairs(df, "id", "s")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reps = df.groupBy(col("s")).agg(min(col("id")).as("id"))
    val naive = reps.as("a").join(reps.as("b"),
        col("a.id") < col("b.id") &&
          levenshtein(col("a.s"), col("b.s")) <= 1)
      .select(col("a.id"), col("b.id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == naive)
    assert(got.contains((1L, 2L)) && got.contains((1L, 3L)) && got.contains((1L, 4L)))
    assert(got.contains((8L, 9L)), "empty string is within 1 of any single char")
    assert(!got.exists(p => p._1 == 7L || p._2 == 7L))
    assert(!got.contains((5L, 6L)), "exact dups collapse, not pair")
  }

  test("edit-distance join: maxBucket caps a degenerate bucket by smallest id") {
    // 10 single-char strings all share the deletion variant "" — with
    // maxBucket=4 only the 4 smallest ids can pair through that bucket
    val df = (0 until 10).map(i => (i.toLong, ('a' + i).toChar.toString)).toDF("id", "s")
    val got = FuzzyJoin.editDistancePairs(df, "id", "s", maxBucket = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L)))
  }

  test("edit-distance join plans equi-joins only: no cartesian, no nested loop") {
    val df = Seq((1L, "cat"), (2L, "cut")).toDF("id", "s")
    val plan = FuzzyJoin.editDistancePairs(df, "id", "s")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "cartesian in fuzzy join plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "nested loop in fuzzy join plan")
  }

  test("salted join equals plain join") {
    val big = Seq((1, "a", 10.0), (1, "b", 20.0), (2, "c", 30.0)).toDF("k", "u", "v")
    val small = Seq((1, "one"), (2, "two")).toDF("k", "label")
    val salted = Skew.saltedJoin(big, small, "k", salts = 4, uniqueCol = "u")
      .select("k", "u", "label").collect().map(_.toSeq).toSet
    val plain = big.join(small, "k").select("k", "u", "label").collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("salted join spreads a hot key: max-task shuffle read drops ~1/S") {
    // one key holds 90% of the big side; with broadcast and AQE off (the
    // scenario salting exists for), the unsalted shuffle join funnels that
    // key into ONE reduce task. Task metrics must show the salted plan's
    // hottest task reading a fraction of the unsalted plan's.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val n = 100000L
    val big = spark.range(n).select(
      when(col("id") % 10 === 0, col("id")).otherwise(lit(0L)).as("k"),
      col("id").as("u"))
    val small = spark.range(n / 10).select((col("id") * 10).as("k"), lit("d").as("label"))
    def maxTaskShuffleRead(df: => org.apache.spark.sql.DataFrame): Long = {
      val max = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            max.getAndAccumulate(e.taskMetrics.shuffleReadMetrics.recordsRead, math.max)
      }
      spark.sparkContext.addSparkListener(l)
      try {
        df.count()
        // deterministic drain: every queued task-end event delivered
        // before reading the accumulated metric (ADVICE r14 — a fixed
        // sleep under-counts on a loaded machine)
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      }
      finally spark.sparkContext.removeSparkListener(l)
      max.get()
    }
    // 64 reduce partitions so 16 salt values rarely collide into the same
    // task (the shared test session runs shuffle.partitions=4, which would
    // re-funnel several salts into one reducer and mask the spread)
    val confs = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "64")
    val orig = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val unsalted = maxTaskShuffleRead(big.join(small, "k"))
      val salted = maxTaskShuffleRead(
        Skew.saltedJoin(big, small, "k", salts = 16, uniqueCol = "u"))
      // hot key is 90k rows: unsalted hottest task reads all of them; the
      // salt spreads them over 16 tasks — require at least a 4× reduction
      assert(unsalted >= (n * 8) / 10,
        s"fixture broken: hottest unsalted task read $unsalted of $n")
      assert(salted * 4 <= unsalted,
        s"salted hottest task read $salted vs unsalted $unsalted — salt didn't spread")
    } finally orig.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }


  test("salted pagerank bounds the hub task and keeps ranks bit-identical") {
    // power-law fixture: source 0 owns ~40% of all edges. The src-keyed
    // edge layout pins those edges to ONE reduce task of the layout
    // shuffle — and, being exchange-free thereafter, outside AQE's
    // skew-split reach (VERDICT r13 finding 3). salts=8 must spread the
    // hub's edges by dst hash AND (integer addition being exact and
    // order-free) leave every rank identical to the unsalted run.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    // multigraph: ~1050 distinct nodes, so the loop's nodes-sized agg
    // shuffles stay tiny and the layout shuffle's hub task dominates the
    // records-read metric (a first cut with 45k distinct nodes measured
    // the loop agg ABOVE the hub task and the spread was invisible)
    val nHub = 400000L
    val hub = spark.range(nHub).select(lit(0L).as("src"),
      (col("id") % 50L + 1L).as("dst"))
    val rest = spark.range(600000L).select(
      (col("id") % 1000L + 1L).as("src"), (col("id") % 50L + 1L).as("dst"))
    val edges = hub.unionByName(rest)
    def measured(df: => org.apache.spark.sql.DataFrame): (Long, Map[Long, Long]) = {
      val max = new java.util.concurrent.atomic.AtomicLong(0)
      val l = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null)
            max.getAndAccumulate(e.taskMetrics.shuffleReadMetrics.recordsRead, math.max)
      }
      spark.sparkContext.addSparkListener(l)
      // pageRank materializes eagerly; the collect below reads its cache
      val out = try {
        val d = df // pageRank materializes eagerly inside
        org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
        d
      }
      finally spark.sparkContext.removeSparkListener(l)
      (max.get(), out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    }
    // 64-way layout shuffle so 8 salts rarely collide into one reducer
    // (the shared test session's width would re-funnel them)
    val key = "spark.sql.shuffle.partitions"
    val orig = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "64")
      val (plainMax, plain) = measured(Graph.pageRank(edges, iterations = 3))
      val (saltMax, salted) =
        measured(Graph.pageRank(edges, iterations = 3, salts = 8))
      assert(plainMax >= nHub,
        s"fixture broken: hottest unsalted task read $plainMax < hub $nHub")
      assert(saltMax * 3 <= plainMax,
        s"salted hottest task read $saltMax vs unsalted $plainMax — no spread")
      // the answer is layout-independent: exact integer ranks
      assert(salted == plain, "salting must not change a single rank")
      // AUTO-DETECTION (salts = 0): the 40%-hub share must derive
      // salts = 8 (clamp(⌊20·0.4⌋)) without the caller knowing the hub
      // exists — same spread bound, bit-identical ranks
      val (autoMax, auto) =
        measured(Graph.pageRank(edges, iterations = 3, salts = 0))
      assert(autoMax * 3 <= plainMax,
        s"auto-salted hottest task read $autoMax vs unsalted $plainMax — " +
          "skew not detected")
      assert(auto == plain, "auto-salting must not change a single rank")
      // weighted variant: same contract
      val wEdges = edges.withColumn("w", col("dst") % 3L + 1L)
      val (wpMax, wPlain) = measured(Graph.pageRankWeighted(wEdges, iterations = 3))
      val (wsMax, wSalted) =
        measured(Graph.pageRankWeighted(wEdges, iterations = 3, salts = 8))
      assert(wSalted == wPlain, "weighted salting must not change ranks")
      assert(wsMax * 3 <= wpMax,
        s"weighted salted hottest task read $wsMax vs unsalted $wpMax")
    } finally orig match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("mixture resampling equalizes skewed sources deterministically") {
    val rows = (1L to 100L).map(i => ("big", i)) ++
      (101L to 150L).map(i => ("mid", i)) ++
      (151L to 160L).map(i => ("tiny", i))
    val df = rows.toDF("source", "doc_id")
    val kept = queries.DataOps.mixtureResample(df, "source", "doc_id")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // the smallest source keeps everything; larger ones downsample toward
    // its size (hash-threshold sampling is approximate, so allow spread)
    assert(kept("tiny") == 10L)
    assert(kept.getOrElse("big", 0L) >= 3L && kept("big") <= 20L, s"big: $kept")
    assert(kept.getOrElse("mid", 0L) >= 3L && kept("mid") <= 20L, s"mid: $kept")
    // deterministic: same input -> identical sample
    val again = queries.DataOps.mixtureResample(df, "source", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    val first = queries.DataOps.mixtureResample(df, "source", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(again == first)
  }

  test("representatives propagate min id over dup chains") {
    val pairs = Seq((2L, 1L), (3L, 2L), (10L, 11L)).toDF("a", "b")
    val reps = Dedup.representatives(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps(3L) == 1L && reps(2L) == 1L && reps(11L) == 10L)
  }

  test("representatives resolve long chains and rings to one component") {
    // a 9-node path (1-2-…-9): one-hop-per-sweep propagation with a fixed
    // sweep count would split this; pointer doubling converges it
    val chain = (1L until 9L).map(i => (i + 1, i)).toDF("a", "b")
    val reps = Dedup.representatives(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 9L).forall(i => reps(i) == 1L), s"chain labels: $reps")
    // a ring plus a separate component keep distinct representatives
    val ring = Seq((20L, 21L), (21L, 22L), (22L, 20L), (30L, 31L)).toDF("a", "b")
    val r2 = Dedup.representatives(ring).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(20L, 21L, 22L).forall(i => r2(i) == 20L))
    assert(r2(30L) == 30L && r2(31L) == 30L)
  }

  test("token-stats histogram percentiles equal Spark's native percentile") {
    // tokenStatsReport derives p50/p95 from integer order statistics over a
    // (source, nt) histogram; Spark's own percentile() is an independent
    // implementation of the same lo + frac*(hi-lo) definition.
    val got = queries.DataOps.tokenStatsReport(spark, sf)
      .select(col("source"), col("p50_tokens"), col("p95_tokens"), col("avg_tokens"))
    val want = Tables(spark, sf).documents
      .select(col("source"), TextAnalysis.tokenCountWs(col("text")).cast("bigint").as("nt"))
      .groupBy(col("source"))
      .agg(expr("percentile(nt, 0.5)").as("e50"), expr("percentile(nt, 0.95)").as("e95"),
        avg(col("nt")).as("eavg"))
    val j = got.join(want, "source").collect()
    assert(j.nonEmpty)
    j.foreach { r =>
      assert(math.abs(r.getAs[Double]("p50_tokens") - r.getAs[Double]("e50")) < 1e-9, r)
      assert(math.abs(r.getAs[Double]("p95_tokens") - r.getAs[Double]("e95")) < 1e-9, r)
      assert(math.abs(r.getAs[Double]("avg_tokens") - r.getAs[Double]("eavg")) < 1e-9, r)
    }
  }

  test("sequence packing scales its shard count and respects bin capacity") {
    val docs = Tables(spark, sf).documents
    val packed = queries.DataOps.packSequences(docs, shards = 64)
    assert(packed.select(col("shard")).distinct().count() == 64)
    // within every (shard, bin), the bin's running total stays below
    // capacity + one document (greedy packing invariant)
    val over = packed.groupBy(col("shard"), col("bin"))
      .agg(sum(col("n_tokens")).as("tot"), max(col("n_tokens")).as("mx"))
      .filter(col("tot") - col("mx") >= 2048)
    assert(over.count() == 0)
    // default shard count follows the session's shuffle parallelism
    val auto = queries.DataOps.packSequences(docs)
    val expected = spark.sessionState.conf.numShufflePartitions.toLong
    assert(auto.select(col("shard")).distinct().count() ==
      math.min(expected, docs.count()))
  }

  test("dsir select: target-resembling candidates outrank off-target ones") {
    val docs = Seq(
      (1L, "wiki", "apple banana cherry apple banana"),   // target sample
      (2L, "wiki", "banana cherry apple cherry"),         // target sample
      (10L, "web", "apple banana cherry banana apple"),   // candidate ~ target
      (11L, "web", "zebra quark xylophone vortex gnome"), // candidate, off-target
      (12L, "web", "apple zebra banana quark")            // candidate, mixed
    ).toDF("doc_id", "source", "text")
    val sel = Curation.dsirSelect(docs, col("source") === "wiki", k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(sel.map(_._1).toSeq == Seq(10L, 12L),
      "ranking must follow target-likeness, best first")
    assert(sel(0)._2 > sel(1)._2)
    // top-k heap caps the output, best-first
    val sel1 = Curation.dsirSelect(docs, col("source") === "wiki", k = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(sel1 == Seq(10L))
  }

  test("corpus overlap sketch: exact at the extremes, near exact Jaccard between") {
    def corpus(ids: Range, words: Int => String) = ids.map(i =>
      (i.toLong, (0 until 6).map(j => words(i * 6 + j)).mkString(" ")))
      .toDF("doc_id", "text")
    val a = corpus(0 until 40, i => s"w$i")
    // identical corpora → Ĵ = 1
    val same = Curation.corpusOverlap(a, a, k = 64).head()
    assert(same.getDouble(2) == 1.0 && same.getLong(0) == same.getLong(1))
    // disjoint vocabularies → Ĵ = 0
    val b = corpus(0 until 40, i => s"v$i")
    assert(Curation.corpusOverlap(a, b, k = 64).head().getDouble(2) == 0.0)
    // half the docs shared verbatim: k above the 240 distinct shingles
    // makes the sketch the full set, so Ĵ is EXACT Jaccard — each doc
    // contributes 4 disjoint shingles: |A|=|B|=160, |A∩B|=80, J=80/240
    val half = corpus(0 until 40, i => if (i < 120) s"w$i" else s"u$i")
    val est = Curation.corpusOverlap(a, half, k = 4096).head()
    assert((est.getLong(0), est.getLong(1)) == (240L, 80L))
    assert(est.getDouble(2) == 80.0 / 240.0)
    // k below the distinct count: still an estimate in range, sketch-sized
    val small = Curation.corpusOverlap(a, half, k = 32).head()
    assert(small.getLong(0) == 32L)
    assert(small.getDouble(2) >= 0.0 && small.getDouble(2) <= 1.0)
  }

  test("quality LR: GD separates target-like docs and reduces training loss") {
    val docs = Seq(
      (1L, "tgt", "apple banana cherry apple banana"),
      (2L, "tgt", "banana cherry apple cherry apple"),
      (10L, "raw", "apple banana cherry banana"),   // target-like candidate
      (11L, "raw", "zebra quark xylophone vortex"), // off-target
      (12L, "raw", "zebra quark gnome vortex mist")
    ).toDF("doc_id", "source", "text")
    val isT = col("source") === "tgt"
    val w8 = Curation.trainQualityLR(docs, isT, iters = 8, lr = 0.1)
    val s = Curation.scoreQualityLR(docs.filter(!isT), w8)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(s(10L) > s(11L) && s(10L) > s(12L),
      s"target-like candidate must outscore off-target ones: $s")
    def trainLoss(w: org.apache.spark.sql.DataFrame): Double = {
      val sc = Curation.scoreQualityLR(docs, w)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val y = Map(1L -> 1.0, 2L -> 1.0, 10L -> 0.0, 11L -> 0.0, 12L -> 0.0)
      y.map { case (id, yy) =>
        val p = 1.0 / (1.0 + math.exp(-sc(id)))
        -(yy * math.log(p.max(1e-12)) + (1 - yy) * math.log((1 - p).max(1e-12)))
      }.sum / y.size
    }
    val w1 = Curation.trainQualityLR(docs, isT, iters = 1, lr = 0.1)
    assert(trainLoss(w8) < trainLoss(w1),
      "more GD iterations must reduce training log-loss")
  }

  test("persisted overlap sketch: probe equals the direct estimate") {
    def corpus(ids: Range, words: Int => String) = ids.map(i =>
      (i.toLong, (0 until 6).map(j => words(i * 6 + j)).mkString(" ")))
      .toDF("doc_id", "text")
    val a = corpus(0 until 30, i => s"w$i")
    val b = corpus(0 until 30, i => if (i < 90) s"w$i" else s"u$i")
    val p = java.nio.file.Files.createTempDirectory("ovsk").toString + "/sketch"
    Curation.buildOverlapSketch(a, p, k = 64)
    val direct = Curation.corpusOverlap(a, b, k = 64).head()
    val probed = Curation.overlapAgainstSketch(b, p, k = 64).head()
    assert(probed == direct, "sketch probe must reproduce the direct estimate")
    // a rebuild overwrites committed state cleanly (idempotent runs)
    Curation.buildOverlapSketch(a, p, k = 64)
    assert(Curation.overlapAgainstSketch(b, p, k = 64).head() == direct)
  }

  test("dsir log weights match the closed-form estimator on a fixture") {
    val B = 1024
    val fixture = Seq(
      (1L, true, "apple banana apple"),
      (2L, true, "banana cherry"),
      (10L, false, "apple banana"),
      (11L, false, "zebra quark vortex"))
    val docs = fixture.map { case (id, t, tx) =>
      (id, if (t) "tgt" else "raw", tx)
    }.toDF("doc_id", "source", "text")
    // independent replication: same features, same add-1 smoothing, same ln
    def grams(tx: String): Seq[String] = {
      val t = tx.trim.toLowerCase.split("\\s+").toSeq
      t ++ t.sliding(2).filter(_.size == 2).map(_.mkString(" "))
    }
    def bucket(g: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % B
    }
    val all = fixture.flatMap { case (id, t, tx) => grams(tx).map(g => (id, t, bucket(g))) }
    val tC = all.filter(_._2).groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val rC = all.groupBy(_._3).view.mapValues(_.size.toLong).toMap
    val tt = tC.values.sum; val rr = rC.values.sum
    val expect = all.filter(!_._2).groupBy(_._1).view.mapValues(_.map { case (_, _, b) =>
      math.log(((tC.getOrElse(b, 0L) + 1) * (rr + B)).toDouble /
        ((rC(b) + 1) * (tt + B)).toDouble)
    }.sum).toMap
    val got = Curation.dsirLogWeights(docs, col("source") === "tgt", B)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet == Set(10L, 11L))
    got.foreach { case (id, w) => assert(math.abs(w - expect(id)) < 1e-9, s"doc $id") }
    assert(got(10L) > got(11L), "target-like doc must carry the higher log weight")
  }

  test("temperature mixture: kept sets nest in alpha, alpha=1 is identity, smallest source whole") {
    val docs = Tables(spark, sf).documents
    def kept(a: Double) =
      graft.queries.DataOps.mixtureTemperature(docs, "source", "doc_id", a).select("doc_id")
    // all seven oracle-pinned dyadic points plus a non-dyadic pow()
    // fallback point: f_s = (min/n)^(1-alpha) grows with alpha and the
    // hash threshold is shared, so the kept sets nest — raising alpha
    // only ADDS documents (every sqrt-chain branch must respect the
    // same ordering: r^(3/4) ≤ r^(5/8) ≤ r^(1/2) ≤ r^(3/8) ≤ r^(1/4)
    // for r ≤ 1)
    val alphas = Seq(0.0, 0.25, 0.375, 0.5, 0.625, 0.75, 0.9)
    val chain = alphas.map(a => a -> kept(a))
    chain.sliding(2).foreach { case Seq((aLo, lo), (aHi, hi)) =>
      assert(lo.except(hi).count() == 0,
        s"alpha=$aLo must keep a subset of alpha=$aHi")
      assert(lo.count() <= hi.count())
    }
    assert(kept(1.0).count() == docs.count(), "alpha=1 keeps everything")
    // a source tied for the global minimum survives whole at every alpha
    val smallest = docs.groupBy("source").count()
      .orderBy(col("count"), col("source")).first().getString(0)
    val nSmall = docs.filter(col("source") === smallest).count()
    assert(graft.queries.DataOps.mixtureTemperature(docs, "source", "doc_id", 0.5)
      .filter(col("source") === smallest).count() == nSmall)
  }

  test("ccnet buckets: per-source terciles balance to within one document") {
    val rows = graft.queries.DataOps.qCcnetBuckets(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val bySource = rows.groupBy(_._1)
    assert(bySource.nonEmpty)
    bySource.foreach { case (src, bs) =>
      assert(bs.map(_._2).toSet == Set("head", "middle", "tail"),
        s"$src must fill all three buckets")
      val counts = bs.map(_._3)
      assert(counts.max - counts.min <= 1, s"$src terciles skewed: ${bs.toSeq}")
    }
  }

  test("per-group sampling: exactly min(k, |group|) rows, partitioning-independent, no window") {
    val df = ((1 to 20).map(i => (i.toLong, "big")) ++ Seq((100L, "tiny"), (101L, "tiny")))
      .toDF("id", "src")
    def run(d: org.apache.spark.sql.DataFrame) = graft.queries.DataOps
      .samplePerGroup(d, "src", "id", k = 5)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = run(df)
    assert(got.count(_._1 == "big") == 5, "k rows from the big group")
    assert(got.filter(_._1 == "tiny").map(_._2) == Set(100L, 101L),
      "a group smaller than k survives whole")
    assert(run(df.repartition(7)) == got, "selection must not depend on partitioning")
    val plan = graft.queries.DataOps.samplePerGroup(df, "src", "id", 5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-group window funnel crept in")
  }

  test("weighted sampling: min(k, |group|) rows, heavy rows win, partition-independent") {
    // "whale" carries weight 10^9 against 19 weight-1 rows: its integer
    // priority h div w collapses ~2^30 below any unit-weight row's, so a
    // k=3 draw must contain it (h is 60-bit — a unit row would need
    // h < 2^30, probability ~2^-30 per row)
    val df = ((1 to 19).map(i => (i.toLong, 1L, "big")) ++
      Seq((99L, 1000000000L, "big"), (100L, 5L, "tiny"), (101L, 7L, "tiny")))
      .toDF("id", "w", "src")
    def run(d: org.apache.spark.sql.DataFrame) = graft.queries.DataOps
      .weightedSamplePerGroup(d, "src", "id", "w", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val got = run(df)
    assert(got.count(_._1 == "big") == 3, "k rows from the big group")
    assert(got.contains(("big", 99L)), "the heavy row must be drawn")
    assert(got.filter(_._1 == "tiny").map(_._2) == Set(100L, 101L),
      "a group smaller than k survives whole")
    assert(run(df.repartition(7)) == got, "selection must not depend on partitioning")
    val plan = graft.queries.DataOps.weightedSamplePerGroup(df, "src", "id", "w", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "per-group window funnel crept in")
    // COLLAPSED priorities (every scaled weight so large that h div w = 0):
    // ties must break to the SMALLEST ids, deterministically across
    // partitionings — the heap's lexicographic (key, payload) order, the
    // same tie-break as the oracle's ORDER BY prio, doc_id
    val flat = (1 to 10).map(i => (i.toLong, 9000000000000.0, "g")).toDF("id", "w", "src")
    assert(run(flat) == Set(("g", 1L), ("g", 2L), ("g", 3L)))
    assert(run(flat.repartition(4)) == run(flat))
    // fractional weights keep proportionality (scale-by-10^6 before the
    // floor): a 0-1 quality score must not collapse to uniform
    val frac = ((1 to 19).map(i => (i.toLong, 0.001, "f")) ++ Seq((99L, 1.0, "f")))
      .toDF("id", "w", "src")
    assert(run(frac).contains(("f", 99L)), "the high-score row must dominate")
  }

  test("triangle counts: K4 minus an edge, hand-computed; isolated edges drop") {
    // K4 on {1,2,3,4} minus (3,4): triangles (1,2,3) and (1,2,4) →
    // nodes 1,2 sit in 2 each, nodes 3,4 in 1 each; the stray edge
    // (10,11) closes nothing and must not appear at all
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (10L, 11L))
      .toDF("a", "b")
    def run(d: org.apache.spark.sql.DataFrame) = {
      val tri = Graph.triangleCounts(d)
      try tri.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally tri.unpersist(blocking = true)
    }
    val got = run(edges)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 4L -> 1L), s"got $got")
    assert(run(edges.repartition(5)) == got, "counts must not depend on partitioning")
    // the (deg, id) key-packing contract is enforced, not just documented:
    // an out-of-range id (hashed/negative) must fail loudly, never
    // collide keys into silently wrong counts
    intercept[Exception] { run(Seq((-1L, 2L), (2L, 3L)).toDF("a", "b")) }
    intercept[Exception] { run(Seq((1L, 1L << 41), (2L, 3L)).toDF("a", "b")) }
  }

  test("k-core: multi-sweep peel hand-computed; sweeps past fixpoint are no-ops") {
    // triangle {1,2,3} with a pendant chain 3-4-5: the 2-core is the
    // triangle, every node at in-core degree 2. The chain needs TWO
    // sweeps (5 peels first, then 4 — degree cascades), so the fixture
    // exercises the iteration, not just one filter.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    def run(d: org.apache.spark.sql.DataFrame, sweeps: Int) = {
      val core = Graph.kCore(d, k = 2, maxSweeps = sweeps)
      try core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally core.unpersist(blocking = true)
    }
    val got = run(edges, 10)
    assert(got == Map(1L -> 2L, 2L -> 2L, 3L -> 2L), s"got $got")
    assert(run(edges.repartition(4), 10) == got, "peel must not depend on partitioning")
    assert(run(edges, 3) == got, "converged early: extra allowed sweeps change nothing")
    // a graph that peels away completely yields the empty core, not an
    // error (path 1-2-3: endpoints go first, then the stranded middle)
    assert(run(Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), 10).isEmpty)
    // bad bounds fail with a message, not an opaque None.get
    intercept[IllegalArgumentException] { Graph.kCore(edges, k = 2, maxSweeps = 0) }
    intercept[IllegalArgumentException] { Graph.kCore(edges, k = 0) }
  }

  test("triangle counts releases edge caches; only the result stays persisted") {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(true))
    val out = Graph.triangleCounts(Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("a", "b"))
    assert(sc.getPersistentRDDs.size <= 1,
      s"edge/oriented cache leaked: ${sc.getPersistentRDDs.size} persisted RDDs")
    assert(out.collect().map(_.getLong(1)).toSeq == Seq(1L, 1L, 1L))
    out.unpersist()
  }

  test("dim correlations: perfect linear / anti-linear / constant dims, hand-checked") {
    // d1 = 2·d0 (corr → 1), d2 = −d0 (corr → −1), d3 constant (zero
    // variance → null). Quantization is exact on these values, so the
    // integer moments are closed-form and only the final sqrt/divide
    // chain is IEEE.
    val df = Seq(
      (1L, Seq(1.0, 2.0, -1.0, 5.0)),
      (2L, Seq(2.0, 4.0, -2.0, 5.0)),
      (3L, Seq(3.0, 6.0, -3.0, 5.0))).toDF("vec_id", "embedding")
    val got = Similarity.dimCorrelations(df).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got.size == 6, "all i<j pairs present")
    assert(math.abs(got((0L, 1L)).get - 1.0) < 1e-9, "collapsed dims read +1")
    assert(math.abs(got((0L, 2L)).get + 1.0) < 1e-9, "mirrored dims read -1")
    assert(got((0L, 3L)).isEmpty && got((1L, 3L)).isEmpty && got((2L, 3L)).isEmpty,
      "zero-variance dim yields null, not NaN")
    assert(math.abs(got((1L, 2L)).get + 1.0) < 1e-9)
  }

  test("keep-best dedup keeps the longest member of every near-dup cluster") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents
    val reps = Dedup.representatives(
      Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5))
    val comp = docs.join(reps, docs("doc_id") === reps("id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("comp"),
        col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val best = comp.groupBy(_._2).map { case (c, ms) =>
      c -> ms.map(m => (m._3, -m._1)).max
    }
    val kept = graft.queries.DataOps.qDedupKeepBest(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kept == best.values.map { case (n, negid) => (-negid, n) }.toSet,
      "exactly the (max n_chars, min id) member of each cluster survives")
    assert(kept.size == comp.map(_._2).distinct.size, "one survivor per cluster")
  }

  test("embedding drift: hand-computed means per side, dimension mismatch fails") {
    val a = Seq((1L, Seq(1.0, 2.0))).toDF("vec_id", "embedding")
    val b = Seq((2L, Seq(2.0, 2.0)), (3L, Seq(4.0, 6.0))).toDF("vec_id", "embedding")
    // quantized units (x1000): a-means (1000, 2000); b-sums (6000, 8000)/2
    val got = Similarity.embeddingDrift(a, b).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == Seq(
      (0L, 1L, 2L, 1000.0, 3000.0, -2000.0),
      (1L, 1L, 2L, 2000.0, 4000.0, -2000.0)))
    intercept[Exception] {
      Similarity.embeddingDrift(a,
        Seq((9L, Seq(1.0, 2.0, 3.0))).toDF("vec_id", "embedding")).collect()
    }
    // one empty side: D rows with n=0 and null means — visible, not an
    // empty frame (and the SQL formulation's shape)
    val oneSided = Similarity.embeddingDrift(a, a.filter(col("vec_id") < 0)).collect()
    assert(oneSided.length == 2)
    assert(oneSided.forall(r => r.getLong(2) == 0L && r.isNullAt(4) && r.isNullAt(5)))
    assert(oneSided.map(_.getDouble(3)).toSeq == Seq(1000.0, 2000.0))
  }

  test("source overlap matrix: identical sources read 1, disjoint read 0") {
    val docs = Seq(
      (1L, "a", "w x y z"), (2L, "b", "w x y z"), (3L, "c", "p q r s"))
      .toDF("doc_id", "source", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Curation.sourceOverlapMatrix(d, "source", k = 16).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val got = run(docs)
    assert(got(("a", "b")) == (2L, 2L, 1.0), "same text shares every shingle")
    assert(got(("a", "c"))._3 == 0.0 && got(("b", "c"))._3 == 0.0)
    assert(run(docs.repartition(5)) == got, "sketches must not depend on partitioning")
  }

  test("stable ranks: exact global row_number at any partition count, no ties needed") {
    val docs = Tables(spark, sf).documents
    def keys = Seq(md5(col("text").cast("binary")), col("doc_id"))
    def run(parts: Int) = graft.queries.DataOps
      .stableRanks(docs, keys, "rank", partitions = parts)
      .select(col("doc_id").as[Long], col("rank").as[Long]).collect().toSet
    val r3 = run(3)
    // partition-count independence: 3-way and 7-way layouts agree exactly
    assert(r3 == run(7), "ranks must not depend on the partitioning")
    // equals the single-task window row_number the operator avoids
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(md5(col("text").cast("binary")), col("doc_id"))
    val expect = docs.select(col("doc_id").as[Long],
      (row_number().over(w) - 1).cast("long").as[Long]).collect().toSet
    assert(r3 == expect, "rank must be the exact global ordinal")
  }

  test("winnowing: the guarantee — a shared w+k-1 token run always shares a fingerprint") {
    // k=4, w=4: any shared run of >= 7 tokens spans a full gram window in
    // both docs, and winnowing selects the SAME min hash from it
    // (Schleimer et al. 2003, the correctness theorem). MinHash can sketch
    // a local match away; winnowing cannot.
    val shared = "alpha bravo charlie delta echo foxtrot golf"
    val df = Seq(
      (1L, s"aardvark basilisk $shared cormorant dugong"),
      (2L, s"echidna $shared ferret gharial ibis jerboa kudu"),
      (3L, "lemur manatee numbat okapi pangolin quokka rhea sloth tapir")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, "doc_id", "text", k = 4, w = 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "shared 7-token run must surface the pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("winnowing: density bound, window coverage, rightmost-min selection") {
    val n = 40; val k = 4; val w = 4
    val text = (0 until n).map(i => s"tok$i").mkString(" ")
    val fp = Dedup.winnowFingerprints(Seq((1L, text)).toDF("doc_id", "text"),
        "doc_id", "text", k, w)
      .collect().map(r => (r.getLong(1), r.getInt(2)))
    val gcnt = n - k + 1
    // replicate selection on the driver: portable 60-bit md5 hash per gram,
    // rightmost min per window — the fingerprint set must match EXACTLY
    val toks = text.split(" ")
    def h60(g: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(15), 16)
    val hs = (0 to n - k).map(i => h60(toks.slice(i, i + k).mkString(" ")))
    val expect = (0 to gcnt - w).map { s =>
      val win = (s until s + w).map(p => (hs(p), p))
      win.minBy { case (hv, p) => (hv, -p) } // rightmost minimal hash
    }.toSet
    assert(fp.toSet == expect, "fingerprint set must equal the paper's selection")
    assert(fp.length <= gcnt - w + 1 && fp.nonEmpty)
  }

  test("winnowing: native deque selection equals the exploded-groupBy formulation") {
    // two independent realizations of the same selection rule — the
    // map-only production path and the per-window min groupBy — must
    // agree exactly on the real corpus (hash, position, and set size)
    val docs = Tables(spark, sf).documents
    val native = Dedup.winnowFingerprints(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val grouped = Dedup.winnowFingerprintsViaGroupBy(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(native == grouped)
    assert(native.nonEmpty)
  }

  test("containment: a swallowed document surfaces with inter == n_a despite low jaccard") {
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    val soup = (0 until 120).map(i => s"w$i").mkString(" ")
    val df = Seq(
      (1L, passage),                     // 8 distinct tokens, all inside doc 2
      (2L, s"$soup $passage"),           // 128 distinct tokens
      (3L, "unrelated words only here nothing shared at all")
    ).toDF("doc_id", "text")
    val rows = Dedup.containmentPairs(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (inter, na, nb) = rows((1L, 2L))
    assert(inter == na, "doc 1 is fully contained: every distinct token overlaps")
    assert(na == 8L && nb == 128L)
    // the signal jaccard misses: resemblance is only 8/128
    assert(inter.toDouble / (na + nb - inter) < 0.1)
    assert(!rows.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnow index: a batch finds its swallowed docs against the persisted corpus") {
    val tables = Seq("graft_winnow_t_idx_fps", "graft_winnow_t_idx_sets")
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val passage = "alpha bravo charlie delta echo foxtrot golf hotel"
    val soup = (0 until 80).map(i => s"c$i").mkString(" ")
    val corpus = Seq(
      (1L, s"$soup $passage"),
      (2L, "solo corpus words nothing else whatsoever right here today")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (100L, passage), // fully swallowed by corpus doc 1
      (101L, "fresh batch content unlike anything indexed before now")
    ).toDF("doc_id", "text")
    try {
      Dedup.buildWinnowIndex(corpus, "graft_winnow_t_idx", buckets = 4,
        idCol = "doc_id", textCol = "text")
      val m = Dedup.containmentAgainstIndex(batch, "graft_winnow_t_idx",
          idCol = "doc_id", textCol = "text")
        .collect().map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      val (inter, nb) = m((100L, 1L))
      assert(inter == nb, "batch doc 100 is fully contained in corpus doc 1")
      assert(!m.keySet.exists(_._1 == 101L), "unrelated batch doc matches nothing")
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("winnowing: totality (null / empty / short docs) and the bucket cap") {
    val fp = Dedup.winnowFingerprints(Seq(
      (1L, null: String), (2L, ""), (3L, "a b c")).toDF("doc_id", "text"),
      "doc_id", "text")
    assert(fp.count() == 0L, "docs with < k tokens have no grams, no fingerprints")
    // three identical docs, maxBucket=2: only the two smallest ids pair
    val same = Seq((1L, "p q r s t u v w"), (2L, "p q r s t u v w"),
      (3L, "p q r s t u v w")).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(same, "doc_id", "text", maxBucket = 2, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"cap must bound the bucket: $pairs")
  }

  test("knn graph: shape, no self-pairs, recall floor vs brute force") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.trainCentroids(e, k = 8, iterations = 2)
    val g = Similarity.knnGraph(e, cents, k = 5, nprobe = 3).cache()
    val n = e.count()
    assert(g.filter(col("vec_id") === col("nbr_id")).count() == 0, "self-pair")
    val degrees = g.groupBy("vec_id").count().collect()
    assert(degrees.forall(_.getLong(1) <= 5), "degree above k")
    assert(degrees.length == n, "every vector must get neighbors")
    // ranks are 1..deg dense per vector
    assert(g.filter(col("rnk") > 5 || col("rnk") < 1).count() == 0)
    // recall floor: the graph's top-1 neighbor matches exact brute-force
    // top-1 for most vectors (trained cells, nprobe=3 of 8)
    val brute = Similarity.bruteTopK(e, e.select(col("vec_id").as("q_id"),
        col("embedding").as("q_vec")), k = 2)
      .filter(col("q_id") =!= col("vec_id"))
      .withColumn("r2", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("q_id")
          .orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("r2") === 1)
      .select(col("q_id"), col("vec_id").as("bnbr"))
    val top1 = g.filter(col("rnk") === 1).select(col("vec_id").as("q_id"),
      col("nbr_id").as("gnbr"))
    val agree = brute.join(top1, "q_id")
      .filter(col("bnbr") === col("gnbr")).count()
    assert(agree.toDouble / n >= 0.6, s"top-1 recall $agree/$n below floor")
    // deterministic under physical layout changes
    val re = Similarity.knnGraph(e.repartition(13), cents, k = 5, nprobe = 3)
    assert(re.orderBy("vec_id", "rnk").collect().toSeq ==
      g.orderBy("vec_id", "rnk").collect().toSeq)
    g.unpersist()
  }

  test("knn classify: self-classification sanity + vote determinism") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val seeds = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("s_id"), col("embedding").as("s_vec"),
        col("label").as("s_label"))
    // k=1 over the seed set itself: nearest seed is the vector itself
    // (cos = 1), so every prediction must equal the vector's own label
    val self = Similarity.knnClassify(e.filter(col("vec_id") < 100), seeds, k = 1)
      .join(e.select(col("vec_id"), col("label")), "vec_id")
    assert(self.filter(col("pred_label") =!= col("label")).count() == 0,
      "k=1 self-classification must return the own label")
    // votes bounded by k; deterministic under repartitioning
    val out = Similarity.knnClassify(e.filter(col("vec_id") >= 100), seeds, k = 5)
    assert(out.filter(col("votes") > 5 || col("votes") < 1).count() == 0)
    val re = Similarity.knnClassify(
      e.filter(col("vec_id") >= 100).repartition(13), seeds, k = 5)
    assert(re.orderBy("vec_id").collect().toSeq ==
      out.orderBy("vec_id").collect().toSeq)
  }

  test("mutual knn: every surviving edge exists in both directions") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val cents = Similarity.trainCentroids(e, k = 8, iterations = 1)
    val g = Similarity.knnGraph(e, cents, k = 5, nprobe = 2).cache()
    val m = Similarity.mutualKnn(g).cache()
    assert(m.filter(col("a") >= col("b")).count() == 0, "edges must be a < b")
    val edges = g.select(col("vec_id"), col("nbr_id"))
    val fwdMissing = m.join(edges,
      m("a") === edges("vec_id") && m("b") === edges("nbr_id"), "left_anti").count()
    val revMissing = m.join(edges,
      m("b") === edges("vec_id") && m("a") === edges("nbr_id"), "left_anti").count()
    assert(fwdMissing == 0 && revMissing == 0, "mutual edge not in graph both ways")
    // one-directional edges are actually filtered: mutual < total forward edges
    assert(m.count() < g.count(), "filter must drop asymmetric edges")
    g.unpersist(); m.unpersist()
  }

  test("token budget sampling: equals the naive windowed prefix, budget holds") {
    import org.apache.spark.sql.expressions.Window
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val budget = 600L
    val out = graft.queries.DataOps.sampleTokenBudget(
      docs, "source", "doc_id", "text", budget).cache()
    // never over budget, and maximal: adding the next doc in hash order
    // would overflow (checked via the naive single-window formulation)
    val naive = {
      docs.select(col("source"), col("doc_id"),
          TextAnalysis.tokenCountWs(col("text")).cast("bigint").as("n_tok"))
        .withColumn("cum", sum(col("n_tok")).over(
          Window.partitionBy(col("source"))
            .orderBy(md5(concat(col("source"), lit("-"), col("doc_id")).cast("binary")),
              col("doc_id"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .filter(col("cum") <= budget)
        .select(col("source"), col("doc_id"), col("n_tok"))
    }
    assert(out.orderBy("source", "doc_id").collect().toSeq ==
      naive.orderBy("source", "doc_id").collect().toSeq,
      "two-phase selection must equal the naive windowed prefix")
    val over = out.groupBy("source").agg(sum("n_tok").as("t"))
      .filter(col("t") > budget).count()
    assert(over == 0, "source over budget")
    assert(out.count() > 0 && out.count() < docs.count(), "budget must bind")
    val re = graft.queries.DataOps.sampleTokenBudget(
      docs.repartition(13), "source", "doc_id", "text", budget)
    assert(re.orderBy("source", "doc_id").collect().toSeq ==
      out.orderBy("source", "doc_id").collect().toSeq)
    out.unpersist()
  }

  test("event funnel: order-respecting chain, missed stages null the rest") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1 completes in order
      (1L, ts("2026-01-01 10:00:00"), "view"),
      (1L, ts("2026-01-01 11:00:00"), "click"),
      (1L, ts("2026-01-01 12:00:00"), "purchase"),
      // u2: click BEFORE the first view — not a valid chain continuation,
      // but a later click counts
      (2L, ts("2026-01-01 09:00:00"), "click"),
      (2L, ts("2026-01-01 10:00:00"), "view"),
      (2L, ts("2026-01-01 10:30:00"), "click"),
      // u3: purchase without click — depth stops at view
      (3L, ts("2026-01-01 10:00:00"), "view"),
      (3L, ts("2026-01-01 12:00:00"), "purchase"),
      // u4: click at the SAME instant as view — strictly-after required
      (4L, ts("2026-01-01 10:00:00"), "view"),
      (4L, ts("2026-01-01 10:00:00"), "click"),
      // u5: no view at all
      (5L, ts("2026-01-01 10:00:00"), "purchase")
    ).toDF("user_id", "ts", "event_type")
    val out = graft.queries.DataOps.funnelStages(
        ev, "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(4) == 3)
    assert(out(2L).getLong(4) == 2 &&
      out(2L).getTimestamp(2) == ts("2026-01-01 10:30:00"),
      "pre-view click must not count; the later one must")
    assert(out(3L).getLong(4) == 1 && out(3L).isNullAt(2) && out(3L).isNullAt(3),
      "skipping a stage nulls everything after it")
    assert(out(4L).getLong(4) == 1, "same-instant event is not strictly after")
    assert(out(5L).getLong(4) == 0 && out(5L).isNullAt(1))
    // windowed variant: u1's click is 1h after the view (inside a 2h gap,
    // outside 30min); the gap re-anchors per stage, not from the start
    val gapped = graft.queries.DataOps.funnelStages(
        ev, "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        maxGapSeconds = Some(1800L))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(gapped(1L) == 1, "30min gap must cut the 1h view->click hop")
    val gapped2h = graft.queries.DataOps.funnelStages(
        ev, "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
        maxGapSeconds = Some(7200L))
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(gapped2h(1L) == 3, "2h per-hop gap admits 1h hops (gap is per stage)")
  }

  test("corpus diff: added/removed/changed/same statuses per id") {
    val prev = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text")
    val cur  = Seq((2L, "b"), (3L, "C!"), (4L, "d")).toDF("doc_id", "text")
    val out = graft.queries.DataOps.corpusDiff(prev, cur, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "removed", 2L -> "same", 3L -> "changed", 4L -> "added"))
  }

  test("cohort retention: first-seen week buckets, per-week distinct activity") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // 2026-01-05 and 2026-01-12 are Mondays (week starts)
    val ev = Seq(
      (1L, ts("2026-01-05 10:00:00")), // u1 cohort w0, active w0
      (1L, ts("2026-01-06 10:00:00")), // same week — counts once
      (1L, ts("2026-01-14 10:00:00")), // active w1
      (2L, ts("2026-01-07 10:00:00")), // u2 cohort w0, active w0 only
      (3L, ts("2026-01-13 10:00:00")), // u3 cohort w1, active w1
      (3L, ts("2026-01-19 10:00:00"))  // active w2 (relative offset 1)
    ).toDF("user_id", "ts").withColumn("event_type", lit("x"))
    val out = graft.queries.DataOps.retentionCohorts(ev, "user_id", "ts")
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("c"),
        col("week_offset"), col("n_users"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("2026-01-05", 0L) -> 2L,  // u1+u2 active in their first week
      ("2026-01-05", 1L) -> 1L,  // only u1 returns
      ("2026-01-12", 0L) -> 1L,  // u3's own cohort week
      ("2026-01-12", 1L) -> 1L   // u3 returns next week
    ), s"unexpected retention matrix: $out")
  }

  test("char diversity: one-pass histogram stats, unicode + edge cases") {
    val rows = Seq(
      (1L, "aabb"),          // n=4, distinct=2, top=2, sumsq=8
      (2L, "aaaa"),          // degenerate: simpson = 0
      (3L, ""),              // empty: all zeros, null ratios
      (4L, "aéé😀"), // é é 😀 — surrogate pair is ONE cp
      (5L, "abcd")           // uniform: simpson = 1 - 4/16 = 0.75
    ).toDF("doc_id", "text")
    val out = rows.select(col("doc_id"), TextAnalysis.charStats(col("text")).as("cs"))
      .select(col("doc_id"), col("cs.n_cp"), col("cs.distinct_cp"),
        col("cs.top_cp_n"), col("cs.sumsq"),
        TextAnalysis.simpsonDiversity(col("cs")).as("simpson"),
        TextAnalysis.topCharFraction(col("cs")).as("top_frac"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def stats(id: Long) = { val r = out(id); (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) }
    assert(stats(1L) == ((4L, 2L, 2L, 8L)))
    assert(out(1L).getDouble(5) == 0.5 && out(1L).getDouble(6) == 0.5)
    assert(stats(2L) == ((4L, 1L, 4L, 16L)) && out(2L).getDouble(5) == 0.0)
    assert(stats(3L) == ((0L, 0L, 0L, 0L)))
    assert(out(3L).isNullAt(5) && out(3L).isNullAt(6))
    // 'a' + 2×'é' + 1 emoji: 4 codepoints (not 5 UTF-16 chars), 3 distinct
    assert(stats(4L) == ((4L, 3L, 2L, 6L)))
    assert(stats(5L) == ((4L, 4L, 1L, 4L)) && out(5L).getDouble(5) == 0.75)
    // SQL registration surfaces the same struct
    graft.plans.GraftExtensions.register(spark)
    rows.createOrReplaceTempView("cd_t")
    val s = spark.sql("SELECT graft_char_diversity(text).sumsq AS q FROM cd_t WHERE doc_id = 1")
      .head().getLong(0)
    assert(s == 8L)
  }

  test("label propagation: two cliques bridged by one edge separate; replay is exact") {
    // clique {1,2,3,4} + clique {5,6,7,8} + bridge 4-5; hand-rolled sweeps:
    //   s1 (all counts 1, min-neighbor wins): 1->2 2->1 3->1 4->1 5->4 6->5 7->5 8->5
    //   s2: majorities settle 1..4 -> 1 and 5..8 -> 5; s3/s4 are no-ops
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (5L,6L),(5L,7L),(5L,8L),(6L,7L),(6L,8L),(7L,8L),(4L,5L)).toDF("a","b")
    def run(df: org.apache.spark.sql.DataFrame, s: Int) =
      Graph.labelPropagation(df, sweeps = s).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val s1 = run(edges, 1)
    assert(s1 == Map(1L->2L, 2L->1L, 3L->1L, 4L->1L, 5L->4L, 6L->5L, 7L->5L, 8L->5L),
      s"sweep-1 state mismatch: $s1")
    val s4 = run(edges, 4)
    assert(s4 == Map(1L->1L, 2L->1L, 3L->1L, 4L->1L, 5L->5L, 6L->5L, 7L->5L, 8L->5L),
      s"communities mismatch: $s4")
    assert(run(edges.repartition(7), 4) == s4, "partitioning must not change labels")
    // a single edge is the canonical synchronous-LPA oscillator: the
    // endpoints swap labels every sweep — deterministically, which is the
    // point of the FIXED sweep bound (replayable even where unconverged)
    assert(run(Seq((9L, 3L)).toDF("a", "b"), 1) == Map(9L->3L, 3L->9L))
    assert(run(Seq((9L, 3L)).toDF("a", "b"), 2) == Map(9L->9L, 3L->3L))
  }

  test("label propagation: negative / hashed ids get the same communities") {
    // the tie-break negates the sweep count, never the label, so ids may
    // be any long — including Long.MinValue, which would overflow under
    // label negation (ADVICE r13). Shift-equivariance proves it: shifting
    // every id by a constant must shift every community label identically.
    val base = Seq((1L,2L),(1L,3L),(2L,3L),(4L,5L),(4L,6L),(5L,6L),(3L,4L))
    def run(pairs: Seq[(Long, Long)]) =
      Graph.labelPropagation(pairs.toDF("a", "b"), sweeps = 4).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pos = run(base)
    val shifted = run(base.map { case (a, b) => (a - 10L, b - 10L) })
    assert(shifted == pos.map { case (k, v) => (k - 10L, v - 10L) },
      s"negative-id run diverged: $shifted vs $pos")
    // Long.MinValue as a node id: the old negation overflowed; now it is
    // just the smallest label and wins its ties
    val extreme = run(Seq((Long.MinValue, 7L), (7L, 8L), (Long.MinValue, 8L)))
    assert(extreme.keySet == Set(Long.MinValue, 7L, 8L))
    assert(extreme.values.toSet == Set(Long.MinValue),
      s"triangle must converge to the smallest label: $extreme")
  }

  test("clustering coefficients: triangle-with-pendant matches the hand values") {
    // triangle {1,2,3} + pendant 3-4: deg = (2,2,3,1), tri = (1,1,1,-)
    // cc: 1 -> 2/(2*1)=1.0, 2 -> 1.0, 3 -> 2/(3*2)=1/3; node 4 absent
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    val r = Graph.clusteringCoefficients(edges).collect()
      .map(x => x.getLong(0) -> ((x.getLong(1), x.getLong(2), x.getLong(3),
        x.getLong(4), x.getDouble(5)))).toMap
    assert(r.keySet == Set(1L, 2L, 3L), s"only triangle members appear: $r")
    assert(r(1L) == ((1L, 2L, 2L, 2L, 1.0)))
    assert(r(2L) == ((1L, 2L, 2L, 2L, 1.0)))
    assert(r(3L) == ((1L, 3L, 2L, 6L, 1.0 / 3.0)))
  }

  test("assortativity: a 3-path is perfectly disassortative; regular graph null") {
    // path 1-2-3: degrees (1,2,1); symmetrized moments n=4, sx=6, sxx=10,
    // sxy=8 -> r = (32-36)/(40-36) = -1
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val row = Graph.assortativity(path).collect().head
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3))
      == ((4L, 6L, 10L, 8L)))
    assert(row.getLong(4) == -4L && row.getLong(5) == 4L)
    assert(row.getDouble(6) == -1.0)
    // a degree-regular graph (single edge: both endpoints deg 1) has zero
    // degree variance -> r null, not a division blow-up
    val reg = Graph.assortativity(Seq((7L, 8L)).toDF("a", "b")).collect().head
    assert(reg.isNullAt(6), "regular graph must yield null r")
  }

  test("personalized pagerank: teleport mass stays on seeds; hand replay exact") {
    // chain 1->2->3, seed {1}. tp: 150000 on 1, 0 elsewhere;
    // r0 = 1000000 on 1. Hand replay (3 iterations):
    //   r1: 1=150000, 2=850000, 3=0
    //   r2: 1=150000, 2=127500, 3=722500
    //   r3: 1=150000, 2=127500, 3=108375
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val r = Graph.pageRankPersonalized(edges, seeds, iterations = 3).collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r == Map(1L -> 150000L, 2L -> 127500L, 3L -> 108375L), s"got $r")
    // a seed outside the graph neither holds nor routes mass
    val r2 = Graph.pageRankPersonalized(edges, Seq(99L).toDF("id"), 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r2 == Map(1L -> 0L, 2L -> 0L, 3L -> 0L),
      s"no in-graph seed: all mass decays to zero, got $r2")
    // partitioning independence (exact integers)
    val rep = Graph.pageRankPersonalized(edges.repartition(5), seeds, 3)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(rep == r)
  }

  test("shortest paths: weighted hand replay, BFS depths, fixed-sweep determinism") {
    // weighted digraph: 1->2 (5), 1->3 (1), 3->2 (1), 2->4 (1), 3->5 (10)
    // from source 1: d(1)=0, d(3)=1, d(2)=2 (via 3, not the direct 5),
    // d(4)=3, d(5)=11
    val e = Seq((1L, 2L, 5L), (1L, 3L, 1L), (3L, 2L, 1L), (2L, 4L, 1L),
      (3L, 5L, 10L)).toDF("src", "dst", "w")
    val src = Seq(1L).toDF("id")
    def run(edges: org.apache.spark.sql.DataFrame, s: Int) =
      Graph.shortestPaths(edges, src, sweeps = s).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(e, 8) == Map(1L -> 0L, 2L -> 2L, 3L -> 1L, 4L -> 3L, 5L -> 11L))
    // sweep-limited state is exact too: after 1 sweep only direct edges
    assert(run(e, 1) == Map(1L -> 0L, 2L -> 5L, 3L -> 1L))
    // missing w column = unit weights = BFS depth; partitioning-stable
    val bfs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    val d8 = Graph.shortestPaths(bfs, src, sweeps = 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(d8 == Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L))
    val rep = Graph.shortestPaths(bfs.repartition(7), src, sweeps = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == d8, "partitioning must not change distances")
    // a source absent from the graph reaches nothing and is dropped
    assert(Graph.shortestPaths(bfs, Seq(99L).toDF("id"), 4).count() == 0)
    // negative weights are rejected loudly, not silently non-convergent
    val neg = intercept[Exception] {
      Graph.shortestPaths(Seq((1L, 2L, -1L)).toDF("src", "dst", "w"), src, 2)
        .count()
    }
    assert(neg.getMessage.contains("non-negative"), s"wrong error: $neg")
  }

  test("shortest paths fixpoint: early exit on converged graphs, true depths past the sweep budget") {
    val src = Seq(0L).toDF("id")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // converged fixture: diameter 4 << both budgets — fixpoint mode must
    // return the identical state the fixed-sweep loop (and its oracle)
    // computes, and must NOT spend its whole cap getting there
    val small = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (0L, 4L))
      .toDF("src", "dst")
    val fixedState = asMap(Graph.shortestPaths(small, src, sweeps = 8))
    val (fp, ran) = Graph.shortestPathsFixpoint(small, src, maxSweeps = 20)
    val fpState = asMap(fp)
    fp.unpersist()
    assert(fpState == fixedState, s"fixpoint diverged: $fpState vs $fixedState")
    // the deepest node (3, at depth 3) lands at sweep 3; detection costs
    // one no-op sweep
    assert(ran == 4, s"expected early exit at sweep 4, ran $ran")
    // diameter > sweeps fixture: a 12-hop chain. The fixed default
    // (sweeps = 8) reaches depth 8 and silently stops — the VERDICT r14
    // production hazard; fixpoint mode reaches the true distances
    val chain = (0L until 12L).map(i => (i, i + 1)).toDF("src", "dst")
    val truncated = asMap(Graph.shortestPaths(chain, src, sweeps = 8))
    assert(truncated.keySet == (0L to 8L).toSet,
      s"fixed-sweep state should stop at depth 8: $truncated")
    val (deep, deepRan) = Graph.shortestPathsFixpoint(chain, src, maxSweeps = 30)
    val deepState = asMap(deep)
    deep.unpersist()
    assert(deepState == (0L to 12L).map(i => i -> i).toMap,
      s"fixpoint must reach the true 12-hop depths: $deepState")
    assert(deepRan == 13 && deepRan < 30,
      s"12-hop chain should settle at sweep 13, ran $deepRan")
    // the public flag is the same loop
    assert(asMap(Graph.shortestPaths(chain, src, sweeps = 30,
      runToFixpoint = true)) == deepState)
  }

  test("hash-sample quantiles: exact under k, bounded rank error over k, partition-stable") {
    import graft.operators.Quantiles
    // a small group (n <= k): the sample IS the group, quantiles exact
    val small = (1L to 100L).map(v => ("a", v, v * 10L))
      .toDF("g", "id", "v")
    val exactSmall = Quantiles.hashSampleQuantiles(small, "g", "id", "v",
        k = 256, Seq(("p50", 1L, 2L), ("p95", 19L, 20L)))
      .collect().head
    assert(exactSmall.getLong(1) == 100L && exactSmall.getLong(2) == 100L)
    // nearest-lower rank over the full sorted set: idx 49 -> 500, idx 94 -> 950
    assert(exactSmall.getLong(3) == 500L && exactSmall.getLong(4) == 950L)
    // a big group (n >> k): the sampled p50's TRUE rank must sit within
    // the classical uniform-sample band (generous ±10% of n at k = 512)
    val n = 20000L
    val big = (1L to n).map(v => ("b", v, v)).toDF("g", "id", "v")
    val s = Quantiles.hashSampleQuantiles(big, "g", "id", "v",
        k = 512, Seq(("p50", 1L, 2L))).collect().head
    assert(s.getLong(1) == n && s.getLong(2) == 512L)
    val p50 = s.getLong(3) // value == its own rank by construction
    assert(math.abs(p50 - n / 2) <= n / 10,
      s"sampled p50 rank $p50 outside the [${n * 4 / 10}, ${n * 6 / 10}] band")
    // deterministic under partitioning (the bounded heap is
    // merge-order-free by lexicographic (hash, value) ordering)
    val rep = Quantiles.hashSampleQuantiles(big.repartition(13), "g", "id",
        "v", k = 512, Seq(("p50", 1L, 2L))).collect().head
    assert(rep.getLong(3) == p50, "partitioning must not move the sample")
  }

  test("random walks: valid edges every hop, sink termination, deterministic under repartitioning") {
    // diamond with a tail: 1→{2,3}, 2→4, 3→4, 4→1 (cycle) plus 4→5 with
    // 5 a SINK; every node has out-edges except 5
    val e = Seq((1L,2L),(1L,3L),(2L,4L),(3L,4L),(4L,1L),(4L,5L))
      .toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) = {
      val out = Graph.randomWalks(df, steps = 6, walksPerNode = 3)
      val rows = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      out.unpersist()
      rows.toSet
    }
    val walks = run(e)
    // step 0 = every (start, walk) at its start node
    val starts = Seq(1L, 2L, 3L, 4L) // 5 has no out-edges, so no walks
    assert(walks.filter(_._3 == 0L) ==
      (for (s <- starts; w <- 0L to 2L) yield (s, w, 0L, s)).toSet)
    // every hop is an existing edge
    val edgeSet = Set((1L,2L),(1L,3L),(2L,4L),(3L,4L),(4L,1L),(4L,5L))
    val byWalk = walks.groupBy(r => (r._1, r._2))
    byWalk.values.foreach { rs =>
      rs.toSeq.sortBy(_._3).sliding(2).foreach {
        case Seq(a, b) =>
          assert(b._3 == a._3 + 1, s"gapped steps in walk $a -> $b")
          assert(edgeSet.contains((a._4, b._4)),
            s"hop ${a._4}->${b._4} is not an edge")
        case _ => ()
      }
    }
    // a walk that lands on sink 5 stops there (no step past the sink),
    // walks that never hit 5 run the full 6 hops
    byWalk.foreach { case ((s, w), rs) =>
      val last = rs.maxBy(_._3)
      assert(last._3 == 6L || last._4 == 5L,
        s"walk ($s,$w) stopped early at ${last._4} step ${last._3}")
    }
    // deterministic: same corpus under any partitioning
    assert(run(e.repartition(7)) == walks,
      "partitioning must not change a single hop")
    // walksPerNode spreads: with 3 walks from node 1 (outdeg 2), both
    // out-edges are exercised across the hash-indexed first hops OR all
    // three agree — either way the choice is the recorded hash's, so
    // just pin the exact first hops for regression
    val firstHops = walks.filter(r => r._1 == 1L && r._3 == 1L).map(_._4)
    assert(firstHops.nonEmpty && firstHops.forall(Set(2L, 3L)))
  }

  test("weighted random walks: unit weights equal the unweighted path, parallel edges combine") {
    def runDf(df: org.apache.spark.sql.DataFrame) = {
      val out = Graph.randomWalks(df, steps = 5, walksPerNode = 2)
      val rows = out.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      out.unpersist()
      rows
    }
    val base = Seq((1L,2L),(1L,3L),(2L,4L),(3L,4L),(4L,1L))
    // all-unit weights must reproduce the unweighted corpus exactly
    // (unit intervals [rk, rk+1) ≡ exact ranks)
    val unweighted = runDf(base.toDF("src", "dst"))
    val unitW = runDf(base.map { case (a, b) => (a, b, 1L) }
      .toDF("src", "dst", "w"))
    assert(unitW == unweighted, "w=1 must equal the unweighted draw")
    // parallel edges combine: (1,2,1)+(1,2,2) ≡ (1,2,3)
    val skew = Seq((1L,2L,3L),(1L,3L,1L),(2L,4L,1L),(3L,4L,1L),(4L,1L,1L))
    val combined = runDf(skew.toDF("src", "dst", "w"))
    val split = runDf((Seq((1L,2L,1L),(1L,2L,2L)) ++ skew.tail)
      .toDF("src", "dst", "w"))
    assert(split == combined, "parallel edges must combine their mass")
    // every hop is still a real edge; partition-stable
    val edgeSet = base.toSet
    combined.groupBy(r => (r._1, r._2)).values.foreach { rs =>
      rs.toSeq.sortBy(_._3).sliding(2).foreach {
        case Seq(a, b) => assert(edgeSet.contains((a._4, b._4)))
        case _ => ()
      }
    }
    assert(runDf(skew.toDF("src", "dst", "w").repartition(5)) == combined)
    // non-positive weights reject loudly
    val bad = intercept[Exception] {
      Graph.randomWalks(Seq((1L, 2L, 0L)).toDF("src", "dst", "w"), 2).count()
    }
    assert(bad.getMessage.contains("positive"), s"wrong error: $bad")
  }

  test("node2vec walks: neutral biases equal first-order walks; return bias oscillates, far bias advances") {
    // symmetric ring of 8: every node has exactly two choices — its two
    // ring neighbors, never adjacent to each other, so from (prev, cur)
    // one candidate is the RETURN and the other is FAR (distance 2)
    val ring = (0L until 8L).flatMap(i =>
      Seq((i, (i + 1) % 8), ((i + 1) % 8, i))).toDF("src", "dst")
    def corpus(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      df.unpersist()
      rows.toSet
    }
    // (1,1,1) biases ARE the first-order draw: same modulus, same
    // intervals, same hash — the corpora must be identical
    val plain = corpus(Graph.randomWalks(ring, steps = 4, walksPerNode = 2))
    val neutral = corpus(Graph.node2vecWalks(ring, steps = 4,
      walksPerNode = 2, 1L, 1L, 1L))
    assert(neutral == plain, "neutral node2vec must equal first-order walks")
    // dominant return bias: every step >= 2 draws the return edge unless
    // the 60-bit hash lands in the 1/10000 far sliver — on 16 walks x 3
    // late hops, demand ALL oscillate
    def byWalk(rows: Set[(Long, Long, Long, Long)]) =
      rows.groupBy(r => (r._1, r._2))
        .map { case (k, rs) => k -> rs.toSeq.sortBy(_._3).map(_._4) }
    val osc = byWalk(corpus(Graph.node2vecWalks(ring, steps = 4,
      walksPerNode = 2, 9999L, 1L, 1L)))
    osc.values.foreach { path =>
      (2 until path.length).foreach { i =>
        assert(path(i) == path(i - 2),
          s"return-biased walk must oscillate: $path")
      }
    }
    // dominant far bias: the walk never returns — every hop advances
    // around the ring
    val adv = byWalk(corpus(Graph.node2vecWalks(ring, steps = 4,
      walksPerNode = 2, 1L, 1L, 9999L)))
    adv.values.foreach { path =>
      (2 until path.length).foreach { i =>
        assert(path(i) != path(i - 2),
          s"far-biased walk must keep advancing: $path")
      }
    }
    // partition-stable
    val rep = corpus(Graph.node2vecWalks(ring.repartition(5), steps = 4,
      walksPerNode = 2, 1L, 1L, 1L))
    assert(rep == neutral, "partitioning must not change a hop")
  }

  test("walks from the graph index equal the direct walks, weighted and unit") {
    val spark = this.spark
    val dirEdges = Seq((1L,2L),(1L,3L),(2L,4L),(3L,4L),(4L,1L),(4L,5L))
    def sym(ps: Seq[(Long, Long)]) = (ps ++ ps.map(p => (p._2, p._1)))
      .toDF("src", "dst")
    def corpus(df: org.apache.spark.sql.DataFrame) = {
      val rows = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      df.unpersist()
      rows.toSet
    }
    withGraphIndex(sym(dirEdges), "rw_idx_spec", buckets = 4) {
      val direct = corpus(Graph.randomWalks(sym(dirEdges), steps = 5,
        walksPerNode = 2))
      val fromIdx = corpus(Graph.randomWalksFromIndex(spark, "rw_idx_spec",
        steps = 5, walksPerNode = 2))
      assert(fromIdx == direct, "layout must change the plan, never a hop")
    }
    // weighted build: parallel-free weighted edges, same equivalence
    val wEdges = Seq((1L,2L,3L),(1L,3L,1L),(2L,4L,2L),(3L,4L,1L),(4L,1L,5L))
    val wDf = (wEdges ++ wEdges.map(e => (e._2, e._1, e._3)))
      .toDF("src", "dst", "w")
    withGraphIndex(wDf, "rw_widx_spec", buckets = 4) {
      val direct = corpus(Graph.randomWalks(wDf, steps = 5, walksPerNode = 2))
      val fromIdx = corpus(Graph.randomWalksFromIndex(spark, "rw_widx_spec",
        steps = 5, walksPerNode = 2))
      assert(fromIdx == direct,
        "weighted layout must change the plan, never a hop")
    }
  }

  test("louvain step: ideal partition is a fixpoint; refinement raises Q from singletons") {
    // bridged cliques {1,2,3,4} + {5,6,7,8}, bridge 4-5 (m = 13)
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (5L,6L),(5L,7L),(5L,8L),(6L,7L),(6L,8L),(7L,8L),(4L,5L)).toDF("a","b")
    def labs(pairs: (Long, Long)*) = pairs.toDF("id", "community")
    def run(l: org.apache.spark.sql.DataFrame) = {
      val out = Graph.louvainStep(edges, l)
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out.unpersist()
      got
    }
    def q(l: Map[Long, Long]) = {
      val scored = Graph.modularity(edges, labs(l.toSeq: _*))
      val total = scored.agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("q"))).head().getDouble(0)
      scored.unpersist()
      total
    }
    // the ideal partition: every candidate move has Δnum < 0 (for node 4:
    // 4m(1−3) − 2·4·0 − 32 = −136) — a strict fixpoint
    val ideal = Map(1L->1L, 2L->1L, 3L->1L, 4L->1L,
      5L->5L, 6L->5L, 7L->5L, 8L->5L)
    assert(run(labs(ideal.toSeq: _*)) == ideal, "ideal partition must not move")
    // from all-singletons, one synchronous step must strictly raise Q
    val singletons = (1L to 8L).map(i => i -> i).toMap
    val stepped = run(labs(singletons.toSeq: _*))
    assert(stepped != singletons, "refinement must move somebody")
    assert(q(stepped) > q(singletons),
      s"Q must rise: ${q(singletons)} -> ${q(stepped)}")
    // deterministic under partitioning
    val rep = Graph.louvainStep(edges.repartition(7),
      labs(singletons.toSeq: _*))
    assert(rep.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == stepped)
    rep.unpersist()
    // a second step from the stepped state keeps Q non-decreasing
    val stepped2 = run(labs(stepped.toSeq: _*))
    assert(q(stepped2) >= q(stepped),
      s"Q must not fall: ${q(stepped)} -> ${q(stepped2)}")
  }

  test("louvain: multi-level contraction resolves bridged cliques; Q non-decreasing per level; level loop is idempotent past convergence") {
    // bridged cliques {1,2,3,4} + {5,6,7,8}, bridge 4-5 (m = 13) — the
    // louvainStep fixture, now through both phases from singletons
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (5L,6L),(5L,7L),(5L,8L),(6L,7L),(6L,8L),(7L,8L),(4L,5L)).toDF("a","b")
    def run(levels: Int) = {
      val out = Graph.louvain(edges, levels = levels, sweeps = 2)
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out.unpersist()
      got
    }
    def q(l: Map[Long, Long]) = {
      val scored = Graph.modularity(edges, l.toSeq.toDF("id", "community"))
      val total = scored.agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("q"))).head().getDouble(0)
      scored.unpersist()
      total
    }
    val l1 = run(1); val l2 = run(2)
    // the two cliques must resolve into exactly two communities
    assert(l2.values.toSet.size == 2, s"expected 2 communities, got $l2")
    assert((1L to 4L).map(l2).toSet.size == 1 && (5L to 8L).map(l2).toSet.size == 1,
      s"cliques split: $l2")
    // Q non-decreasing per level, strictly above singletons
    val qSingle = q((1L to 8L).map(i => i -> i).toMap)
    assert(q(l1) > qSingle, s"level 1 must raise Q: $qSingle -> ${q(l1)}")
    assert(q(l2) >= q(l1), s"Q fell across levels: ${q(l1)} -> ${q(l2)}")
    // past convergence, extra levels are no-ops (fixed-sweep ≡ fixpoint)
    assert(run(3) == l2, "a converged level must contract to itself")
    // deterministic under partitioning
    val rep = Graph.louvain(edges.repartition(7), levels = 2, sweeps = 2)
    assert(rep.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap == l2)
    rep.unpersist()
  }

  test("scc: two cycles joined by a tail resolve by hand; directed ≠ undirected") {
    // 1→2→3→1 (cycle A), tail 3→4, bridge 4→5, 5→6→5 (cycle B), feeder
    // 7→1. SCCs: {1,2,3} labeled 1, {5,6} labeled 5, singletons {4},{7}.
    // Round 1 by hand (sweeps = 4): f floods 1 down to nodes 1-5 (node 6
    // sits at propagation depth 5, so its 4-sweep label stays 2 — an
    // UNDER-SWEPT color with no root, which emits nothing rather than
    // anything wrong); roots are 1 and 7; backward within color 1 marks
    // only {1,2,3} (4 cannot return to 1) → round 1 emits {1,2,3}→1 and
    // {7}→7. Round 2 re-colors {4,5,6}: f(4)=4 root, f(5)=f(6)=4 —
    // backward marks only {4}; round 3 resolves {5,6}→5. Three rounds
    // genuinely NEEDED: the two-cycle-plus-tail fixture exercises the
    // multi-round peel, not just the coloring.
    val e = Seq((1L,2L),(2L,3L),(3L,1L),(3L,4L),(4L,5L),(5L,6L),(6L,5L),
      (7L,1L)).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame, r: Int) = {
      val out = Graph.stronglyConnectedComponents(df, rounds = r, sweeps = 4)
      val got = out.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      out.unpersist()
      got
    }
    val full = run(e, 3)
    assert(full == Map(1L->1L, 2L->1L, 3L->1L, 4L->4L, 5L->5L, 6L->5L, 7L->7L),
      s"scc mismatch: $full")
    // the capped partial result: round 1 alone emits only the finalized
    // colors — a documented partial assignment, never a wrong one
    val r1 = run(e, 1)
    assert(r1 == Map(1L->1L, 2L->1L, 3L->1L, 7L->7L), s"round-1 state: $r1")
    // partitioning must not change a label
    assert(run(e.repartition(5), 3) == full)
    // a DAG has only singletons (the undirected components would merge
    // it); un-trimmed FW-BW peels one chain layer per round, so the
    // 3-node chain takes 3 rounds
    val dag = Seq((10L, 11L), (11L, 12L), (10L, 12L)).toDF("src", "dst")
    assert(run(dag, 3) == Map(10L->10L, 11L->11L, 12L->12L))
    // empty input: empty output, correct schema
    val empty = run(Seq.empty[(Long, Long)].toDF("src", "dst"), 2)
    assert(empty.isEmpty)
  }

  test("scc trim: same partition as no-trim, long DAG chains resolve in few rounds") {
    def run(df: org.apache.spark.sql.DataFrame, r: Int, trim: Int) = {
      val out = Graph.stronglyConnectedComponents(df, rounds = r,
        sweeps = 4, trimPasses = trim)
      val got = out.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
      out.unpersist()
      got
    }
    // an 8-node DAG chain feeding a 3-cycle: un-trimmed FW-BW peels one
    // chain layer per round (needs ~8 rounds); two trim passes per round
    // strip the chain from BOTH ends, so 2 rounds complete the partition
    val chain = (10L until 17L).map(i => (i, i + 1)) ++
      Seq((17L, 1L), (1L, 2L), (2L, 3L), (3L, 1L))
    val expected = ((10L to 17L).map(i => i -> i) ++
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L)).toMap
    val trimmed = run(chain.toDF("src", "dst"), 2, 4)
    assert(trimmed == expected, s"trimmed partition: $trimmed")
    // trim changes the path, never the answer
    assert(run(chain.toDF("src", "dst"), 12, 0) == expected,
      "no-trim (enough rounds) must reach the same partition")
    // the two-cycles-plus-tail fixture from the main spec, trimmed,
    // still resolves exactly
    val e = Seq((1L,2L),(2L,3L),(3L,1L),(3L,4L),(4L,5L),(5L,6L),(6L,5L),
      (7L,1L)).toDF("src", "dst")
    assert(run(e, 3, 2) ==
      Map(1L->1L, 2L->1L, 3L->1L, 4L->4L, 5L->5L, 6L->5L, 7L->7L))
  }

  test("label propagation fixpoint: converged communities exit early, oscillators hit the cap") {
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the bridged-cliques fixture settles by sweep 2; sweeps 3+ are no-ops
    val edges = Seq((1L,2L),(1L,3L),(1L,4L),(2L,3L),(2L,4L),(3L,4L),
      (5L,6L),(5L,7L),(5L,8L),(6L,7L),(6L,8L),(7L,8L),(4L,5L)).toDF("a","b")
    val fixed = asMap(Graph.labelPropagation(edges, sweeps = 4))
    val (fp, ran) = Graph.labelPropagationCounted(edges, sweeps = 50,
      runToFixpoint = true)
    val fpState = asMap(fp)
    fp.unpersist()
    assert(fpState == fixed, s"fixpoint labels diverged: $fpState vs $fixed")
    assert(ran == 3, s"settles at sweep 2 + one detection sweep, ran $ran")
    // the single-edge oscillator never converges — the cap must hold, and
    // the state must equal the fixed-sweep state at the cap (synchronous
    // determinism: cap-bounded fixpoint mode IS the fixed-sweep loop when
    // no sweep is ever a no-op)
    val osc = Seq((9L, 3L)).toDF("a", "b")
    val (oscDf, oscRan) = Graph.labelPropagationCounted(osc, sweeps = 5,
      runToFixpoint = true)
    val oscState = asMap(oscDf)
    oscDf.unpersist()
    assert(oscRan == 5, s"oscillator must run to the cap, ran $oscRan")
    assert(oscState == asMap(Graph.labelPropagation(osc, sweeps = 5)))
  }

  test("modularity: two cliques with a bridge match the hand computation") {
    // cliques {1,2,3} and {4,5,6} + bridge 3-4: m = 7 edges
    // community A = {1,2,3}: m_A = 3, d_A = 2+2+3 = 7 -> q_num = 4*7*3-49 = 35
    // community B = {4,5,6}: same by symmetry; q = 35/196
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L), (5L, 4L),
      (6L, 4L)).toDF("id", "community")
    val rows = Graph.modularity(edges, labels).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))).toMap
    assert(rows(1L) == ((3L, 7L, 3L, 35L, 35.0 / 196.0)))
    assert(rows(4L) == ((3L, 7L, 3L, 35L, 35.0 / 196.0)))
    // degenerate labelings score 0 or worse: everything in one community
    val one = Graph.modularity(edges,
      labels.select(col("id"), lit(1L).as("community"))).collect()
    assert(one.length == 1 && one.head.getLong(4) == 0L,
      "single-community q_num must be exactly 0 (4m*m - (2m)^2)")
    // every node alone: no internal edges, strictly negative
    val solo = Graph.modularity(edges,
      labels.select(col("id"), col("id").as("community"))).collect()
    assert(solo.forall(_.getLong(4) < 0L))
  }

  test("hits: integer hub/authority chain matches the hand replay exactly") {
    // 1->2, 1->4, 3->4: node 1 is the strong hub (spans both
    // authorities), 4 the strong authority (two in-edges). Hand replay
    // at scale 1e6 (integer div):
    //   it1: ar(2)=1e6 ar(4)=2e6 -> a(2)=5e5 a(4)=1e6;
    //        hr(1)=1.5e6 hr(3)=1e6 -> h(1)=1e6 h(3)=666666
    //   it2: a(2)=600000 a(4)=1e6; h(1)=1e6 h(3)=625000
    //   it3: a(2)=615384 a(4)=1e6; h(1)=1e6 h(3)=619047
    val edges = Seq((1L, 2L), (1L, 4L), (3L, 4L)).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      Graph.hits(df, iterations = 3).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val got = run(edges)
    assert(got == Map(
      1L -> ((1000000L, 0L)), 3L -> ((619047L, 0L)),
      2L -> ((0L, 615384L)), 4L -> ((0L, 1000000L))), s"got $got")
    assert(run(edges.repartition(5)) == got, "partitioning must not change scores")
    assert(Graph.hits(edges.limit(0)).count() == 0, "empty graph, empty scores")
  }

  test("representatives: edge-list components labelled by min id") {
    val cc = Dedup.representatives(
      Seq((1L,2L),(2L,3L),(7L,8L),(9L,9L)).toDF("a","b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L->1L, 2L->1L, 3L->1L, 7L->7L, 8L->7L, 9L->9L), s"got $cc")
  }

  test("pareto frontier: two-phase bucketed form equals the brute-force skyline") {
    // adversarial small-range data: heavy x/y ties exercise the
    // equal-x-keep-max-y and equal-(x,y)-all-survive dominance edges
    val rng = new scala.util.Random(42)
    val pts = (1L to 400L).map(id => (id, (rng.nextInt(25) + 1).toLong,
      (rng.nextInt(25) + 1).toLong))
    val df = pts.toDF("id", "x", "y")
    def brute(rows: Seq[(Long, Long, Long)]): Set[Long] =
      rows.filter { case (_, xi, yi) =>
        !rows.exists { case (_, xj, yj) =>
          xj >= xi && yj >= yi && (xj > xi || yj > yi)
        }
      }.map(_._1).toSet
    val want = brute(pts)
    val got = Skyline.paretoFront2(df, "x", "y", bucketWidth = 4L)
      .select("id").as[Long].collect().toSet
    assert(got == want, s"skyline mismatch: got ${got.size}, want ${want.size}")
    assert(want.nonEmpty && want.size < pts.size, "fixture must be non-trivial")
    // bucket width must not change the answer (1 = pure driver suffix,
    // huge = pure in-bucket window — both degenerate paths)
    for (wd <- Seq(1L, 1000000L)) {
      val alt = Skyline.paretoFront2(df, "x", "y", bucketWidth = wd)
        .select("id").as[Long].collect().toSet
      assert(alt == want, s"bucketWidth=$wd changed the frontier")
    }
    // partitioning independence + empty/null safety
    val rep = Skyline.paretoFront2(df.repartition(13), "x", "y", 4L)
      .select("id").as[Long].collect().toSet
    assert(rep == want)
    assert(Skyline.paretoFront2(df.limit(0), "x", "y").count() == 0)
    val withNulls = df.withColumn("y",
      when(col("id") % 7 === 0, lit(null)).otherwise(col("y")))
    val nn = Skyline.paretoFront2(withNulls, "x", "y", 4L)
      .select("id").as[Long].collect().toSet
    val wantNn = brute(pts.filter(_._1 % 7 != 0))
    assert(nn == wantNn, "null-signal rows are excluded, frontier recomputed")
  }
}
