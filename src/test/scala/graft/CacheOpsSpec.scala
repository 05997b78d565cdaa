package graft

import graft.operators.{Bpe, Curation, Dedup, Retrieval, Similarity, Skyline}
import graft.streaming.EventStream
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** The holder contract outside the graph loops: every operator that takes
  * a cache through `CacheOps` leaves only its result cache (none where
  * the result is a driver value or a lazy plan), and nothing when an
  * input throws. */
class CacheOpsSpec extends SparkSpec {
  import CacheOpsSpec.Op
  import spark.implicits._

  /** `df`'s rows, but any job that reads them throws. The failing side is
    * a Range (a local relation would be constant-folded while planning),
    * so the failure lands in the operator's first job, after its caches
    * are taken. */
  private def failing(df: DataFrame): DataFrame =
    df.crossJoin(spark.range(1).toDF("__fail")
        .filter(assert_true(col("__fail") < 0L, lit("input fails")).isNull))
      .drop("__fail")

  private lazy val vecs = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.99, 0.1)), (3L, Seq(0.0, 1.0)),
    (4L, Seq(0.1, 0.99)), (5L, Seq(-1.0, 0.3))).toDF("vec_id", "embedding")
  private lazy val cents = Seq((0, Seq(1.0, 0.0)), (1, Seq(0.0, 1.0))).toDF("c_id", "c_vec")
  private lazy val docs = Seq((1L, "the cat sat on the mat"), (2L, "the cat sat on a mat"),
    (3L, "a dog ran far away"), (4L, "the dog ran far away today")).toDF("doc_id", "text")
  private lazy val isTarget = col("doc_id") <= 2L
  private lazy val queries = Seq((1L, "cat mat"), (2L, "dog")).toDF("q_id", "q_text")
  private lazy val points = Seq((1L, 5L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("x", "y")

  /** Cancels the `n`-th job that starts while it is registered, and
    * records how many RDDs were persisted at that moment. */
  private final class CancelJob(n: Int) extends SparkListener {
    private var seen = 0
    @volatile var persistedAtCancel = -1
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      seen += 1
      if (seen == n) {
        persistedAtCancel = spark.sparkContext.getPersistentRDDs.size
        spark.sparkContext.cancelJob(e.jobId, "input fails")
      }
    }
  }

  /** [[Bpe.train]] with its first merge pass failing: its docs are read
    * once into the first checkpoint, so no docs input can throw later;
    * the pass's job is cancelled instead (jobs 1-2 fill the first
    * checkpoint, 3-4 collect the top pair, 5 fills the merge's). */
  private def bpeMergeFails(): Seq[(String, String)] = {
    val cancel = new CancelJob(5)
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(cancel)
    try Bpe.train(docs, "text", 3)
    finally {
      org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(spark)
      spark.sparkContext.removeSparkListener(cancel)
      assert(cancel.persistedAtCancel > 0,
        s"the cancelled job ran before any checkpoint (${cancel.persistedAtCancel})")
    }
  }

  /** One incremental-dedup stream over two batches, sinking through `write`. */
  private def dedupStream(write: DataFrame => Unit): Unit = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("cacheops-stream").toString
    val q = EventStream.dedupStreamAgainstIndex(input.toDF().toDF("doc_id", "text"),
      "cacheops_stream_idx", indexBuckets = 2, idCol = "doc_id", keyCol = "text",
      checkpoint = ckpt)(write)
    try Seq(Seq((1L, "aa"), (2L, "aa")), Seq((3L, "aa"), (4L, "bb"))).foreach { batch =>
      input.addData(batch: _*)
      q.processAllAvailable()
    } finally q.stop()
  }

  private val ops = Seq(
    Op("lshNearDupPairs", () => Similarity.lshNearDupPairs(vecs, 0.9),
      () => Similarity.lshNearDupPairs(failing(vecs), 0.9), cachedResult = true),
    Op("trainCentroids", () => Similarity.trainCentroids(vecs, k = 2, iterations = 2),
      () => Similarity.trainCentroids(failing(vecs), k = 2, iterations = 2),
      cachedResult = false),
    Op("semDedup", () => Similarity.semDedup(vecs, cents, tau = 0.9),
      () => Similarity.semDedup(failing(vecs), cents, tau = 0.9), cachedResult = true),
    Op("buildSemDedupIndex",
      () => { dropManagedTable("cacheops_sem_idx")
              Similarity.buildSemDedupIndex(vecs, cents, "cacheops_sem_idx", buckets = 2) },
      () => { dropManagedTable("cacheops_sem_idx")
              Similarity.buildSemDedupIndex(failing(vecs), cents, "cacheops_sem_idx",
                buckets = 2) },
      cachedResult = false),
    Op("semDedupAgainstIndex",
      () => { dropManagedTable("cacheops_sem_idx")
              Similarity.buildSemDedupIndex(vecs, cents, "cacheops_sem_idx", buckets = 2)
              Similarity.semDedupAgainstIndex(vecs, cents, "cacheops_sem_idx", tau = 0.9) },
      () => Similarity.semDedupAgainstIndex(failing(vecs), cents, "cacheops_sem_idx",
        tau = 0.9), cachedResult = true),
    Op("knnGraph", () => Similarity.knnGraph(vecs, cents, k = 2),
      () => Similarity.knnGraph(failing(vecs), cents, k = 2), cachedResult = true),
    Op("jaccardJoin", () => Dedup.jaccardJoin(docs, "doc_id", "text", 1, 2),
      () => Dedup.jaccardJoin(failing(docs), "doc_id", "text", 1, 2), cachedResult = true),
    Op("dsirSelect", () => Curation.dsirSelect(docs, isTarget, k = 2),
      () => Curation.dsirSelect(failing(docs), isTarget, k = 2), cachedResult = false),
    Op("dsirLogWeights", () => Curation.dsirLogWeights(docs, isTarget),
      () => Curation.dsirLogWeights(failing(docs), isTarget), cachedResult = false),
    Op("sourceOverlapMatrix",
      () => Curation.sourceOverlapMatrix(docs.withColumn("src", col("doc_id") % 2L), "src"),
      () => Curation.sourceOverlapMatrix(
        failing(docs).withColumn("src", col("doc_id") % 2L), "src"), cachedResult = true),
    Op("trainQualityLR", () => Curation.trainQualityLR(docs, isTarget, buckets = 16, iters = 2),
      () => Curation.trainQualityLR(failing(docs), isTarget, buckets = 16, iters = 2),
      cachedResult = false),
    Op("paretoFront2", () => Skyline.paretoFront2(points, "x", "y"),
      () => Skyline.paretoFront2(failing(points), "x", "y"), cachedResult = true),
    Op("bm25TopK", () => Retrieval.bm25TopK(docs, queries, k = 2),
      () => Retrieval.bm25TopK(failing(docs), queries, k = 2), cachedResult = true),
    Op("Bpe.train", () => Bpe.train(docs, "text", 3), () => bpeMergeFails(),
      cachedResult = false),
    Op("dedupStreamAgainstIndex",
      () => { dropManagedTable("cacheops_stream_idx"); dedupStream(_.count(): Unit) },
      () => { dropManagedTable("cacheops_stream_idx")
              dedupStream(_ => throw new IllegalStateException("input fails")) },
      cachedResult = false))

  /** The message chain of `t` names `what`. */
  private def causedBy(t: Throwable, what: String): Boolean =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains(what))

  ops.foreach { op =>
    test(s"${op.name}: only its result cache stays, none on a throw") {
      try {
        clearCaches()
        op.ok() match {
          case out: org.apache.spark.sql.Dataset[_] if op.cachedResult =>
            assert(out.storageLevel.useMemory, s"${op.name} returned an uncached result")
            assert(spark.sparkContext.getPersistentRDDs.size == 1,
              s"${op.name} left ${spark.sparkContext.getPersistentRDDs.size} persisted RDDs")
            out.unpersist(blocking = true)
            assertNoCaches(s"released ${op.name} result")
          case out =>
            assert(!op.cachedResult, s"${op.name} returned $out, not a frame")
            assertNoCaches(op.name)
        }
        val err = intercept[Exception](op.fails())
        assert(causedBy(err, "input fails"), s"${op.name} failed for another reason: $err")
        assertNoCaches(s"failed ${op.name}")
      } finally Seq("cacheops_sem_idx", "cacheops_stream_idx").foreach(dropManagedTable)
    }
  }
}

object CacheOpsSpec {
  /** One operator that takes its caches through `CacheOps`: its call on
    * good inputs, its call on an input that throws, and whether its
    * result is a cache of its own. */
  final case class Op(name: String, ok: () => Any, fails: () => Any, cachedResult: Boolean)
}
