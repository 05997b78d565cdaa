package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale-trend diagnostic (NOT part of the driver contract — a tool that
  * answers "would this plan survive a 100× scale-up" with measurements
  * instead of reasoning).
  *
  * Two experiments:
  *   1. every gate query timed at sf0.001 / sf0.01 / sf0.1 → per-query
  *      log-log slope over the last decade (small-SF points sit on Spark's
  *      fixed per-job overhead, so the 0.01→0.1 segment is the signal);
  *   2. the documents-only operator subset re-timed on a synthetic 10×
  *      corpus (50k docs) built from sf0.1 by replication with a BIJECTIVE
  *      per-replica token remap — within-replica similarity structure is
  *      preserved exactly and nothing is shared across replicas, so dedup
  *      pair structure scales linearly the way fresh data would (see
  *      [[buildScaledDocs]] for the fixture lesson).
  *
  * Writes BENCH_SCALE.json: {sf_times, slope_tail, x10: {t1, t10, ratio}}.
  * A ratio ≤ ~12 on 10× data reads as at-most-linear (fixed overhead keeps
  * honest linear queries well under 10); anything above needs a written
  * justification in SURVEY §4.
  */
object ScaleBench {

  /** Queries whose only input is the documents table (eligible for the
    * synthetic 10× corpus, which scales documents alone). */
  val docOnly: Seq[String] = Seq(
    "q_dedup_exact", "q_ngram_jaccard", "q_dedup_minhash", "q_dedup_corpus",
    "q_dedup_simhash", "q_dedup_simhash_exact", "q_text_tokens",
    "q_text_quality", "q_gopher_rules", "q_lang_id", "q_fingerprint",
    "q_pii_scrub", "q_repetition", "q_sample_hash", "q_top_terms", "q_tfidf",
    "q_contamination", "q_contamination_bloom", "q_lm_bigram",
    "q_repeated_grams", "q_substring_dedup", "q_token_stats", "q_doc_freq_score", "q_chunk_docs",
    "q_pack_sequences", "q_multimodal", "q_mixture_resample", "q_split_assign",
    "q_boilerplate", "q_dedup_incremental", "q_dedup_minhash_inc", "q_best_per_source",
    "q_dsir_select", "q_corpus_overlap", "q_corpus_overlap_inc", "q_quality_lr",
    "q_paragraph_dedup", "q_heavy_hitters", "q_bpe_pairs", "q_bpe_train", "q_bm25",
    "q_winnow", "q_stable_ids", "q_sample_per_source", "q_mixture_temperature",
    "q_containment", "q_containment_inc", "q_ccnet_buckets", "q_url_dedup",
    "q_cap_per_host", "q_char_diversity", "q_token_budget",
    "q_line_dedup", "q_winsorize", "q_zscore_norm", "q_chi2_terms",
    "q_signal_corr", "q_corpus_diff", "q_corpus_merge", "q_corpus_report",
    "q_jaccard_join_nat", "q_shard_tokens", "q_pareto_front", "q_communities",
    // r14 documents-only additions (the layout gates stay out: their
    // first x10 run times the staging WRITE, not the read plan)
    "q_modularity", "q_clustering_coef", "q_assortativity",
    "q_mixture_temperature_q1", "q_mixture_temperature_q3")
  // q_jaccard_join is deliberately NOT in the x10 set: the word-soup
  // corpus is near-worst-case for set-similarity (the TRUE pair set is
  // quadratic in replica count at J>=19/20), so its x10 time measures the
  // answer's size, not the plan; its scaling evidence is the sf decade.
  // q_jaccard_join_nat is the natural-vocabulary companion (linear true
  // pair set) and IS in the x10 set.

  /** Queries whose only input is the embeddings table (eligible for the
    * synthetic 10× embedding corpus). q_semdedup is handled separately:
    * its gate form fixes k=8 centroids, and within-cell pair work is
    * quadratic in cell size BY CONTRACT — the 100 TB discipline is k ∝
    * corpus (SURVEY §2.5 55q), so the sweep times it with k scaled. */
  val embOnly: Seq[String] = Seq(
    "q_emb_neardup", "q_emb_neardup_lsh", "q_emb_neardup_lsh_fixed",
    "q_ann_topk", "q_ann_ivf", "q_ann_ivf_exact", "q_ann_ivf_fixed",
    "q_ann_ivf_indexed", "q_quantize_emb", "q_cluster_sample",
    "q_knn_graph", "q_knn_classify", "q_knn_mutual", "q_knn_clusters",
    "q_mmr_rerank")

  /** Replicate sf documents `copies`× with fresh ids and a BIJECTIVE
    * per-replica token remap (every token gets a replica suffix): within a
    * replica the token-to-token bijection preserves the corpus's pairwise
    * similarity structure EXACTLY (shingle Jaccard is permutation-free set
    * math), across replicas no token is shared, so near-dup pairs scale
    * linearly with the corpus — the way fresh data would. (A first attempt
    * SORTED each doc's tokens by a per-replica hash; that imposes a global
    * canonical token order, aligning shingles across any two docs that
    * share vocabulary — verified pairs exploded 3078× on 10× data. A
    * scale fixture must not manufacture its own quadratic blowup.) */
  def buildScaledDocs(spark: SparkSession, srcDir: String, outPath: String,
                      copies: Int): Long = {
    val docs = spark.read.parquet(s"$srcDir/documents.parquet")
    val idStride = 10000000L
    val replicas = (0 until copies).map { i =>
      if (i == 0) docs
      else docs.select(
        (col("doc_id") + lit(i * idStride)).as("doc_id"),
        concat_ws(" ", transform(split(col("text"), " "),
          t => concat(t, lit(s"_$i")))).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    val scaled = replicas.reduce(_.unionByName(_))
    scaled.repartition(32).write.mode("overwrite").parquet(s"$outPath/documents.parquet")
    spark.read.parquet(s"$outPath/documents.parquet").count()
  }

  /** Replicate sf embeddings `copies`× with fresh ids, per-replica label
    * offsets, and a per-replica COORDINATE PERMUTATION of the vector:
    * permuting coordinates is orthogonal, so every within-replica cosine
    * (and the LSH/ANN geometry built on it) is preserved EXACTLY, while
    * cross-replica cosines scramble to noise (~N(0, 1/64) at dim 64 —
    * no planted similarity crosses replicas, honoring the
    * [[buildScaledDocs]] fixture lesson). Labels shift per replica so the
    * label-blocked exact join keeps its block sizes (a shared label space
    * would square the blocks — a manufactured quadratic). */
  def buildScaledEmb(spark: SparkSession, srcDir: String, outPath: String,
                     copies: Int): Long = {
    val emb = spark.read.parquet(s"$srcDir/embeddings.parquet")
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    val idStride = 10000000L
    val replicas = (0 until copies).map { i =>
      if (i == 0) emb
      else {
        val perm = new scala.util.Random(i).shuffle((0 until d).toVector)
        emb.select(
          (col("vec_id") + lit(i * idStride)).as("vec_id"),
          array(perm.map(j => col("embedding").getItem(j)): _*).as("embedding"),
          (col("label") + lit(i * 1000)).as("label"))
      }
    }
    val scaled = replicas.reduce(_.unionByName(_))
    scaled.repartition(32).write.mode("overwrite").parquet(s"$outPath/embeddings.parquet")
    spark.read.parquet(s"$outPath/embeddings.parquet").count()
  }

  /** Queries whose only input is the events table (eligible for the
    * synthetic 10× event stream). */
  val eventsOnly: Seq[String] = Seq(
    "q_asof_join", "q_asof_forward", "q_range_join", "q_event_window",
    "q_event_sliding", "q_event_join", "q_event_funnel", "q_event_funnel_gap",
    "q_event_retention", "q_sessionize", "q_stream_dedup", "q_pivot",
    "q_rolling_range", "q_asof_tolerance", "q_event_anomaly",
    "q_attribution", "q_group_percentiles", "q_event_twap", "q_event_wow",
    "q_event_transitions", "q_event_debounce", "q_event_dau",
    "q_growth_accounting")

  /** Replicate sf events `copies`× with fresh event ids and DISJOINT user
    * spaces per replica: per-user operators (as-of, funnel, sessionize,
    * retention) see 10× users with unchanged per-user history — exactly
    * how fresh traffic scales — and time-window aggregates see 10× rows
    * per window. Timestamps are untouched (a shifted clock would change
    * window counts, not scale them). */
  def buildScaledEvents(spark: SparkSession, srcDir: String, outPath: String,
                        copies: Int): Long = {
    val ev = spark.read.parquet(s"$srcDir/events.parquet")
    val idStride = 10000000L
    val userStride = 1000000L
    val replicas = (0 until copies).map { i =>
      if (i == 0) ev
      else ev.select(
        (col("event_id") + lit(i * idStride)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i * userStride)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    val scaled = replicas.reduce(_.unionByName(_))
    scaled.repartition(32).write.mode("overwrite").parquet(s"$outPath/events.parquet")
    spark.read.parquet(s"$outPath/events.parquet").count()
  }

  /** Best of `runs` timings; `prep` runs UNTIMED before each run — the
    * call sites pass the ballast drop so every timing reads the plan with
    * cold caches, not this JVM's heap history (operators that materialize
    * their result would otherwise make later runs cache-scan reads and
    * later QUERIES GC-pressure measurements — the exact noise that
    * flagged q_text_quality 12.1x on the x10 corpus vs 5.8x isolated). */
  private def bestOf(runs: Int, prep: () => Unit = () => ())(body: => Unit): Double =
    (0 until runs).map { _ =>
      prep()
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min

  /** Force FULL materialization of every output column. `count()` (the
    * Bench action, kept there for round-over-round comparability) lets
    * Catalyst prune computed projections and eliminate unique-key joins —
    * a per-row map gate times as a bare scan. The noop sink computes the
    * real operator, which is what a scaling exponent must measure. */
  private def materialize(df: org.apache.spark.sql.DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val cpus = BenchUtil.cpus
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () } // JVM warmup
    val dropBallast: () => Unit = () => BenchUtil.dropBallast(spark)

    val sfs = Seq("0.001", "0.01", "0.1")
    val names = SparkEntry.queries.keys.toSeq.sorted
    val sfTimes: Map[String, Map[String, Double]] = names.map { name =>
      val fn = SparkEntry.queries(name)
      name -> sfs.map { sf =>
        val t = try bestOf(runs, dropBallast)(materialize(fn(spark, s"/root/testdata/sf$sf")))
                catch { case _: Throwable => -1.0 }
        sf -> t
      }.toMap
    }.toMap

    // the 3-SF sweep leaves cached frames (localCheckpoint/cache inside
    // operators) piled up in this JVM; the x10 section would then time GC
    // pressure instead of plans (r11: q_dedup_minhash measured 20s here vs
    // 1.0s in a fresh JVM on the SAME scaled corpus). Drop the ballast
    // before the section that feeds the super-linearity flags.
    dropBallast()
    System.gc()

    // synthetic 10× corpora from sf0.1 (50k docs, 20k embeddings)
    val scaleDir = "target/scale10x"
    val nScaled = buildScaledDocs(spark, "/root/testdata/sf0.1", scaleDir, copies = 10)
    val nScaledEmb = buildScaledEmb(spark, "/root/testdata/sf0.1", scaleDir, copies = 10)
    val nScaledEv = buildScaledEvents(spark, "/root/testdata/sf0.1", scaleDir, copies = 10)
    System.err.println(
      s"scaled corpus: $nScaled docs, $nScaledEmb embeddings, $nScaledEv events at $scaleDir")
    val x10: Map[String, (Double, Double)] = (docOnly ++ embOnly ++ eventsOnly).map { name =>
      val fn = SparkEntry.queries(name)
      val t1 = sfTimes(name)("0.1")
      val t10 = try bestOf(runs, dropBallast)(materialize(fn(spark, scaleDir)))
                catch { case _: Throwable => -1.0 }
      name -> (t1, t10)
    }.toMap ++ {
      // semdedup with the 100 TB discipline: k scales with the corpus
      // (first 80 fixed centroids at 10× vs the gate's 8 at 1×), so cell
      // sizes — and the by-contract quadratic within them — stay constant
      val e10 = spark.read.parquet(s"$scaleDir/embeddings.parquet")
      val cents = e10.filter(col("vec_id") < 80)
        .select(col("vec_id").cast("int").as("c_id"),
          graft.operators.Similarity.asDouble(col("embedding")).as("c_vec"))
      val t10 = try bestOf(runs, dropBallast)(materialize(
          graft.operators.Similarity.semDedup(e10, cents, tau = 0.3)))
        catch { case _: Throwable => -1.0 }
      Map("q_semdedup" -> (sfTimes("q_semdedup")("0.1"), t10))
    }

    def fmt(v: Double) = f"$v%.3f"
    val sfJson = names.map { n =>
      val m = sfs.map(sf => s""""$sf":${fmt(sfTimes(n)(sf))}""").mkString(",")
      // slope over the last decade: log10(t(0.1)/t(0.01)); ≤1 is at-most-
      // linear, and fixed overhead biases it LOW at these sizes
      val (t2, t3) = (sfTimes(n)("0.01"), sfTimes(n)("0.1"))
      val slope = if (t2 > 0 && t3 > 0) math.log10(t3 / t2) else Double.NaN
      s""""$n":{$m,"slope_tail":${if (slope.isNaN) "null" else fmt(slope)}}"""
    }.mkString("{", ",", "}")
    val x10Names = docOnly ++ embOnly ++ eventsOnly :+ "q_semdedup"
    val x10Json = x10Names.map { n =>
      val (t1, t10) = x10(n)
      val ratio = if (t1 > 0 && t10 > 0) t10 / t1 else Double.NaN
      s""""$n":{"t_sf01":${fmt(t1)},"t_x10":${fmt(t10)},"ratio":${if (ratio.isNaN) "null" else fmt(ratio)}}"""
    }.mkString("{", ",", "}")
    val out =
      s"""{"metric":"scale_trend","unit":"sec","runs":$runs,"cpus":$cpus,
         |"scaled_docs":$nScaled,"scaled_emb":$nScaledEmb,"scaled_events":$nScaledEv,"sf_times":$sfJson,"x10":$x10Json}""".stripMargin.replace("\n", "")
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_SCALE.json"),
      (out + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // stdout: just the headline + any flagged query
    val flagged = x10Names.filter { n => val (t1, t10) = x10(n); t1 > 0 && t10 > 12 * t1 }
    println(s"""{"metric":"scale_trend","flagged":[${flagged.map("\"" + _ + "\"").mkString(",")}],"queries":${names.size},"x10_subset":${x10Names.size}}""")
    spark.stop()
  }
}
