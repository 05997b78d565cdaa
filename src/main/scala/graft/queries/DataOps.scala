package graft.queries

import graft.Tables
import graft.operators.{AsOfJoin, Bpe, Curation, Dedup, FuzzyJoin, Graph, Quantiles, Similarity, Skew, TextAnalysis, Web}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-data-pipeline + streaming-batch-equivalent queries (SURVEY §2.5/§2.6).
  *
  * Oracle-checked where DuckDB can express the same math; approximate /
  * hash-family-dependent operators (MinHash, SimHash, LSH, IVF) are
  * rows-only gates with deterministic output.
  */
object DataOps {

  // ---- dedup -------------------------------------------------------------

  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactGroups(Tables(spark, dir).documents, col("doc_id"), col("text"))

  /** EXACT set-similarity self-join at Jaccard ≥ 19/20 over document token
    * sets ([[graft.operators.Dedup.jaccardJoin]] — AllPairs prefix
    * filtering). The oracle is the NAIVE all-pairs cross-filter with the
    * same integer-rational threshold, so a green row proves the
    * prefix-blocked plan recalls every pair — 100% recall where MinHash
    * is probabilistic. */
  def qJaccardJoin(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardJoin(Tables(spark, dir).documents, "doc_id", "text",
      tNum = 19, tDen = 20)

  val qJaccardJoinSql: String =
    """WITH s AS (SELECT doc_id AS id,
      |             list_distinct(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
      |           FROM documents)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
      |  CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS BIGINT) AS uni,
      |  CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
      |    / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) AS jd
      |FROM s a JOIN s b ON a.id < b.id
      |WHERE 20 * len(list_intersect(a.t, b.t))
      |      >= 19 * (len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)))""".stripMargin

  /** [[qJaccardJoin]] on a NATURAL-vocabulary corpus. The raw fixture is
    * 31-word soup — every document shares tokens with every other, so the
    * TRUE pair set is quadratic and the gate's cost measures the answer's
    * size, not the plan (documented near-worst-case). This companion
    * derives a realistic shape: each consecutive doc pair gets a private
    * vocabulary (tokens salted with doc_id div 2) plus a 4-stopword global
    * tail — a large power-law-ish vocabulary where prefix filtering prunes
    * hard, candidate buckets stay tiny (each private token appears in ≤2
    * docs, so the maxBucket cap is never binding), and the true pair set
    * is LINEAR in corpus size. Same full-recall naive oracle. */
  def qJaccardJoinNatural(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq("the", "a", "join", "data")
    val derived = Tables(spark, dir).documents
      .withColumn("grp", expr("doc_id div 2"))
      .select(col("doc_id"),
        array_join(transform(split(trim(lower(col("text"))), "\\s+"),
          t => when(t.isin(stop: _*), t)
            .otherwise(concat(t, lit("_g"), col("grp").cast("string")))), " ")
          .as("text"))
    Dedup.jaccardJoin(derived, "doc_id", "text", tNum = 1, tDen = 2)
      .orderBy(col("id_a"), col("id_b"))
  }

  val qJaccardJoinNaturalSql: String =
    """WITH d AS (SELECT doc_id AS id, doc_id // 2 AS grp,
      |             regexp_split_to_array(trim(lower(text)), '\s+') AS toks
      |           FROM documents),
      |s AS (SELECT id, list_distinct(list_transform(toks,
      |        t -> CASE WHEN t IN ('the','a','join','data') THEN t
      |                  ELSE t || '_g' || CAST(grp AS VARCHAR) END)) AS t
      |      FROM d)
      |SELECT a.id AS id_a, b.id AS id_b,
      |  CAST(len(list_intersect(a.t, b.t)) AS BIGINT) AS inter,
      |  CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS BIGINT) AS uni,
      |  CAST(len(list_intersect(a.t, b.t)) AS DOUBLE)
      |    / CAST(len(a.t) + len(b.t) - len(list_intersect(a.t, b.t)) AS DOUBLE) AS jd
      |FROM s a JOIN s b ON a.id < b.id
      |WHERE 2 * len(list_intersect(a.t, b.t))
      |      >= len(a.t) + len(b.t) - len(list_intersect(a.t, b.t))
      |ORDER BY id_a, id_b""".stripMargin

  /** Within-doc repeated-line removal ([[TextAnalysis.dedupLines]] — the
    * C4 per-document line rule). The gate derives a 3-line page whose
    * first and last lines repeat (the nav-bar shape) and asserts the
    * dedup keeps first occurrences in order — fingerprinted so the whole
    * reconstructed text is compared, not just counts. */
  def qLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val derived = Tables(spark, dir).documents
      .select(col("doc_id"), concat_ws("\n",
        substring(col("text"), 1, 40), col("text"),
        substring(col("text"), 1, 40)).as("t"))
    derived.select(col("doc_id"),
      size(split(col("t"), "\n")).cast("long").as("lines_before"),
      TextAnalysis.dedupLines(col("t")).as("dd"))
      .select(col("doc_id"), col("lines_before"),
        size(split(col("dd"), "\n")).cast("long").as("lines_after"),
        md5(col("dd").cast("binary")).as("fp"))
  }

  val qLineDedupSql: String =
    """WITH d0 AS (SELECT doc_id,
      |    substr(text, 1, 40) || chr(10) || text || chr(10)
      |      || substr(text, 1, 40) AS t
      |  FROM documents),
      |d1 AS (SELECT doc_id, string_split(t, chr(10)) AS l FROM d0),
      |d2 AS (SELECT doc_id, CAST(len(l) AS BIGINT) AS lines_before,
      |    array_to_string(
      |      list_filter(l, (x, i) -> list_position(l, x) = i), chr(10)) AS dd
      |  FROM d1)
      |SELECT doc_id, lines_before,
      |  CAST(len(string_split(dd, chr(10))) AS BIGINT) AS lines_after,
      |  md5(dd) AS fp
      |FROM d2""".stripMargin

  /** Edit-distance-1 similarity self-join on supplier names
    * ([[graft.operators.FuzzyJoin]] — FastSS deletion-neighborhood
    * blocking). The oracle is the NAIVE all-pairs cross-filter, so a green
    * row proves the blocked equi-join plan recalls every pair (the
    * deletion-neighborhood completeness theorem at d=1) — on name-shaped
    * data where the maxBucket skew cap is non-binding (bucket sizes ≈
    * digit-neighborhood density ≈ 12; the binding-cap behavior is
    * spec-gated on a fixture). */
  def qEditdistJoin(spark: SparkSession, dir: String): DataFrame =
    FuzzyJoin.editDistancePairs(
      Tables(spark, dir).supplier, "s_suppkey", "s_name")

  val qEditdistJoinSql: String =
    """WITH s AS (SELECT s_name AS nm, min(s_suppkey) AS id
      |           FROM supplier GROUP BY 1)
      |SELECT a.id AS id_a, b.id AS id_b, a.nm AS s_a, b.nm AS s_b,
      |       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
      |FROM s a JOIN s b ON a.id < b.id
      |WHERE levenshtein(a.nm, b.nm) <= 1""".stripMargin

  val qDedupExactSql: String =
    """SELECT md5(text) AS fp, min(doc_id) AS keeper, count(*) AS n
      |FROM documents GROUP BY md5(text)""".stripMargin

  /** Incremental exact dedup: a "new batch" (doc_id % 3 ≠ 0) deduped
    * against a persisted fingerprint index of the "existing corpus"
    * (doc_id % 3 = 0), bucketed on fp so the corpus side of the anti-join
    * never exchanges — the daily-ingest discipline at 100 TB, where the
    * raw corpus is never rescanned. The oracle states the same thing in
    * terms of text equality (md5 is injective modulo 2^-128 collisions). */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val existing = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val idx = GateIndex.gatePrefix(spark, "graft_fp_gate_idx", dir)
    if (!spark.catalog.tableExists(idx)) {
      dropGateTable(spark, idx)
      Dedup.buildFingerprintIndex(existing, idx, buckets = 8,
        idCol = "doc_id", key = col("text"))
    }
    Dedup.dedupAgainstIndex(batch, idx,
        idCol = "doc_id", key = col("text"))
      .select(col("doc_id"))
  }

  val qDedupIncrementalSql: String =
    """WITH b AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0)
      |SELECT min(doc_id) AS doc_id FROM b
      |WHERE text NOT IN (SELECT text FROM documents WHERE doc_id % 3 = 0)
      |GROUP BY text""".stripMargin

  /** Incremental NEAR-dup: verified cross pairs between a new batch
    * (doc_id % 3 ≠ 0) and a MinHash-indexed corpus (doc_id % 3 = 0).
    * Oracle-checked as a FULL-RECALL equality, same argument as
    * [[qDedupMinhash]]: DuckDB computes the exhaustive cross Jaccard pair
    * set, every true pair on this fixture has j ≥ 0.9 (word soup shares
    * nothing by chance), so the LSH probe must find all of them and the
    * verified Jaccards must be bit-identical exact set math. */
  def qDedupMinhashInc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val existing = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val prefix = GateIndex.gatePrefix(spark, "graft_mh_gate_idx", dir)
    if (!spark.catalog.tableExists(s"${prefix}_sets")) {
      dropGateTable(spark, s"${prefix}_bands")
      dropGateTable(spark, s"${prefix}_sets")
      Dedup.buildMinhashIndex(existing, prefix, buckets = 8,
        idCol = "doc_id", textCol = "text")
    }
    Dedup.minhashPairsAgainstIndex(batch, prefix,
        threshold = 0.5, idCol = "doc_id", textCol = "text")
      .orderBy(col("bid"), col("cid"))
  }

  val qDedupMinhashIncSql: String =
    """WITH t AS MATERIALIZED (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
      |s AS MATERIALIZED (SELECT doc_id,
      |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |             ELSE list_distinct(list_transform(range(1, len(toks) - 1),
      |                    i -> array_to_string(toks[i:i+2], ' '))) END AS sh
      |      FROM t),
      |bb AS (SELECT doc_id, sh FROM s WHERE doc_id % 3 <> 0),
      |ee AS (SELECT doc_id, sh FROM s WHERE doc_id % 3 = 0),
      |ij AS MATERIALIZED (SELECT bb.doc_id AS bid, ee.doc_id AS cid,
      |        len(list_intersect(bb.sh, ee.sh)) AS i, len(bb.sh) + len(ee.sh) AS su
      |       FROM bb CROSS JOIN ee)
      |SELECT bid, cid, CAST(i AS DOUBLE) / CAST(su - i AS DOUBLE) AS jaccard
      |FROM ij WHERE CAST(i AS DOUBLE) / CAST(su - i AS DOUBLE) >= 0.5
      |ORDER BY bid, cid""".stripMargin

  /** Exact token-set Jaccard over id-block-bounded pairs (equi-keyed
    * self-join — the blocked shape that scales; discovery at scale goes
    * through q_dedup_minhash instead). */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    // token sets hashed+sorted once per row; the per-pair jaccard is a
    // native long merge walk (same value as string-set jaccard)
    val d = Tables(spark, dir).documents
      .select(col("doc_id"), floor(col("doc_id") / 200).as("blk"),
        TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("blk"),
        graft.plans.NativeSets.hashedSet(col("toks"), 1).as("hs"))
    val a = d.select(col("blk"), col("doc_id").as("a"), col("hs").as("ta"))
    val b = d.select(col("blk"), col("doc_id").as("b"), col("hs").as("tb"))
    a.join(b, "blk").filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        graft.plans.NativeSets.jaccardSorted(col("ta"), col("tb")).as("jac"))
      .filter(col("jac") >= 0.7)
  }

  val qNgramJaccardSql: String =
    """WITH d AS (
      |  SELECT doc_id, CAST(floor(doc_id / 200) AS BIGINT) AS blk,
      |    list_distinct(string_split(text, ' ')) AS toks
      |  FROM documents)
      |SELECT a.doc_id AS a, b.doc_id AS b,
      |  CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |  CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) AS jac
      |FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
      |      CAST(len(list_distinct(a.toks || b.toks)) AS DOUBLE) >= 0.7""".stripMargin

  /** MinHash+LSH verified pairs. Oracle-checked as a FULL-RECALL property:
    * the DuckDB oracle computes the exhaustive 3-shingle Jaccard pair set at
    * the same threshold, so the gate asserts the LSH path (16 bands × 4
    * rows, bucket cap 64) finds EVERY true pair on this corpus and that the
    * verified Jaccard values are bit-identical to the exact set math. A
    * drift in the hash family, banding, capping, or verify join shows up as
    * a row or hash mismatch — this was a rows-only gate through r8. */
  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashPairs(Tables(spark, dir).documents, "doc_id", "text",
        threshold = 0.5, shingleN = 3)
      .orderBy(col("a"), col("b"))

  /** Exhaustive 3-shingle Jaccard pairs at the minhash gate's threshold —
    * shared CTE prefix for the q_dedup_minhash / q_dedup_corpus oracles.
    * MATERIALIZED: `pj` feeds a recursive closure in the corpus oracle and
    * DuckDB would otherwise inline the O(n²) intersect scan per reference. */
  private val exactPairCte: String =
    """t AS MATERIALIZED (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
      |s AS MATERIALIZED (SELECT doc_id,
      |        CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |             ELSE list_distinct(list_transform(range(1, len(toks) - 1),
      |                    i -> array_to_string(toks[i:i+2], ' '))) END AS sh
      |      FROM t),
      |ij AS MATERIALIZED (SELECT a.doc_id AS a, b.doc_id AS b,
      |        len(list_intersect(a.sh, b.sh)) AS i, len(a.sh) + len(b.sh) AS su
      |       FROM s a JOIN s b ON a.doc_id < b.doc_id),
      |pj AS MATERIALIZED (SELECT a, b, CAST(i AS DOUBLE) / CAST(su - i AS DOUBLE) AS jaccard
      |       FROM ij WHERE CAST(i AS DOUBLE) / CAST(su - i AS DOUBLE) >= 0.5)""".stripMargin

  val qDedupMinhashSql: String =
    s"WITH $exactPairCte\nSELECT a, b, jaccard FROM pj ORDER BY a, b"

  /** End-to-end near-dup removal: LSH pairs → min-id label propagation →
    * corpus minus non-representative members. Oracle-checked end to end:
    * the DuckDB oracle rebuilds the exact pair set (full recall holds, see
    * [[qDedupMinhash]]) and resolves connected components independently via
    * a recursive-CTE transitive closure, so the distributed pointer-doubling
    * propagation in [[Dedup.representatives]] is gated against a from-first-
    * principles reimplementation — rows-only through r8. */
  def qDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
    val reps = Dedup.representatives(pairs)
    docs.join(reps, docs("doc_id") === reps("id"), "left")
      .filter(col("id").isNull || col("rep") === col("doc_id"))
      .select(docs("doc_id"))
      .orderBy(col("doc_id"))
  }

  val qDedupCorpusSql: String =
    s"""WITH RECURSIVE $exactPairCte,
       |edges AS (SELECT a, b FROM pj UNION SELECT b AS a, a AS b FROM pj),
       |reach(id, r) AS (
       |  SELECT a AS id, b AS r FROM edges
       |  UNION
       |  SELECT rc.id, e.b AS r FROM reach rc JOIN edges e ON rc.r = e.a),
       |rep AS (SELECT id, least(id, min(r)) AS rep FROM reach GROUP BY id)
       |SELECT d.doc_id FROM documents d LEFT JOIN rep ON d.doc_id = rep.id
       |WHERE rep.id IS NULL OR rep.rep = d.doc_id
       |ORDER BY doc_id""".stripMargin

  /** Quality-aware near-dup removal — the RefinedWeb/CCNet keep-longest
    * policy: within each near-dup cluster keep the member with the MOST
    * content (n_chars; ties to the smaller id) instead of [[qDedupCorpus]]'s
    * min-id representative — dedup should discard the truncated copies,
    * not the canonical one. Same pairs → components machinery; the
    * per-cluster argmax is ONE struct-max aggregation (quality packed
    * with the negated id so max() is the deterministic argmax — the
    * groupwise-max discipline, no per-cluster window, no re-join). */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text", threshold = 0.5)
    val reps = Dedup.representatives(pairs)
    docs.join(reps, docs("doc_id") === reps("id"), "left")
      .select(col("doc_id"), coalesce(col("rep"), col("doc_id")).as("comp"),
        col("n_chars"))
      .groupBy(col("comp"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("negid"))).as("m"))
      .select((-col("m.negid")).as("doc_id"), col("m.n_chars").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val qDedupKeepBestSql: String =
    s"""WITH RECURSIVE $exactPairCte,
       |edges AS (SELECT a, b FROM pj UNION SELECT b AS a, a AS b FROM pj),
       |reach(id, r) AS (
       |  SELECT a AS id, b AS r FROM edges
       |  UNION
       |  SELECT rc.id, e.b AS r FROM reach rc JOIN edges e ON rc.r = e.a),
       |rep AS (SELECT id, least(id, min(r)) AS rep FROM reach GROUP BY id),
       |mem AS (SELECT d.doc_id, COALESCE(rep.rep, d.doc_id) AS comp, d.n_chars
       |        FROM documents d LEFT JOIN rep ON d.doc_id = rep.id)
       |SELECT doc_id, n_chars FROM (
       |  SELECT doc_id, n_chars,
       |    row_number() OVER (PARTITION BY comp ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM mem) WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** SimHash near-dup pairs — rows-only gate (xxhash64 token hashes have
    * no DuckDB equivalent; the construction + blocking machinery is
    * oracle-checked by [[qDedupSimhashExact]] instead). */
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashPairs(Tables(spark, dir).documents, "doc_id", "text",
        maxHamming = 8)
      .orderBy(col("a"), col("b"))

  /** SimHash with a PORTABLE signature, fully oracle-checked (the
    * q_ann_ivf_exact pattern): per-token 60-bit values come from md5 hex —
    * which DuckDB computes bit-identically — instead of xxhash64; votes and
    * banding are otherwise the real simhash shape, and maxHamming = 3 over
    * 4×15-bit bands makes the blocking COMPLETE by pigeonhole wherever the
    * bucket cap is slack (true at the driver's sf0.01). The DuckDB oracle
    * recomputes every signature from scratch AND replicates the banding +
    * maxBucket cap + verify, so the whole pipeline is equality-gated at
    * every scale, cap binding or not. */
  def qDedupSimhashExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tk"))
    // 60-bit token value: 15 hex chars of md5 (fits signed 64-bit exactly)
    val v = tok.select(col("doc_id"),
      conv(substring(md5(col("tk")), 1, 15), 16, 10).cast("long").as("v"))
    val votes = v.groupBy(col("doc_id")).agg(
      (0 until 60).map(b =>
        sum(when(shiftright(col("v"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"s$b")).head,
      (1 until 60).map(b =>
        sum(when(shiftright(col("v"), b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L)).as(s"s$b")): _*)
    val sig = votes.select(col("doc_id").as("id"),
      (0 until 60).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
        .reduce(_ + _).as("sim"))
    // maxBucket 512: comfortably above the sf0.01 max band-bucket (~160, so
    // the completeness proof holds where the oracle runs) while hard-bounding
    // the pair blowup on big corpora, whose shared-vocabulary signatures
    // cluster heavily (measured: the largest 15-bit band bucket is ~1/3 of
    // the corpus at ANY size — this gate is a correctness instrument; the
    // scale path is q_dedup_simhash with 64-bucket caps)
    Dedup.simhashPairsFromSig(sig, maxHamming = 3, maxBucket = 512, bandBits = 15)
      .select(col("a"), col("b"), col("dist").cast("bigint").as("dist"))
      .orderBy(col("a"), col("b"))
  }

  val qDedupSimhashExactSql: String = {
    val hexVal = (1 to 15).map { p =>
      val w = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(h, $p, 1)) - 1) * $w"
    }.mkString(" + ")
    val sums = (0 until 60).map(b =>
      s"SUM(CASE WHEN (v >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b").mkString(",\n    ")
    val sigExpr = (0 until 60).map(b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    // the oracle replicates the ENTIRE pipeline including the maxBucket
    // skew cap (rank members per band-bucket by id, keep the first 512),
    // so the gate is exact at EVERY scale — not just where the cap is
    // slack (same pattern as the fixed-plane LSH oracle)
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(trim(text), ' '))) AS tk
       |  FROM documents),
       |hx AS (SELECT doc_id, substring(md5(tk), 1, 15) AS h FROM tok),
       |vals AS (SELECT doc_id, $hexVal AS v FROM hx),
       |votes AS (SELECT doc_id,
       |    $sums
       |  FROM vals GROUP BY doc_id),
       |sig AS (SELECT doc_id, $sigExpr AS sim FROM votes),
       |m AS (SELECT doc_id, sim, b.band, (sim >> (15 * b.band)) & 32767 AS bucket
       |      FROM sig, (SELECT unnest([0, 1, 2, 3]) AS band) b),
       |r AS (SELECT doc_id, sim, band, bucket,
       |        row_number() OVER (PARTITION BY band, bucket ORDER BY doc_id) AS rn
       |      FROM m)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
       |  CAST(bit_count(xor(x.sim, y.sim)) AS BIGINT) AS dist
       |FROM r x JOIN r y ON x.band = y.band AND x.bucket = y.bucket AND x.doc_id < y.doc_id
       |WHERE x.rn <= 512 AND y.rn <= 512
       |  AND bit_count(xor(x.sim, y.sim)) <= 3
       |ORDER BY a, b""".stripMargin
  }

  // ---- text analysis -----------------------------------------------------

  def qTextTokens(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).cast("bigint").as("n_tokens_ws"),
      TextAnalysis.tokenCountBpe(col("text")).cast("bigint").as("n_tokens_bpe"),
      length(col("text")).cast("bigint").as("len_chars"))

  val qTextTokensSql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_tokens_ws,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_tokens_bpe,
      |  length(text) AS len_chars
      |FROM documents""".stripMargin

  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).cast("bigint").as("n_words"),
      TextAnalysis.avgWordLen(col("text")).as("avg_word_len"),
      TextAnalysis.qualityScore(col("text")).as("score"))

  val qTextQualitySql: String =
    """SELECT doc_id,
      |  len(string_split(text, ' ')) AS n_words,
      |  CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
      |    CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_word_len,
      |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
      |  + (CASE WHEN (CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
      |       CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 3.0 AND 10.0
      |      THEN 1.0 ELSE 0.5 END) * 0.3
      |  + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) /
      |       greatest(CAST(length(text) AS DOUBLE), 1.0)) * 5.0) * 0.3 AS score
      |FROM documents""".stripMargin

  /** Character-diversity quality signals, one scan-stage pass per doc (no
    * char explode — at 100 TB that's a 100× row multiplier into a shuffle;
    * here nothing leaves the row but four longs). The histogram stats are
    * exact integers; Simpson's index and the top-char fraction are each a
    * single IEEE division (+ one subtraction), so the DuckDB oracle — which
    * has no one-pass histogram and must explode characters — reproduces
    * them bit-for-bit from the same longs. */
  def qCharDiversity(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), TextAnalysis.charStats(col("text")).as("cs"))
      .select(col("doc_id"),
        col("cs.n_cp").as("n_cp"),
        col("cs.distinct_cp").as("distinct_cp"),
        col("cs.top_cp_n").as("top_cp_n"),
        col("cs.sumsq").as("sumsq"),
        when(col("cs.n_cp") === 0, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("cs.sumsq").cast("double") /
            (col("cs.n_cp").cast("double") * col("cs.n_cp").cast("double")))
          .as("simpson"),
        when(col("cs.n_cp") === 0, lit(null).cast("double"))
          .otherwise(col("cs.top_cp_n").cast("double") / col("cs.n_cp").cast("double"))
          .as("top_frac"))

  val qCharDiversitySql: String =
    """WITH cnt AS (
      |  SELECT doc_id, ch, count(*)::BIGINT AS k
      |  FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch FROM documents)
      |  GROUP BY doc_id, ch
      |), h AS (
      |  SELECT doc_id, sum(k)::BIGINT AS n_cp, count(*)::BIGINT AS distinct_cp,
      |         max(k)::BIGINT AS top_cp_n, sum(k * k)::BIGINT AS sumsq
      |  FROM cnt GROUP BY doc_id
      |)
      |SELECT doc_id, n_cp, distinct_cp, top_cp_n, sumsq,
      |  CASE WHEN n_cp = 0 THEN NULL
      |       ELSE 1.0 - CAST(sumsq AS DOUBLE) /
      |            (CAST(n_cp AS DOUBLE) * CAST(n_cp AS DOUBLE)) END AS simpson,
      |  CASE WHEN n_cp = 0 THEN NULL
      |       ELSE CAST(top_cp_n AS DOUBLE) / CAST(n_cp AS DOUBLE) END AS top_frac
      |FROM h""".stripMargin

  /** Per-source quality curation: the best 20 documents per source by
    * quality score — "take the best N per domain", the selection pass a
    * mixture-building pipeline runs after scoring. Ranking is the bounded
    * TopKByScore heap (k pairs per (source × partition) shuffle, no
    * window over the scored corpus — the same scale argument as ANN
    * ranking); the score itself never leaves the plan, so the gate output
    * is float-free (source, doc_id, rnk) and the oracle's row_number
    * formulation matches exactly because both sides compute the same
    * IEEE score shapes (see [[qTextQuality]]). */
  def qBestPerSource(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("source"), col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("score"))
      .groupBy(col("source"))
      .agg(graft.plans.Native.topKByScore(col("score"), col("doc_id").cast("long"), 20).as("tk"))
      .select(col("source"), posexplode(col("tk")).as(Seq("pos", "e")))
      .select(col("source"), col("e.id").as("doc_id"),
        (col("pos") + 1).cast("bigint").as("rnk"))

  val qBestPerSourceSql: String =
    """WITH s AS (SELECT source, doc_id,
      |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
      |  + (CASE WHEN (CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
      |       CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 3.0 AND 10.0
      |      THEN 1.0 ELSE 0.5 END) * 0.3
      |  + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) /
      |       greatest(CAST(length(text) AS DOUBLE), 1.0)) * 5.0) * 0.3 AS score
      |  FROM documents)
      |SELECT source, doc_id, CAST(rnk AS BIGINT) AS rnk FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rnk
      |  FROM s) WHERE rnk <= 20""".stripMargin

  /** DSIR importance selection (Xie et al. 2023): the lexicographically
    * first source stands in for the trusted target sample; the 50 docs
    * from OTHER sources whose hashed unigram+bigram distribution best
    * matches it are selected. Integer-surrogate scoring (see
    * [[graft.operators.Curation.dsirSelect]]) keeps every stage — portable
    * md5 bucket hash, one-pass target/raw counts, bounded odds-contrast
    * ratio (fixed-shape IEEE ops, no ln), long-sum scoring,
    * (score DESC, id) ranking — bit-replicable in the oracle; the
    * paper's log estimator is spec-gated on fixtures. */
  def qDsirSelect(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val tgt = docs.agg(min(col("source")).as("tsrc"))
    Curation.dsirSelect(docs.crossJoin(broadcast(tgt)),
      col("source") === col("tsrc"), k = 50)
  }

  val qDsirSelectSql: String = {
    val hexVal = (1 to 15).map { p =>
      val w = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(h, $p, 1)) - 1) * $w"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, source = (SELECT min(source) FROM documents) AS is_t,
       |    string_split(trim(lower(text)), ' ') AS t FROM documents),
       |g AS (
       |  SELECT doc_id, is_t, unnest(t) AS g FROM toks
       |  UNION ALL
       |  SELECT doc_id, is_t, unnest(CASE WHEN len(t) >= 2
       |    THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
       |    ELSE [] END) AS g FROM toks),
       |hb AS (SELECT doc_id, is_t, ($hexVal) % 1024 AS b
       |  FROM (SELECT doc_id, is_t, substring(md5(g), 1, 15) AS h FROM g)),
       |bc AS (SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS t, count(*) AS r
       |  FROM hb GROUP BY b),
       |tot AS (SELECT sum(t) AS tt, sum(r) AS rr FROM bc),
       |ev AS (SELECT b,
       |    CAST(t + 1 AS DOUBLE) * CAST(rr + 1024 AS DOUBLE) AS tn,
       |    CAST(r + 1 AS DOUBLE) * CAST(tt + 1024 AS DOUBLE) AS rn
       |  FROM bc CROSS JOIN tot),
       |lr AS (SELECT b, CAST(floor(20000.0 * tn / (tn + rn)) AS BIGINT) - 10000 AS lr
       |  FROM ev),
       |sc AS (SELECT doc_id, sum(lr) AS score
       |  FROM hb JOIN lr USING (b) WHERE NOT is_t GROUP BY doc_id)
       |SELECT doc_id, CAST(score AS BIGINT) AS score FROM (
       |  SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rn
       |  FROM sc) WHERE rn <= 50""".stripMargin
  }

  /** Quality-classifier gate: ONE gradient-descent step of the CCNet-style
    * logistic regression (target = lexicographically first source), then
    * margin scores for every candidate doc. From w=0, sigmoid(0)=1/2
    * makes every product a dyadic rational — the whole pipeline (hashed
    * features, per-doc counts, gradient, update, scoring) is exact in
    * doubles and order-independent, so the gate is a FULL oracle through
    * the REAL trainer code path; multi-iteration training (exp enters) is
    * spec-gated on fixtures. */
  def qQualityLr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val tgt = docs.agg(min(col("source")).as("tsrc"))
    val flagged = docs.crossJoin(broadcast(tgt))
    val w = Curation.trainQualityLR(flagged, col("source") === col("tsrc"),
      iters = 1, lr = 0.5)
    Curation.scoreQualityLR(flagged.filter(col("source") =!= col("tsrc")), w)
  }

  val qQualityLrSql: String = {
    val hexVal = (1 to 15).map { p =>
      val w = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(h, $p, 1)) - 1) * $w"
    }.mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, source = (SELECT min(source) FROM documents) AS is_t,
       |    string_split(trim(lower(text)), ' ') AS t FROM documents),
       |g AS (
       |  SELECT doc_id, is_t, unnest(t) AS g FROM toks
       |  UNION ALL
       |  SELECT doc_id, is_t, unnest(CASE WHEN len(t) >= 2
       |    THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
       |    ELSE [] END) AS g FROM toks),
       |hb AS (SELECT doc_id, is_t, ($hexVal) % 1024 AS b
       |  FROM (SELECT doc_id, is_t, substring(md5(g), 1, 15) AS h FROM g)),
       |feat AS (SELECT doc_id, is_t, b, count(*) AS c FROM hb GROUP BY 1, 2, 3),
       |grad AS (SELECT b,
       |    sum((CAST(0.5 AS DOUBLE) - CASE WHEN is_t THEN 1.0 ELSE 0.0 END) * c) AS gb
       |  FROM feat GROUP BY b),
       |gbias AS (SELECT sum(CAST(0.5 AS DOUBLE) - CASE WHEN is_t THEN 1.0 ELSE 0.0 END) AS g0
       |  FROM (SELECT DISTINCT doc_id, is_t FROM feat)),
       |w AS (SELECT b, CAST(-0.5 AS DOUBLE) * gb AS w FROM grad)
       |SELECT f.doc_id,
       |  sum(f.c * w.w) + (SELECT CAST(-0.5 AS DOUBLE) * g0 FROM gbias) AS score
       |FROM feat f JOIN w USING (b) WHERE NOT f.is_t
       |GROUP BY f.doc_id""".stripMargin
  }

  /** Corpus-overlap estimate between the even- and odd-id halves of the
    * documents table via bottom-k (KMV) shingle sketches — the
    * corpus-granularity contamination instrument. The sketch aggregate
    * keeps ≤ k distinct hashes per buffer (no corpus-wide distinct, no
    * global sort); the oracle replicates the sketches with
    * row_number-over-distinct-hash and the same set algebra, bit-exact
    * including the single-division estimate. */
  def qCorpusOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    Curation.corpusOverlap(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0),
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), k = 512)
  }

  /** Incremental overlap: the even half's sketch is PERSISTED (a few KB)
    * and the odd half probes it — the corpus is never rescanned. Shares
    * [[qCorpusOverlapSql]]: the persisted sketch changes the plan, never
    * the answer (the q_ann_ivf_indexed contract). */
  def qCorpusOverlapInc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), "graft_overlap_sketch").toString
    Curation.buildOverlapSketch(
      docs.filter(pmod(col("doc_id"), lit(2)) === 0), p, k = 512)
    Curation.overlapAgainstSketch(
      docs.filter(pmod(col("doc_id"), lit(2)) === 1), p, k = 512)
  }

  val qCorpusOverlapSql: String = {
    val hexVal = (1 to 15).map { p =>
      val w = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(h, $p, 1)) - 1) * $w"
    }.mkString(" + ")
    s"""WITH toks AS (SELECT doc_id % 2 AS c,
       |    string_split(trim(lower(text)), ' ') AS t FROM documents),
       |g AS (SELECT c, unnest(CASE WHEN len(t) >= 3
       |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |    ELSE [] END) AS g FROM toks),
       |hd AS (SELECT DISTINCT c, ($hexVal) AS h
       |  FROM (SELECT c, substring(md5(g), 1, 15) AS h FROM g)),
       |rk AS (SELECT c, h, row_number() OVER (PARTITION BY c ORDER BY h) AS rn FROM hd),
       |ska AS (SELECT h FROM rk WHERE c = 0 AND rn <= 512),
       |skb AS (SELECT h FROM rk WHERE c = 1 AND rn <= 512),
       |u AS (SELECT h FROM (
       |  SELECT h, row_number() OVER (ORDER BY h) AS rn
       |  FROM (SELECT h FROM ska UNION SELECT h FROM skb)) WHERE rn <= 512),
       |nn AS (SELECT count(*) AS n_union,
       |    sum(CASE WHEN h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)
       |        THEN 1 ELSE 0 END) AS n_both FROM u)
       |SELECT CAST(n_union AS BIGINT) AS n_union, CAST(n_both AS BIGINT) AS n_both,
       |  CAST(n_both AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard_est FROM nn""".stripMargin
  }

  /** Gopher-style document filter rules (Rae et al. 2021, public paper —
    * the standard pretraining quality gate): word-count bounds, mean word
    * length bounds, minimum stopword presence, symbol-to-word ratio. Pure
    * Column expressions in one codegen span; integer counts and rational
    * divisions keep the oracle bit-exact. Thresholds follow the paper
    * (50..100k words, mean length 3..10, ≥2 of 8 stopwords, <0.1
    * hash/ellipsis per word). */
  def qGopherRules(spark: SparkSession, dir: String): DataFrame = {
    val stop8 = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val toks = TextAnalysis.tokens(lower(col("text")))
    val nWords = size(toks).cast("bigint")
    val meanWl = length(regexp_replace(col("text"), "\\s+", "")).cast("double") /
      nWords.cast("double")
    val stopHits = stop8.map(w => when(array_contains(toks, w), 1L).otherwise(0L))
      .reduce(_ + _)
    val symbols = size(regexp_extract_all(col("text"), lit("#|\\.\\.\\."), lit(0))).cast("bigint")
    val symbolRatio = symbols.cast("double") / nWords.cast("double")
    Tables(spark, dir).documents.select(
      col("doc_id"),
      nWords.as("n_words"),
      stopHits.as("stop_hits"),
      symbolRatio.as("symbol_ratio"),
      (nWords.between(50L, 100000L) && meanWl.between(3.0, 10.0) &&
        stopHits >= 2L && symbolRatio < 0.1).as("gopher_pass"))
  }

  val qGopherRulesSql: String = {
    val stop8 = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val hits = stop8.map(w =>
      s"(CASE WHEN list_contains(string_split(lower(text), ' '), '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text,
       |  len(string_split(lower(text), ' ')) AS n_words,
       |  CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) /
       |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS mean_wl,
       |  CAST($hits AS BIGINT) AS stop_hits,
       |  CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS DOUBLE) /
       |    CAST(len(string_split(lower(text), ' ')) AS DOUBLE) AS symbol_ratio
       |FROM documents)
       |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, stop_hits, symbol_ratio,
       |  (n_words BETWEEN 50 AND 100000 AND mean_wl BETWEEN 3.0 AND 10.0
       |   AND stop_hits >= 2 AND symbol_ratio < 0.1) AS gopher_pass
       |FROM d""".stripMargin
  }

  /** Stopword-profile language ID, oracle-checked: the same hit-count
    * argmax with fixed precedence is expressed in SQL. */
  def qLangId(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"), col("lang").as("lang_tagged"),
      TextAnalysis.langId(col("text")).as("lang_pred"))

  val qLangIdSql: String = {
    def arr(l: String) = TextAnalysis.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
    val hits = TextAnalysis.langOrder.map(l =>
      s"len(list_intersect(toks, ${arr(l)})) AS h_$l").mkString(",\n    ")
    val best = TextAnalysis.langOrder.map(l => s"h_$l").mkString("greatest(", ", ", ")")
    val cases = TextAnalysis.langOrder.map(l =>
      s"WHEN best > 0 AND h_$l = best THEN '$l'").mkString("\n    ")
    s"""WITH t AS (
       |  SELECT doc_id, lang, list_distinct(string_split(lower(text), ' ')) AS toks
       |  FROM documents),
       |h AS (
       |  SELECT doc_id, lang,
       |    $hits
       |  FROM t),
       |b AS (SELECT *, $best AS best FROM h)
       |SELECT doc_id, lang AS lang_tagged,
       |  CASE
       |    $cases
       |    ELSE 'und' END AS lang_pred
       |FROM b""".stripMargin
  }

  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents.select(
      col("doc_id"),
      TextAnalysis.fingerprintSorted(col("text")).as("fp_sorted"))

  val qFingerprintSql: String =
    """SELECT doc_id,
      |  md5(array_to_string(list_sort(list_distinct(string_split(lower(text), ' '))), ' ')) AS fp_sorted
      |FROM documents""".stripMargin

  // ---- similarity --------------------------------------------------------

  private def dropGateTable(spark: SparkSession, name: String): Unit =
    GateIndex.dropGateTable(spark, name)


  private def queriesDf(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings.filter(col("vec_id") < 5)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))

  def qAnnTopk(spark: SparkSession, dir: String): DataFrame =
    Similarity.bruteTopK(Tables(spark, dir).embeddings,
        queriesDf(spark, dir), k = 10)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rnk").cast("bigint").as("rnk"))

  val qAnnTopkSql: String =
    """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
      |           FROM embeddings WHERE vec_id < 5),
      |scored AS (
      |  SELECT q.q_id, e.vec_id,
      |    list_dot_product(CAST(e.embedding AS DOUBLE[]), q.qv) /
      |    (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[]))) *
      |     sqrt(list_dot_product(q.qv, q.qv))) AS cos
      |  FROM embeddings e CROSS JOIN q)
      |SELECT q_id, vec_id, cos, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
      |  FROM scored) WHERE rnk <= 10""".stripMargin

  /** Same-label blocked exact cosine pairs (deterministic blocking). */
  def qEmbNeardup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
      .select(col("label"), col("vec_id"), Similarity.asDouble(col("embedding")).as("v"))
    val a = e.select(col("label"), col("vec_id").as("a"), col("v").as("va"))
    val b = e.select(col("label"), col("vec_id").as("b"), col("v").as("vb"))
    a.join(b, "label").filter(col("a") < col("b"))
      .select(col("a"), col("b"), Similarity.cosine(col("va"), col("vb")).as("cos"))
      .filter(col("cos") >= 0.35)
  }

  val qEmbNeardupSql: String =
    """WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT a.vec_id AS a, b.vec_id AS b,
      |  list_dot_product(a.v, b.v) /
      |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
      |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_dot_product(a.v, b.v) /
      |  (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35""".stripMargin

  /** SemDeDup over the embeddings table: cells from the first-8
    * embeddings as fixed centroids (deterministic AND SQL-expressible,
    * so the oracle replicates the assignment exactly), keep-first policy
    * at tau = 0.3. Output is float-free — (vec_id, cell) of kept rows —
    * and the cosine values that decide assignment and drops are the same
    * IEEE shapes on both sides (native CosineSim vs list_dot_product).
    * The maxCell=4096 anchor cap is mirrored in the oracle (arn ≤ 4096 on
    * the dropper side), so the gate stays exact even when a cell outgrows
    * the cap at larger SFs — same pattern as the simhash bucket cap. */
  def qSemDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        Similarity.asDouble(col("embedding")).as("c_vec"))
    Similarity.semDedup(e, cents, tau = 0.3)
  }

  val qSemDedupSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT vec_id AS c_id, v AS cv FROM e WHERE vec_id < 8),
      |scored AS (SELECT e.vec_id, e.v, c.c_id,
      |    list_dot_product(e.v, c.cv) /
      |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS d
      |  FROM e CROSS JOIN c),
      |assigned AS (SELECT vec_id, v, cell FROM (
      |  SELECT vec_id, v, c_id AS cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY d DESC, c_id) AS rn
      |  FROM scored) WHERE rn = 1),
      |anchors AS (SELECT vec_id, v, cell FROM (
      |  SELECT vec_id, v, cell,
      |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS arn
      |  FROM assigned) WHERE arn <= 4096),
      |drops AS (SELECT DISTINCT b.vec_id
      |  FROM anchors a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3)
      |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM assigned
      |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin

  /** Incremental SEMANTIC dedup: a batch (vec_id % 3 ≠ 0) deduped against
    * a persisted SemDeDup anchor index of the existing corpus
    * (vec_id % 3 = 0), then keep-first within the surviving batch — the
    * embedding sibling of [[qDedupIncremental]] / [[qDedupMinhashInc]].
    * Fixed first-8 centroids make every stage SQL-expressible, so the
    * whole two-phase pipeline (shared cell assignment, capped corpus
    * anchors, cross-drop, intra-batch keep-first with the same cap) is
    * equality-gated with the same IEEE cosine shapes as q_semdedup. */
  def qSemDedupInc(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        Similarity.asDouble(col("embedding")).as("c_vec"))
    val existing = e.filter(pmod(col("vec_id"), lit(3)) === 0)
    val batch = e.filter(pmod(col("vec_id"), lit(3)) =!= 0)
    val idx = GateIndex.gatePrefix(spark, "graft_sem_gate_idx", dir)
    if (!spark.catalog.tableExists(idx)) {
      dropGateTable(spark, idx)
      Similarity.buildSemDedupIndex(existing, cents, idx, buckets = 8)
    }
    Similarity.semDedupAgainstIndex(batch, cents, idx, tau = 0.3)
  }

  val qSemDedupIncSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT CAST(vec_id AS INT) AS c_id, v AS cv FROM e WHERE vec_id < 8),
      |asg AS (SELECT vec_id, v, cell FROM (
      |  SELECT e.vec_id, e.v, c.c_id AS cell,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |      c.c_id) AS rn
      |  FROM e CROSS JOIN c) WHERE rn = 1),
      |ex AS (SELECT vec_id, v, cell FROM (
      |  SELECT vec_id, v, cell,
      |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS arn
      |  FROM asg WHERE vec_id % 3 = 0) WHERE arn <= 4096),
      |bt AS (SELECT vec_id, v, cell FROM asg WHERE vec_id % 3 <> 0),
      |crossdrop AS (SELECT DISTINCT b.vec_id
      |  FROM bt b JOIN ex a ON a.cell = b.cell
      |  WHERE list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3),
      |fresh AS (SELECT * FROM bt WHERE vec_id NOT IN (SELECT vec_id FROM crossdrop)),
      |fa AS (SELECT vec_id, v, cell FROM (
      |  SELECT vec_id, v, cell,
      |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS arn
      |  FROM fresh) WHERE arn <= 4096),
      |drops AS (SELECT DISTINCT b.vec_id
      |  FROM fa a JOIN fresh b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  WHERE list_dot_product(a.v, b.v) /
      |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3)
      |SELECT vec_id, CAST(cell AS BIGINT) AS cell FROM fresh
      |WHERE vec_id NOT IN (SELECT vec_id FROM drops)""".stripMargin

  /** LSH-bucketed near-dup (approximate) — rows-only gate (SplitMix64
    * planes have no DuckDB equivalent; the banding/capping/verify pipeline
    * is oracle-checked by [[qEmbNeardupLshFixed]] instead). */
  def qEmbNeardupLsh(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairs(Tables(spark, dir).embeddings, threshold = 0.3)
      .orderBy(col("a"), col("b"))

  /** LSH near-dup with DATA-DERIVED hyperplanes (the first 16 embeddings),
    * fully oracle-checked: the DuckDB oracle recomputes the sign bits, the
    * 2×8-bit banding, the sorted bucket cap (row_number ≤ 128), the
    * in-bucket pair set, and the exact-cosine verify — so the entire LSH
    * pipeline except plane generation is equality-gated (q_ann_ivf_exact
    * pattern; this was a rows-only family through r8). */
  def qEmbNeardupLshFixed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val planes = e.filter(col("vec_id") < 16)
      .select(col("vec_id").cast("int").as("p_id"),
        Similarity.asDouble(col("embedding")).as("p_vec"))
    Similarity.lshNearDupPairsFixedPlanes(e, planes, nPlanes = 16, threshold = 0.3)
      .orderBy(col("a"), col("b"))
  }

  val qEmbNeardupLshFixedSql: String =
    """WITH e AS (SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT vec_id AS p_id, CAST(embedding AS DOUBLE[]) AS pv
      |      FROM embeddings WHERE vec_id < 16),
      |bits AS (SELECT e.id, p.p_id,
      |    CASE WHEN list_dot_product(e.v, p.pv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(p.pv, p.pv))) > 0
      |    THEN CAST(power(2, p.p_id) AS BIGINT) ELSE 0 END AS c
      |  FROM e CROSS JOIN p),
      |sig AS (SELECT id, SUM(c) AS sig FROM bits GROUP BY id),
      |m AS (SELECT 0 AS band, sig & 255 AS bucket, id FROM sig
      |      UNION ALL
      |      SELECT 1 AS band, (sig >> 8) & 255 AS bucket, id FROM sig),
      |r AS (SELECT band, bucket, id,
      |        row_number() OVER (PARTITION BY band, bucket ORDER BY id) AS rn
      |      FROM m),
      |cand AS (SELECT DISTINCT x.id AS a, y.id AS b
      |  FROM r x JOIN r y ON x.band = y.band AND x.bucket = y.bucket AND x.id < y.id
      |  WHERE x.rn <= 128 AND y.rn <= 128)
      |SELECT c.a, c.b,
      |  list_dot_product(ea.v, eb.v) /
      |  (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) AS cos
      |FROM cand c JOIN e ea ON c.a = ea.id JOIN e eb ON c.b = eb.id
      |WHERE list_dot_product(ea.v, eb.v) /
      |  (sqrt(list_dot_product(ea.v, ea.v)) * sqrt(list_dot_product(eb.v, eb.v))) >= 0.3
      |ORDER BY a, b""".stripMargin

  /** Random-projection dimensionality reduction (Johnson-Lindenstrauss)
    * with DATA-DERIVED planes (the first 8 embeddings — the fixed-plane
    * gate pattern): every (vector, plane) inner product is replicated by
    * the oracle's sequential `list_dot_product`, bit-exactly. Output is
    * exploded to (vec_id, dim, val) so the gate compares scalars, and the
    * exploded dim ≡ p_id because planes are id-ordered. */
  def qRandProj(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val planes = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("p_id"),
        Similarity.asDouble(col("embedding")).as("p_vec"))
    Similarity.projectToPlanes(e, planes)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("dim", "val")))
  }

  val qRandProjSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |p AS (SELECT CAST(vec_id AS INT) AS dim, v AS pv FROM e WHERE vec_id < 8)
      |SELECT e.vec_id, p.dim, list_dot_product(e.v, p.pv) AS val
      |FROM e CROSS JOIN p""".stripMargin

  /** IVF cluster-pruned ANN — approximate, rows-only gate. */
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables(spark, dir).embeddings,
        queriesDf(spark, dir), k = 10)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rnk").cast("bigint").as("rnk"))

  /** IVF with every cell probed (nprobe = nCentroids) degenerates to the
    * exact answer: each corpus vector lives in exactly one cell and every
    * cell is scanned, so every (query, vector) pair is scored once with
    * the same cosine expression as brute force. The gate therefore runs
    * the full IVF machinery — Lloyd training, cell assignment, probe,
    * bounded-heap ranking — against q_ann_topk's DuckDB oracle, making
    * IVF's deterministic path oracle-checked (the pruned nprobe<k path
    * keeps its rows-only gate + spec-pinned recall floors vs brute). */
  def qAnnIvfExact(spark: SparkSession, dir: String): DataFrame =
    Similarity.ivfTopK(Tables(spark, dir).embeddings,
        queriesDf(spark, dir), k = 10, nCentroids = 8, nprobe = 8)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rnk").cast("bigint").as("rnk"))

  /** The PRUNED IVF path (nprobe < nCentroids) with FIXED centroids (the
    * first 8 embeddings), fully oracle-checked: cell assignment, the
    * per-query probe ranking, candidate scoring, and the bounded-heap
    * top-k are all replicated in SQL — so the approximate search path
    * itself (not just its full-probe degenerate) is equality-gated;
    * only Lloyd training stays outside (its invariants are spec-pinned). */
  def qAnnIvfFixed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        Similarity.asDouble(col("embedding")).as("c_vec"))
    Similarity.ivfTopKWithCentroids(e, queriesDf(spark, dir), k = 10,
        centroids = cents, nprobe = 4)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rnk").cast("bigint").as("rnk"))
  }

  val qAnnIvfFixedSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT CAST(vec_id AS INT) AS c_id, v AS cv FROM e WHERE vec_id < 8),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
      |ca AS (SELECT vec_id, v, cell FROM (
      |  SELECT e.vec_id, e.v, c.c_id AS cell,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |      c.c_id) AS rn
      |  FROM e CROSS JOIN c) WHERE rn = 1),
      |qp AS (SELECT q_id, qv, cell FROM (
      |  SELECT q.q_id, q.qv, c.c_id AS cell,
      |    row_number() OVER (PARTITION BY q.q_id ORDER BY
      |      list_dot_product(q.qv, c.cv) /
      |      (sqrt(list_dot_product(q.qv, q.qv)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |      c.c_id) AS rn
      |  FROM q CROSS JOIN c) WHERE rn <= 4),
      |scored AS (SELECT qp.q_id, ca.vec_id,
      |    list_dot_product(ca.v, qp.qv) /
      |    (sqrt(list_dot_product(ca.v, ca.v)) * sqrt(list_dot_product(qp.qv, qp.qv))) AS cos
      |  FROM ca JOIN qp ON ca.cell = qp.cell)
      |SELECT q_id, vec_id, cos, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, vec_id) AS rnk
      |  FROM scored) WHERE rnk <= 10""".stripMargin

  /** Approximate k-NN graph over the whole embedding table with the same
    * FIXED centroids as [[qAnnIvfFixed]], fully oracle-checked INCLUDING
    * the maxCell skew guard (the oracle replicates the smallest-id member
    * cap, so the gate stays exact at every SF even where the cap binds):
    * probe ranking, cell assignment (= the probe head), capped candidate
    * join, cosine scoring and the bounded-heap top-k are all SQL-replicated. */
  def qKnnGraph(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        Similarity.asDouble(col("embedding")).as("c_vec"))
    Similarity.knnGraph(e, cents, k = 5, nprobe = 2, maxCell = 100)
      .select(col("vec_id"), col("nbr_id"), col("cos"),
        col("rnk").cast("bigint").as("rnk"))
  }

  val qKnnGraphSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT CAST(vec_id AS INT) AS c_id, v AS cv FROM e WHERE vec_id < 8),
      |pr AS (SELECT vec_id, v, cell, rn FROM (
      |  SELECT e.vec_id, e.v, c.c_id AS cell,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |      c.c_id) AS rn
      |  FROM e CROSS JOIN c) WHERE rn <= 2),
      |mem AS (SELECT vec_id, v, cell FROM (
      |  SELECT vec_id, v, cell,
      |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS mrn
      |  FROM pr WHERE rn = 1) WHERE mrn <= 100),
      |scored AS (SELECT p.vec_id, m.vec_id AS nbr_id,
      |    list_dot_product(m.v, p.v) /
      |    (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(p.v, p.v))) AS cos
      |  FROM pr p JOIN mem m ON p.cell = m.cell AND p.vec_id != m.vec_id)
      |SELECT vec_id, nbr_id, cos, rnk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rnk
      |  FROM scored) WHERE rnk <= 5""".stripMargin

  /** k-NN label propagation: the first 100 embeddings act as the labeled
    * seed set; every later vector takes the majority label of its 5
    * nearest seeds — scoring, bounded-heap ranking, label join and the
    * (votes DESC, label ASC) vote argmax all SQL-replicated. */
  def qKnnClassify(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val seeds = e.filter(col("vec_id") < 100)
      .select(col("vec_id").as("s_id"), col("embedding").as("s_vec"),
        col("label").as("s_label"))
    Similarity.knnClassify(e.filter(col("vec_id") >= 100), seeds, k = 5)
      .select(col("vec_id"), col("pred_label").cast("int").as("pred_label"),
        col("votes"))
  }

  val qKnnClassifySql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id AS s_id, CAST(embedding AS DOUBLE[]) AS sv, label AS s_label
      |      FROM embeddings WHERE vec_id < 100),
      |u AS (SELECT vec_id, v FROM e WHERE vec_id >= 100),
      |nn AS (SELECT vec_id, s_id FROM (
      |  SELECT u.vec_id, s.s_id,
      |    row_number() OVER (PARTITION BY u.vec_id ORDER BY
      |      list_dot_product(u.v, s.sv) /
      |      (sqrt(list_dot_product(u.v, u.v)) * sqrt(list_dot_product(s.sv, s.sv))) DESC,
      |      s.s_id) AS rn
      |  FROM u CROSS JOIN s) WHERE rn <= 5),
      |votes AS (SELECT nn.vec_id, s.s_label AS label, count(*)::BIGINT AS n
      |  FROM nn JOIN s ON nn.s_id = s.s_id GROUP BY nn.vec_id, s.s_label)
      |SELECT vec_id, CAST(label AS INT) AS pred_label, n AS votes FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY n DESC, label) AS r
      |  FROM votes) WHERE r = 1""".stripMargin

  /** Mutual-kNN edge filter over the [[qKnnGraph]] graph: an edge
    * survives only when each endpoint ranks the other in its own top-k —
    * the hub-artifact cleanup before graph clustering. */
  def qKnnMutual(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        Similarity.asDouble(col("embedding")).as("c_vec"))
    val g = Similarity.knnGraph(e, cents, k = 5, nprobe = 2, maxCell = 100)
    Similarity.mutualKnn(g).orderBy(col("a"), col("b"))
  }

  val qKnnMutualSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT CAST(vec_id AS INT) AS c_id, v AS cv FROM e WHERE vec_id < 8),
      |pr AS (SELECT vec_id, v, cell, rn FROM (
      |  SELECT e.vec_id, e.v, c.c_id AS cell,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |      c.c_id) AS rn
      |  FROM e CROSS JOIN c) WHERE rn <= 2),
      |mem AS (SELECT vec_id, v, cell FROM (
      |  SELECT vec_id, v, cell,
      |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS mrn
      |  FROM pr WHERE rn = 1) WHERE mrn <= 100),
      |scored AS (SELECT p.vec_id, m.vec_id AS nbr_id,
      |    list_dot_product(m.v, p.v) /
      |    (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(p.v, p.v))) AS cos
      |  FROM pr p JOIN mem m ON p.cell = m.cell AND p.vec_id != m.vec_id),
      |g AS (SELECT vec_id, nbr_id, cos FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rnk
      |  FROM scored) WHERE rnk <= 5)
      |SELECT f.vec_id AS a, f.nbr_id AS b, f.cos
      |FROM g f JOIN g r ON f.vec_id = r.nbr_id AND f.nbr_id = r.vec_id
      |WHERE f.vec_id < f.nbr_id
      |ORDER BY a, b""".stripMargin

  /** Semantic clustering: connected components over the MUTUAL-kNN edge
    * set — the standard embedding-space clustering recipe (build a kNN
    * graph, drop asymmetric hub edges, take components). Reuses the
    * pointer-doubling label propagation of the dedup family; the oracle
    * resolves the same components independently via a recursive-CTE
    * transitive closure over the SQL-replicated mutual edge set.
    * Output: (vec_id, cluster) for EVERY vector — singletons keep their
    * own id. */
  def qKnnClusters(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        Similarity.asDouble(col("embedding")).as("c_vec"))
    val g = Similarity.knnGraph(e, cents, k = 5, nprobe = 2, maxCell = 100)
    val reps = Dedup.representatives(Similarity.mutualKnn(g))
    e.join(reps, e("vec_id") === reps("id"), "left")
      .select(col("vec_id"),
        coalesce(col("rep"), col("vec_id")).cast("bigint").as("cluster"))
      .orderBy(col("vec_id"))
  }

  val qKnnClustersSql: String =
    """WITH RECURSIVE
      |e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT CAST(vec_id AS INT) AS c_id, v AS cv FROM e WHERE vec_id < 8),
      |pr AS MATERIALIZED (SELECT vec_id, v, cell, rn FROM (
      |  SELECT e.vec_id, e.v, c.c_id AS cell,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |      c.c_id) AS rn
      |  FROM e CROSS JOIN c) WHERE rn <= 2),
      |mem AS (SELECT vec_id, v, cell FROM (
      |  SELECT vec_id, v, cell,
      |    row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS mrn
      |  FROM pr WHERE rn = 1) WHERE mrn <= 100),
      |scored AS (SELECT p.vec_id, m.vec_id AS nbr_id,
      |    list_dot_product(m.v, p.v) /
      |    (sqrt(list_dot_product(m.v, m.v)) * sqrt(list_dot_product(p.v, p.v))) AS cos
      |  FROM pr p JOIN mem m ON p.cell = m.cell AND p.vec_id != m.vec_id),
      |g AS MATERIALIZED (SELECT vec_id, nbr_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nbr_id) AS rnk
      |  FROM scored) WHERE rnk <= 5),
      |mu AS MATERIALIZED (SELECT f.vec_id AS a, f.nbr_id AS b
      |  FROM g f JOIN g r ON f.vec_id = r.nbr_id AND f.nbr_id = r.vec_id
      |  WHERE f.vec_id < f.nbr_id),
      |edges AS (SELECT a, b FROM mu UNION SELECT b AS a, a AS b FROM mu),
      |reach(id, r) AS (
      |  SELECT a AS id, b AS r FROM edges
      |  UNION
      |  SELECT rc.id, ed.b AS r FROM reach rc JOIN edges ed ON rc.r = ed.a),
      |rep AS (SELECT id, least(id, min(r)) AS rep FROM reach GROUP BY id)
      |SELECT em.vec_id, COALESCE(rep.rep, em.vec_id)::BIGINT AS cluster
      |FROM embeddings em LEFT JOIN rep ON em.vec_id = rep.id
      |ORDER BY vec_id""".stripMargin

  /** Cluster-balanced sampling with the same FIXED centroids as
    * [[qAnnIvfFixed]] (first 8 embeddings), fully oracle-checked: nearest-
    * cell assignment + exact per-cell md5-ranked quota — the semantic-
    * mixing step of a SemDeDup-style pipeline, equality-gated end to end. */
  def qClusterSample(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        Similarity.asDouble(col("embedding")).as("c_vec"))
    Similarity.clusterBalancedSample(e, cents, perCell = 20)
  }

  val qClusterSampleSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |c AS (SELECT CAST(vec_id AS INT) AS c_id, v AS cv FROM e WHERE vec_id < 8),
      |ca AS (SELECT vec_id, cell FROM (
      |  SELECT e.vec_id, c.c_id AS cell,
      |    row_number() OVER (PARTITION BY e.vec_id ORDER BY
      |      list_dot_product(e.v, c.cv) /
      |      (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
      |      c.c_id) AS rn
      |  FROM e CROSS JOIN c) WHERE rn = 1),
      |h AS (SELECT cell, vec_id,
      |    substring(md5(cell || '-' || vec_id), 1, 15) AS hx FROM ca),
      |r AS (SELECT cell, vec_id,
      |    row_number() OVER (PARTITION BY cell ORDER BY hx, vec_id) AS rn FROM h)
      |SELECT cell, vec_id FROM r WHERE rn <= 20""".stripMargin

  /** The [[qAnnIvfFixed]] search executed through a PERSISTED
    * bucket-by-cell index ([[Similarity.buildIvfIndex]] →
    * [[Similarity.ivfTopKFromIndex]]): same fixed centroids, same nprobe,
    * and the SAME DuckDB oracle — so the gate proves the persisted layout
    * changes only the PLAN (assignment runs once at build; the probe is
    * bucket-pruned and corpus-exchange-free), never the answer. */
  def qAnnIvfIndexed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).embeddings
    val cents = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("c_id"),
        Similarity.asDouble(col("embedding")).as("c_vec"))
    val idx = GateIndex.gatePrefix(spark, "graft_ivf_gate_idx", dir)
    if (!spark.catalog.tableExists(idx)) {
      dropGateTable(spark, idx)
      Similarity.buildIvfIndex(e, cents, idx, buckets = 8)
    }
    Similarity.ivfTopKFromIndex(spark, idx,
        queriesDf(spark, dir), k = 10, centroids = cents, nprobe = 4)
      .select(col("q_id"), col("vec_id"), col("cos"), col("rnk").cast("bigint").as("rnk"))
  }

  /** PII scrubbing over a deterministically PII-enriched text (the corpus
    * itself is synthetic word soup, so the fixture plants the PII). */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@mail.example or https://ex.com/u/"), col("doc_id"),
          lit(" id 1234567890")).as("dirty"))
      .select(col("doc_id"), TextAnalysis.scrubPii(col("dirty")).as("clean"))

  val qPiiScrubSql: String =
    """SELECT doc_id,
      |  regexp_replace(
      |    regexp_replace(
      |      regexp_replace(
      |        text || ' contact user' || doc_id || '@mail.example or https://ex.com/u/' || doc_id || ' id 1234567890',
      |        '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |      'https?://[^\s]+', '<URL>', 'g'),
      |    '[0-9]{6,}', '<NUM>', 'g') AS clean
      |FROM documents""".stripMargin

  /** Repetition-ratio quality filter (bigram duplication fraction). */
  def qRepetition(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextAnalysis.repetitionRatio(col("toks"), 2).as("rep_ratio"))

  val qRepetitionSql: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |g AS (SELECT doc_id,
      |  CASE WHEN len(toks) < 2 THEN [array_to_string(toks, ' ')]
      |       ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |  END AS grams FROM t)
      |SELECT doc_id,
      |  1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / CAST(len(grams) AS DOUBLE) AS rep_ratio
      |FROM g""".stripMargin

  /** Corpus-statistics quality signal: average corpus frequency of a
    * document's tokens (the two-phase global-stats pattern — corpus term
    * counts aggregate once, broadcast back onto the per-doc pass; rare-token
    * documents score low). Integer sums divided explicitly, so the double
    * is deterministic. */
  def qDocFreqScore(spark: SparkSession, dir: String): DataFrame = {
    // one explode pass → (doc, term) partial counts (map-side combine); the
    // corpus frequency comes from a second groupBy on term (partial agg, so
    // a hot term like "the" combines map-side and AQE can split the join's
    // skewed partitions — a window.partitionBy(term) cannot be split and
    // pins the hottest term on one task). Sums stay integer so the final
    // double is exact: sum(term_n over token instances) == sum(nt * term_n)
    val tf = Tables(spark, dir).documents
      .select(col("doc_id"), explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("nt"))
    val corpus = tf.groupBy(col("term")).agg(sum(col("nt")).as("term_n"))
    tf.join(corpus, "term")
      .groupBy(col("doc_id"))
      .agg((sum(col("nt") * col("term_n")).cast("double") /
        sum(col("nt")).cast("double")).as("avg_term_freq"))
  }

  val qDocFreqScoreSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
      |c AS (SELECT term, count(*) AS term_n FROM t GROUP BY term)
      |SELECT doc_id,
      |  CAST(sum(term_n) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_term_freq
      |FROM t JOIN c USING (term)
      |GROUP BY doc_id""".stripMargin

  /** Deterministic hash sampling: keep rows whose content hash falls under
    * a threshold — reproducible across runs/partitions, no RNG state. */
  def qSampleHash(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .filter(md5(col("text").cast("binary")) < "1a")
      .select(col("doc_id"))

  val qSampleHashSql: String =
    "SELECT doc_id FROM documents WHERE md5(text) < '1a'"

  /** Corpus-level term frequencies: explode + partial-aggregated count +
    * top-k heap (the scalable vocab-stats shape: one shuffle on term). */
  def qTopTerms(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(20)

  val qTopTermsSql: String =
    """SELECT term, count(*) AS n
      |FROM (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents)
      |GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin

  /** Exact heavy hitters (terms above 1% of token occurrences) via the
    * bounded-memory Misra-Gries candidates + exact-recount two-pass — the
    * oracle computes the same set with a plain exact count, so the gate
    * proves the sketch path loses nothing. Integer counts and an
    * integer-rational threshold: bit-parity is structural. */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.heavyHitters(Tables(spark, dir).documents, "text", k = 100)

  val qHeavyHittersSql: String =
    """WITH s AS (SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents),
      |tot AS (SELECT count(*) AS n FROM s),
      |c AS (SELECT term, count(*) AS cnt FROM s GROUP BY 1)
      |SELECT term, CAST(cnt AS BIGINT) AS cnt
      |FROM c CROSS JOIN tot WHERE cnt * 100 > n""".stripMargin

  // ---- streaming batch-equivalents --------------------------------------

  /** Batch shape of the stream-stream join (EventStream.clickViewJoin):
    * clicks paired with same-user views within the preceding hour. One
    * shuffle on user_id; the range condition prunes in-partition. */
  def qEventJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("view_id"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
    clicks.join(views,
        col("c_user") === col("v_user") && col("v_ts") <= col("c_ts") &&
          col("v_ts") >= col("c_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("c_user").as("user_id"), col("click_id"), col("view_id"))
  }

  val qEventJoinSql: String =
    """SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id
      |FROM (SELECT * FROM events WHERE event_type = 'click') c
      |JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id AND v.ts <= c.ts
      |  AND v.ts >= c.ts - INTERVAL 1 HOUR""".stripMargin

  /** Range join via chunked equi-join (operators.RangeJoin): clicks inside
    * the 6-hour window after a same-user signup. Naive Spark plans `t
    * BETWEEN lo AND hi` as a nested-loop; the operator quantizes time into
    * interval-width chunks and equi-joins on (user, chunk) — asserted
    * cartesian/NLJ-free in the spec. Epoch seconds on both sides are
    * integer-exact (Spark floors unix_timestamp, the oracle floor-divides
    * epoch_ns), so the gate carries longs only. */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
    val clicks = e.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("sec"))
    val signups = e.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id"),
        col("sec").as("lo"), (col("sec") + 21600L).as("hi"))
    graft.operators.RangeJoin.pointInInterval(
        clicks, signups, "sec", "lo", "hi", chunk = 21600L, keys = Seq("user_id"))
      .select(col("signup_id"), col("click_id"), (col("sec") - col("lo")).as("delta"))
  }

  val qRangeJoinSql: String =
    """WITH e AS (SELECT event_id, user_id, event_type,
      |             epoch_ns(ts) // 1000000000 AS sec FROM events),
      |p AS (SELECT event_id AS click_id, user_id, sec FROM e WHERE event_type = 'click'),
      |w AS (SELECT event_id AS signup_id, user_id, sec AS lo, sec + 21600 AS hi
      |      FROM e WHERE event_type = 'signup')
      |SELECT w.signup_id, p.click_id, CAST(p.sec - w.lo AS BIGINT) AS delta
      |FROM p JOIN w ON p.user_id = w.user_id AND p.sec BETWEEN w.lo AND w.hi""".stripMargin

  /** Hourly tumbling-window aggregate (batch shape of the streaming op). */
  def qEventWindow(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))

  val qEventWindowSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
      |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin

  /** Sliding-window aggregate: 2-hour windows every hour — each event lands
    * in two buckets (the streaming sliding-window shape, batch-checked; the
    * oracle replicates the bucket expansion with a 2-row unnest). */
  def qEventSliding(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).events
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        col("event_type"), col("n"))

  /** Ordered funnel analysis: per user, the earliest timestamps completing
    * each stage IN ORDER (t_i = first stage-i event strictly after
    * t_{i-1}) plus the reached depth — the classic product-analytics
    * question ("view → click → purchase within the corpus").
    *
    * 100 TB shape: ONE user-keyed shuffle. Each user's per-stage
    * timestamps collect into sorted arrays (bounded by that user's event
    * count — the same per-entity-bounded state sessionization keeps), and
    * the order-respecting chain of "first element strictly after the
    * previous stage" evaluates as a per-row array expression — no window,
    * no self-join per stage, no second pass over the event stream. A
    * missed stage nulls the rest of the chain (x > NULL filters
    * everything), exactly the funnel semantics. */
  def funnelStages(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, stages: Seq[String],
                   maxGapSeconds: Option[Long] = None): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val aggs = stages.zipWithIndex.map { case (s, i) =>
      sort_array(collect_list(when(col(typeCol) === s, col(tsCol)))).as(s"__a$i")
    }
    val g = events.groupBy(col(userCol)).agg(aggs.head, aggs.tail: _*)
    // optional windowed-funnel constraint (the ClickHouse windowFunnel
    // semantics): each stage must land within maxGap of the PREVIOUS
    // stage's timestamp — exact integer microsecond comparison
    def withinGap(x: Column, prev: Column): Column = maxGapSeconds match {
      case Some(gap) => x > prev &&
        unix_micros(x.cast("timestamp")) <=
          unix_micros(prev.cast("timestamp")) + gap * 1000000L
      case None => x > prev
    }
    val chain: Seq[Column] = stages.indices.drop(1).scanLeft(
      try_element_at(col("__a0"), lit(1))) { (prev, i) =>
      array_min(filter(col(s"__a$i"), x => withinGap(x, prev)))
    }
    val depth = stages.indices
      .map(i => when(chain(i).isNotNull, 1).otherwise(0))
      .reduce(_ + _).cast("bigint")
    g.select(col(userCol) +:
      stages.indices.map(i => chain(i).as(s"t_${stages(i)}")) :+
      depth.as("depth"): _*)
  }

  /** Per-source corpus report card (the "dataset datasheet" summary a
    * curation run ends with): doc and token counts, char mass, mean
    * quality, distinct languages — one groupBy over scan-stage signals;
    * the mean quality is a rounded double aggregate over the engineered
    * IEEE score shape, the integer columns are exact. */
  def qCorpusReport(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("source"),
        TextAnalysis.tokenCountWs(col("text")).cast("bigint").as("__tok"),
        length(col("text")).cast("bigint").as("__len"),
        TextAnalysis.qualityScore(col("text")).as("__q"),
        col("lang"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        sum(col("__len")).as("n_chars"),
        // Quantize the per-doc IEEE score to nano-units BEFORE summing so the
        // aggregate travels as an exact long — order-independent across any
        // partitioning (a raw double sum is association-order-dependent).
        round(sum(floor(col("__q") * lit(1e9)).cast("long")).cast("double")
          / lit(1e9) / count(lit(1)), 4).as("mean_quality"),
        countDistinct(col("lang")).as("n_langs"))

  val qCorpusReportSql: String =
    """SELECT source, count(*) AS n_docs,
      |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
      |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
      |  round(CAST(sum(CAST(floor((
      |    least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
      |    + (CASE WHEN (CAST(length(regexp_replace(text, '\s+', '', 'g')) AS DOUBLE) /
      |         CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 3.0 AND 10.0
      |        THEN 1.0 ELSE 0.5 END) * 0.3
      |    + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) /
      |         greatest(CAST(length(text) AS DOUBLE), 1.0)) * 5.0) * 0.3
      |  ) * 1000000000.0) AS BIGINT)) AS DOUBLE) / 1e9 / count(*), 4) AS mean_quality,
      |  count(DISTINCT lang) AS n_langs
      |FROM documents GROUP BY source""".stripMargin

  /** Week-over-week growth per event type: weekly counts with the prior
    * week's count and the delta alongside — lag() runs over the already-
    * AGGREGATED weekly frame (cardinality = types × weeks, never the
    * event stream), so the window is trivially partitioned. */
  def qEventWow(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables(spark, dir).events
      .groupBy(col("event_type"), date_trunc("week", col("ts")).as("week"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("week"))
    weekly
      .withColumn("prev_n", lag(col("n"), 1).over(w))
      .select(col("event_type"), date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("n"), col("prev_n"), (col("n") - col("prev_n")).as("delta"))
  }

  val qEventWowSql: String =
    """WITH w AS (SELECT event_type, date_trunc('week', ts) AS week,
      |    count(*) AS n
      |  FROM events GROUP BY 1, 2)
      |SELECT event_type, strftime(week, '%Y-%m-%d') AS week, n,
      |  lag(n) OVER (PARTITION BY event_type ORDER BY week) AS prev_n,
      |  n - lag(n) OVER (PARTITION BY event_type ORDER BY week) AS delta
      |FROM w""".stripMargin

  /** Volume-anomaly detection on the weekly series: per event type, each
    * week's count z-scored against that type's own weekly history
    * ([[graft.operators.Curation.zscorePerGroup]] over the AGGREGATED
    * frame — types × weeks rows, never the event stream) and flagged at
    * |z| ≥ 2 — the data-drift alert behind "did ingestion break this
    * week". Counts are integral so the moments are exact longs; the flag
    * compares a deterministic double chain to a literal. */
  def qEventAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables(spark, dir).events
      .groupBy(col("event_type"), date_trunc("week", col("ts")).as("week"))
      .agg(count(lit(1)).as("n"))
    Curation.zscorePerGroup(weekly, "event_type", "n")
      .select(col("event_type"), date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("n"), col("z"),
        (abs(col("z")) >= lit(2.0)).as("anomaly"))
  }

  val qEventAnomalySql: String =
    """WITH w AS (SELECT event_type, date_trunc('week', ts) AS week,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS m,
      |             CAST(sum(n) AS BIGINT) AS s1,
      |             CAST(sum(n * n) AS BIGINT) AS s2
      |      FROM w GROUP BY 1),
      |z AS (SELECT w.event_type, strftime(w.week, '%Y-%m-%d') AS week, w.n,
      |        CASE WHEN sqrt(CAST(s.m * s.s2 - s.s1 * s.s1 AS DOUBLE)) > 0.0
      |             THEN CAST(s.m * w.n - s.s1 AS DOUBLE)
      |                  / sqrt(CAST(s.m * s.s2 - s.s1 * s.s1 AS DOUBLE)) END AS z
      |      FROM w JOIN s USING (event_type))
      |SELECT event_type, week, n, z,
      |  CASE WHEN z IS NULL THEN NULL ELSE abs(z) >= 2.0 END AS anomaly
      |FROM z""".stripMargin

  /** Session-based CAUSAL first-touch attribution: each purchase is
    * credited to the first view of its own 30-minute-gap session AMONG
    * THOSE SEEN BEFORE THE PURCHASE — a view later in the session must
    * not claim a conversion that already happened (and this is exactly
    * what a streaming attributor can know at arrival time — the
    * streaming twin replays to identical pairs, spec-pinned). Two
    * user-keyed ordered windows (session ids via the gap rule, then a
    * running first-view with ignoreNulls), zero joins; the event stream
    * is scanned once. */
  /** Reusable causal first-touch chain (see [[qAttribution]] for the
    * semantics discussion): conversions of `convType` credited to the
    * first `touchType` earlier in their own gap-rule session. */
  def firstTouchAttribution(events: DataFrame, keyCol: String, tsCol: String,
                            idCol: String, typeCol: String,
                            touchType: String, convType: String,
                            gapMicros: Long): DataFrame = {
    val ts = col(tsCol).cast("timestamp")
    val w = Window.partitionBy(col(keyCol)).orderBy(ts, col(idCol))
    val sess = events
      .withColumn("__prev_ts", lag(ts, 1).over(w))
      .withColumn("__new_sess",
        when(col("__prev_ts").isNull ||
          unix_micros(ts) - unix_micros(col("__prev_ts")) > gapMicros, 1L)
          .otherwise(0L))
      .withColumn("sess", sum(col("__new_sess")).over(w))
    val w2 = Window.partitionBy(col(keyCol), col("sess"))
      .orderBy(ts, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess
      .withColumn("first_touch_id",
        first(when(col(typeCol) === touchType, col(idCol)),
          ignoreNulls = true).over(w2))
      .filter(col(typeCol) === convType)
      .select(col(idCol), col(keyCol), col("sess"), col("first_touch_id"))
  }

  def qAttribution(spark: SparkSession, dir: String): DataFrame =
    firstTouchAttribution(Tables(spark, dir).events, "user_id", "ts",
        "event_id", "event_type", touchType = "view", convType = "purchase",
        gapMicros = 1800L * 1000000L)
      .withColumnRenamed("first_touch_id", "first_view_id")

  val qAttributionSql: String =
    """WITH s AS (
      |  SELECT *,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |t AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id
      |        ORDER BY ts, event_id) AS BIGINT) AS sess FROM s),
      |f AS (SELECT *,
      |        first_value(CASE WHEN event_type = 'view' THEN event_id END
      |                    IGNORE NULLS)
      |          OVER (PARTITION BY user_id, sess ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |          AS first_view_id
      |      FROM t)
      |SELECT event_id, user_id, sess, first_view_id
      |FROM f WHERE event_type = 'purchase'""".stripMargin

  /** Kept-anchored DEBOUNCE (rate limiting): keep an event only when it is
    * more than `gapMicros` after the last KEPT event of the same key —
    * the alert/notification throttle. This is NOT expressible with lag()
    * (a burst 0s/4s/8s at gap 5: lag drops 4 AND 8, the throttle keeps 8
    * because 4 was never kept — the anchor is the kept chain, a
    * sequential fold). Runs in flatMapGroups over per-key bounded state
    * (the sessionize discipline); ties at the same instant keep the
    * smallest event id. */
  def debounceKeep(events: DataFrame, keyCol: String, tsCol: String,
                   idCol: String, gapMicros: Long): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    // cast: raw parquet may load timestamps as TIMESTAMP_NTZ, which
    // unix_micros rejects (config readers bypass Tables' normalization)
    events.select(col(keyCol).cast("long"),
        unix_micros(col(tsCol).cast("timestamp")),
        col(idCol).cast("long"))
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (u, it) =>
        val arr = it.toArray.sortBy(e => (e._2, e._3))
        var last = Long.MinValue
        arr.iterator.filter { e =>
          if (last == Long.MinValue || e._2 - last > gapMicros) {
            last = e._2; true
          } else false
        }.map(e => (u, e._3, e._2))
      }.toDF(keyCol, idCol, "t_us")
  }

  /** 1-hour per-user debounce gate. The oracle replays the sequential
    * kept-chain from first principles with a recursive CTE (each step
    * selects the next event strictly more than the gap after the last
    * KEPT time) — the same independent-reimplementation discipline as
    * q_dedup_corpus's transitive closure. */
  def qEventDebounce(spark: SparkSession, dir: String): DataFrame =
    debounceKeep(Tables(spark, dir).events, "user_id", "ts", "event_id",
      gapMicros = 3600L * 1000000L)

  val qEventDebounceSql: String =
    """WITH RECURSIVE e AS (SELECT user_id, event_id, epoch_us(ts) AS t
      |                     FROM events),
      |k AS (
      |  SELECT user_id, min(t) AS t FROM e GROUP BY 1
      |  UNION ALL
      |  SELECT k.user_id,
      |         (SELECT min(t) FROM e
      |          WHERE e.user_id = k.user_id AND e.t > k.t + 3600000000)
      |  FROM k
      |  WHERE EXISTS (SELECT 1 FROM e
      |                WHERE e.user_id = k.user_id
      |                  AND e.t > k.t + 3600000000))
      |SELECT k.user_id,
      |  (SELECT min(event_id) FROM e
      |   WHERE e.user_id = k.user_id AND e.t = k.t) AS event_id,
      |  k.t AS t_us
      |FROM k""".stripMargin

  /** Engagement rollup: per day, distinct active users (DAU), the
    * trailing distinct-user count of that day's ISO week (WAU), and the
    * DAU/WAU stickiness ratio — the product-analytics staple. Exact
    * distinct counts (deterministic), two keyed aggregates over the
    * (day, user) / (week, user) dedup frames — never a distinct over raw
    * events twice; the ratio is one fixed division over exact longs. */
  def qEventDau(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
      .select(date_trunc("day", col("ts")).as("day"),
        date_trunc("week", col("ts")).as("week"), col("user_id"))
    val dau = e.select(col("day"), col("week"), col("user_id")).distinct()
      .groupBy(col("day"), col("week")).agg(count(lit(1)).as("dau"))
    val wau = e.select(col("week"), col("user_id")).distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("wau"))
    dau.join(wau, "week")
      .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("dau"), col("wau"),
        (col("dau").cast("double") / col("wau").cast("double")).as("stickiness"))
  }

  val qEventDauSql: String =
    """WITH e AS (SELECT date_trunc('day', ts) AS day,
      |             date_trunc('week', ts) AS week, user_id FROM events),
      |dau AS (SELECT day, week, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
      |        FROM e GROUP BY 1, 2),
      |wau AS (SELECT week, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
      |        FROM e GROUP BY 1)
      |SELECT strftime(day, '%Y-%m-%d') AS day, dau, wau,
      |  CAST(dau AS DOUBLE) / CAST(wau AS DOUBLE) AS stickiness
      |FROM dau JOIN wau USING (week)""".stripMargin

  /** Weekly growth accounting — the startup-metrics decomposition of
    * active users into NEW (first-ever week), RETAINED (also active the
    * previous calendar week) and RESURRECTED (returning after a gap),
    * plus CHURNED-from-previous (last week's actives who went silent:
    * prev actives − retained). One user-keyed shuffle builds the distinct
    * (user, week) frame with first-week and lag-week per user (integer
    * microsecond week arithmetic); the classification rollup and the
    * churn lag run over the weeks-sized aggregate, never the stream. */
  def qGrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val weekUs = 7L * 24 * 3600 * 1000000L
    val uw = Tables(spark, dir).events
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("week"))
    val tagged = uw
      // unbounded frame on the same ordered spec as the lag: one Window
      // operator, one sort pass (min over the whole partition is
      // order-independent)
      .withColumn("first_week", min(col("week")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("prev_week", lag(col("week"), 1).over(w))
      .withColumn("status",
        when(col("week") === col("first_week"), "new")
          .when(unix_micros(col("week")) - unix_micros(col("prev_week")) === weekUs,
            "retained")
          .otherwise("resurrected"))
    val weekly = tagged.groupBy(col("week")).agg(
      count(lit(1)).as("active"),
      sum(when(col("status") === "new", 1L).otherwise(0L)).as("n_new"),
      sum(when(col("status") === "retained", 1L).otherwise(0L)).as("n_retained"),
      sum(when(col("status") === "resurrected", 1L).otherwise(0L)).as("n_resurrected"))
    // churn = previous CALENDAR week's actives minus this week's retained
    // — a self-join on week−7d over the weeks-sized frame (an ordered lag
    // here would be an unpartitioned window; the join keeps the plan free
    // of single-task stages even if the frame ever grew)
    val prev = weekly.select((unix_micros(col("week")) + weekUs).as("next_us"),
      col("active").as("prev_active"))
    weekly
      .join(prev, unix_micros(col("week")) === col("next_us"), "left")
      .withColumn("n_churned", col("prev_active") - col("n_retained"))
      .select(date_format(col("week"), "yyyy-MM-dd").as("week"),
        col("active"), col("n_new"), col("n_retained"),
        col("n_resurrected"), col("n_churned"))
  }

  val qGrowthAccountingSql: String =
    """WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
      |            FROM events),
      |t AS (SELECT user_id, week,
      |        min(week) OVER (PARTITION BY user_id) AS first_week,
      |        lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week
      |      FROM uw),
      |s AS (SELECT week,
      |        CASE WHEN week = first_week THEN 'new'
      |             WHEN epoch_us(week) - epoch_us(prev_week) = 604800000000
      |             THEN 'retained' ELSE 'resurrected' END AS status
      |      FROM t),
      |wk AS (SELECT week, CAST(count(*) AS BIGINT) AS active,
      |         CAST(sum(CASE WHEN status = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |         CAST(sum(CASE WHEN status = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
      |         CAST(sum(CASE WHEN status = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |       FROM s GROUP BY 1)
      |SELECT strftime(week, '%Y-%m-%d') AS week, active, n_new, n_retained,
      |  n_resurrected,
      |  CASE WHEN epoch_us(week) - epoch_us(lag(week) OVER (ORDER BY week))
      |            = 604800000000
      |       THEN lag(active) OVER (ORDER BY week) - n_retained END AS n_churned
      |FROM wk""".stripMargin

  /** Behavioral transition matrix: counts of consecutive (prev_type →
    * type) pairs within each user's event-time-ordered stream — the
    * Markov-chain summary behind "what do users do after X". One
    * user-partitioned lag() window + one small groupBy on the pair. */
  def qEventTransitions(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  val qEventTransitionsSql: String =
    """WITH o AS (SELECT user_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
      |  FROM events)
      |SELECT prev_type, event_type, count(*) AS n
      |FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2""".stripMargin

  /** Time-weighted average value per user (TWAP — the time-series
    * summary where a value "holds" until the next observation): Σ vᵢ·Δtᵢ
    * / Σ Δtᵢ over each user's ordered intervals. One user-partitioned
    * lead() window (per-entity partitions — never global) + one groupBy;
    * the denominator is an exact integer-microsecond sum, the weighted
    * numerator follows the rounded-double-aggregate gate discipline. */
  def qEventTwap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    Tables(spark, dir).events
      .withColumn("__nts", lead(col("ts"), 1).over(w))
      .filter(col("__nts").isNotNull)
      .withColumn("__dt", unix_micros(col("__nts")) - unix_micros(col("ts")))
      .groupBy(col("user_id"))
      .agg(round(sum(col("value") * col("__dt")) / sum(col("__dt")), 2).as("twap"),
        count(lit(1)).as("n_intervals"))
  }

  val qEventTwapSql: String =
    """WITH o AS (SELECT user_id, ts, value,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nts
      |  FROM events)
      |SELECT user_id,
      |  round(sum(value * (epoch_us(nts) - epoch_us(ts))) /
      |        sum(epoch_us(nts) - epoch_us(ts)), 2) AS twap,
      |  count(*) AS n_intervals
      |FROM o WHERE nts IS NOT NULL GROUP BY user_id""".stripMargin

  /** Cohort retention: users grouped by first-seen week; for each
    * (cohort, week-offset) the number of cohort members active that week
    * — the other classic product-analytics matrix. Two keyed shuffles
    * (per-user aggregate with an in-buffer distinct-week set — bounded by
    * the observation span, not the event count — then the small
    * cohort×offset count); no window, events scanned once. */
  def retentionCohorts(events: DataFrame, userCol: String,
                       tsCol: String): DataFrame = {
    val g = events.groupBy(col(userCol)).agg(
      date_trunc("week", min(col(tsCol))).as("cohort"),
      collect_set(date_trunc("week", col(tsCol))).as("__weeks"))
    g.select(col("cohort"), explode(col("__weeks")).as("__w"))
      .select(col("cohort"),
        (datediff(col("__w").cast("date"), col("cohort").cast("date")) / 7)
          .cast("bigint").as("week_offset"))
      .groupBy(col("cohort"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  def qEventRetention(spark: SparkSession, dir: String): DataFrame =
    retentionCohorts(Tables(spark, dir).events, "user_id", "ts")
      .select(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
        col("week_offset"), col("n_users"))

  val qEventRetentionSql: String =
    """WITH u AS (SELECT user_id, date_trunc('week', min(ts)) AS cohort
      |  FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS w FROM events)
      |SELECT strftime(u.cohort, '%Y-%m-%d') AS cohort,
      |  CAST(date_diff('day', u.cohort, a.w) / 7 AS BIGINT) AS week_offset,
      |  count(*) AS n_users
      |FROM u JOIN a ON u.user_id = a.user_id
      |GROUP BY 1, 2""".stripMargin

  def qEventFunnel(spark: SparkSession, dir: String): DataFrame = {
    val f = funnelStages(Tables(spark, dir).events,
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
    f.select(col("user_id"),
      date_format(col("t_view"), "yyyy-MM-dd HH:mm:ss").as("t_view"),
      date_format(col("t_click"), "yyyy-MM-dd HH:mm:ss").as("t_click"),
      date_format(col("t_purchase"), "yyyy-MM-dd HH:mm:ss").as("t_purchase"),
      col("depth"))
  }

  /** Windowed funnel: the same chain with a 2-hour max gap between
    * consecutive stages — "purchase within 2h of the click". */
  def qEventFunnelGap(spark: SparkSession, dir: String): DataFrame = {
    val f = funnelStages(Tables(spark, dir).events,
      "user_id", "ts", "event_type", Seq("view", "click", "purchase"),
      maxGapSeconds = Some(7200L))
    f.select(col("user_id"),
      date_format(col("t_view"), "yyyy-MM-dd HH:mm:ss").as("t_view"),
      date_format(col("t_click"), "yyyy-MM-dd HH:mm:ss").as("t_click"),
      date_format(col("t_purchase"), "yyyy-MM-dd HH:mm:ss").as("t_purchase"),
      col("depth"))
  }

  val qEventFunnelGapSql: String =
    """WITH s1 AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1
      |  FROM events GROUP BY user_id),
      |s2 AS (SELECT s1.user_id, s1.t1,
      |    min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1
      |             AND epoch_us(e.ts) <= epoch_us(s1.t1) + 7200000000
      |        THEN e.ts END) AS t2
      |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
      |  GROUP BY s1.user_id, s1.t1),
      |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
      |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2
      |             AND epoch_us(e.ts) <= epoch_us(s2.t2) + 7200000000
      |        THEN e.ts END) AS t3
      |  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
      |  GROUP BY s2.user_id, s2.t1, s2.t2)
      |SELECT user_id,
      |  strftime(t1, '%Y-%m-%d %H:%M:%S') AS t_view,
      |  strftime(t2, '%Y-%m-%d %H:%M:%S') AS t_click,
      |  strftime(t3, '%Y-%m-%d %H:%M:%S') AS t_purchase,
      |  CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth
      |FROM s3""".stripMargin

  val qEventFunnelSql: String =
    """WITH s1 AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1
      |  FROM events GROUP BY user_id),
      |s2 AS (SELECT s1.user_id, s1.t1,
      |    min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1 THEN e.ts END) AS t2
      |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
      |  GROUP BY s1.user_id, s1.t1),
      |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
      |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
      |  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
      |  GROUP BY s2.user_id, s2.t1, s2.t2)
      |SELECT user_id,
      |  strftime(t1, '%Y-%m-%d %H:%M:%S') AS t_view,
      |  strftime(t2, '%Y-%m-%d %H:%M:%S') AS t_click,
      |  strftime(t3, '%Y-%m-%d %H:%M:%S') AS t_purchase,
      |  CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth
      |FROM s3""".stripMargin

  val qEventSlidingSql: String =
    """SELECT strftime(date_trunc('hour', ts) - INTERVAL (i) HOUR, '%Y-%m-%d %H:%M:%S') AS w_start,
      |  event_type, count(*) AS n
      |FROM events, unnest([0, 1]) AS t(i)
      |GROUP BY 1, 2""".stripMargin

  /** Sessionization (30-min gap) via lag + running sum — integer microsecond
    * timestamps on both sides so gap comparisons are exact. */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("gap", col("us") - lag(col("us"), 1).over(byUser))
      .withColumn("new_s", when(col("gap").isNull || col("gap") > 1800L * 1000000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_s")).over(byUser))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).cast("bigint").as("n_sessions"),
        count(lit(1)).as("n_events"))
  }

  val qSessionizeSql: String =
    """WITH t AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
      |g AS (
      |  SELECT user_id,
      |    CASE WHEN us - lag(us) OVER w IS NULL
      |           OR us - lag(us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s
      |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
      |SELECT user_id, CAST(sum(new_s) AS BIGINT) AS n_sessions, count(*) AS n_events
      |FROM g GROUP BY user_id""".stripMargin

  /** Batch shape of [[graft.streaming.EventStream.dedupWithinWatermark]]:
    * first occurrence (earliest ts, tie-broken by event_id — integer
    * microseconds so ordering is exact) wins per dedup key. On a bounded
    * input replayed in event-time order the streaming operator produces
    * exactly this set (StreamingSpec pins that equivalence); this gate
    * pins the batch semantics against the DuckDB oracle. event_ids are
    * unique in the data, so the key is (user_id, event_type) — every key
    * with >1 event actually exercises the dedup. */
  def qStreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("us"), col("event_id"))
    Tables(spark, dir).events
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("us"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"), col("us").as("first_us"))
  }

  val qStreamDedupSql: String =
    """SELECT user_id, event_type, event_id AS first_event_id, epoch_us(ts) AS first_us
      |FROM (SELECT user_id, event_type, event_id, ts,
      |        row_number() OVER (PARTITION BY user_id, event_type
      |                           ORDER BY epoch_us(ts), event_id) AS rn
      |      FROM events)
      |WHERE rn = 1""".stripMargin

  /** Streaming funnel EXECUTED as a stream (58h promoted to a driver
    * gate): the events table replays through a file-source stream into
    * [[graft.streaming.EventStream.funnelStream]]'s mapGroupsWithState
    * path and a memory sink; the oracle recomputes the greedy stage
    * chain relationally. Single-trigger replay = total per-user order
    * (the operator sorts within each group-batch), so the streaming
    * result must equal the batch chain exactly — this moves the REAL
    * streaming operator under the DuckDB oracle, where before only a
    * spec pinned the stream ≡ batch equivalence. */
  /** Stage `events.parquet` behind a file-source stream: the table is a
    * single file and the source requires a directory, so a symlink
    * (zero-copy) lands in a temp dir; ts is normalised exactly as
    * Tables.events (BIGINT nanos → micros). Shared by every promoted
    * streaming gate. */
  private def stagedEventsStream(spark: SparkSession, dir: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/events.parquet")
    val stage = java.nio.file.Paths.get(TempDirs.create("graft_sevents"))
    java.nio.file.Files.createSymbolicLink(
      stage.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    // The replay runs in a cloned session whose shuffle width — which for
    // a streaming query is ALSO the number of state-store instances every
    // stateful operator commits per micro-batch — is sized to the staged
    // bytes (guide §2.2 fewer-larger partitions, §5 per-task state): a
    // single small file replay otherwise schedules `spark.sql.shuffle
    // .partitions` state stores × operators × micro-batches of pure
    // overhead (measured: the state+sink stages dominate these gates at
    // sf0.1). Data-adaptive, never a local constant: at real scale
    // bytes/8MB exceeds any configured width, so the caller's width is
    // preserved verbatim.
    val callerParts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(200)
    val bytes = java.nio.file.Files.size(
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val parts = math.max(1L, math.min(callerParts.toLong, bytes / (8L << 20) + 1L))
    // checkpoint on tmpfs (see TempDirs.createEphemeral): a bounded
    // replay's offset/commit/state files are exit-deleted, so the only
    // thing ext4 adds is an fsync per file per micro-batch
    val sess = org.apache.spark.sql.graftbridge.Bridge.sessionWithConf(spark,
      Map("spark.sql.shuffle.partitions" -> parts.toString,
        "spark.sql.streaming.checkpointLocation" ->
          TempDirs.createEphemeral("graft_sevents_ckpt")))
    val src0 = sess.readStream.schema(raw.schema).parquet(stage.toString)
    (raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        src0.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampType => src0
      case _ => src0.withColumn("ts",
        col("ts").cast(org.apache.spark.sql.types.TimestampType))
    }).select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
      col("value"), col("props"))
  }

  def qStreamFunnel(spark: SparkSession, dir: String): DataFrame = {
    val src = stagedEventsStream(spark, dir)
    val sess = src.sparkSession // the right-sized replay session
    val sink = "graft_stream_funnel_sink"
    sess.catalog.dropTempView(sink)
    val q = graft.streaming.EventStream
      .funnelStream(sess, src, Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName(sink).outputMode("update").start()
    try q.processAllAvailable() finally q.stop()
    sess.table(sink)
      .groupBy(col("user_id"))
      .agg(max(col("depth")).cast("bigint").as("depth"))
  }

  val qStreamFunnelSql: String =
    """WITH s1 AS (SELECT user_id,
      |    min(CASE WHEN event_type = 'view' THEN ts END) AS t1
      |  FROM events GROUP BY user_id),
      |s2 AS (SELECT s1.user_id, s1.t1,
      |    min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1 THEN e.ts END) AS t2
      |  FROM s1 LEFT JOIN events e ON e.user_id = s1.user_id
      |  GROUP BY s1.user_id, s1.t1),
      |s3 AS (SELECT s2.user_id, s2.t1, s2.t2,
      |    min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2 THEN e.ts END) AS t3
      |  FROM s2 LEFT JOIN events e ON e.user_id = s2.user_id
      |  GROUP BY s2.user_id, s2.t1, s2.t2)
      |SELECT user_id,
      |  CAST((CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)
      |     + (CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS depth
      |FROM s3""".stripMargin

  /** Streaming incremental dedup EXECUTED as a stream (58e promoted to a
    * driver gate): documents arrive as three id-range batches through a
    * file-source stream (maxFilesPerTrigger=1, batch order pinned by
    * explicit file mtimes), and
    * [[graft.streaming.EventStream.dedupStreamAgainstIndex]]'s
    * foreachBatch loop builds/probes/appends the bucketed fingerprint
    * index across batches. Because batches are ordered id ranges and
    * both the in-batch and against-index dedups keep min id, the union
    * of kept rows is exactly "the min-doc_id row per distinct text" —
    * which the oracle states in one aggregate. */
  def qStreamDedupInc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.hadoop.fs.Path
    val docs = Tables(spark, dir).documents.select(col("doc_id"), col("text"))
    val stage = TempDirs.create("graft_sdi")
    val inDir = s"$stage/in"
    val outDir = s"$stage/out"
    val mx = docs.agg(max(col("doc_id"))).head().getLong(0)
    val cuts = Seq(mx / 3, 2 * mx / 3, Long.MaxValue)
    val fs = new Path(stage).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(inDir))
    var lo = Long.MinValue
    cuts.zipWithIndex.foreach { case (hi, k) =>
      val tmp = s"$stage/b$k"
      docs.filter(col("doc_id") > lo && col("doc_id") <= hi)
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = fs.listStatus(new Path(tmp))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      val dest = new Path(inDir, f"batch$k%02d.parquet")
      fs.rename(part, dest)
      // pin arrival order: the file source schedules by modification time
      fs.setTimes(dest, 1000000000000L + k * 60000L, -1)
      lo = hi
    }
    // same right-sized replay session as stagedEventsStream: the three
    // micro-batches' dedup joins, index probes and bucketed writes are
    // batch-sized — at the caller's width every one of them schedules
    // `shuffle.partitions` tasks per batch (state-free here, but the
    // same small-replay overhead shape); width from the staged bytes,
    // caller width at real scale.
    val callerParts = scala.util.Try(
      spark.conf.get("spark.sql.shuffle.partitions").toInt).getOrElse(200)
    val inBytes = fs.getContentSummary(new Path(inDir)).getLength
    val parts = math.max(1L,
      math.min(callerParts.toLong, inBytes / (8L << 20) + 1L))
    val sess = org.apache.spark.sql.graftbridge.Bridge.sessionWithConf(spark,
      Map("spark.sql.shuffle.partitions" -> parts.toString))
    val src = sess.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val idx = GateIndex.gatePrefix(spark, "graft_sdi_gate", dir) + "_run"
    GateIndex.dropGateTable(spark, idx)
    val q = graft.streaming.EventStream.dedupStreamAgainstIndex(
      src, idx, indexBuckets = 8, idCol = "doc_id", keyCol = "text",
      checkpoint = TempDirs.createEphemeral("graft_sdi_ckpt")) { kept =>
      kept.select(col("doc_id")).write.mode("append").parquet(outDir)
    }
    try q.processAllAvailable() finally q.stop()
    GateIndex.dropGateTable(spark, idx)
    spark.read.parquet(outDir).select(col("doc_id"))
  }

  val qStreamDedupIncSql: String =
    "SELECT min(doc_id) AS doc_id FROM documents GROUP BY text"

  /** Streaming first-touch attribution EXECUTED as a stream (58q promoted
    * to a driver gate): events replay through a file-source stream into
    * [[graft.streaming.EventStream.attributionStream]]'s three-longs-per-
    * user flatMapGroupsWithState path and a memory sink. Single-trigger
    * replay = total per-user order (the operator sorts within each
    * group-batch), so the emitted (purchase → session, first view) pairs
    * equal the batch window chain exactly; the -1 no-view sentinel maps
    * to the oracle's NULL. */
  def qStreamAttribution(spark: SparkSession, dir: String): DataFrame = {
    val src = stagedEventsStream(spark, dir)
    val sess = src.sparkSession // the right-sized replay session
    val sink = "graft_stream_attr_sink"
    sess.catalog.dropTempView(sink)
    val q = graft.streaming.EventStream.attributionStream(sess, src)
      .toDF()
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    sess.table(sink).select(col("event_id"), col("user_id"), col("sess"),
      when(col("first_view_id") < 0, lit(null).cast("long"))
        .otherwise(col("first_view_id")).as("first_view_id"))
  }

  // same session chain as qAttributionSql — the streaming operator must
  // reproduce the batch semantics event-for-event on ordered replay
  val qStreamAttributionSql: String = qAttributionSql

  /** Streaming weekly volume-anomaly EXECUTED as a stream (58o promoted
    * to a driver gate): [[graft.streaming.EventStream.weeklyAnomalyStream]]
    * holds five longs per event type (current week, its count, and the
    * exact moments m/Σn/Σn² of CLOSED weeks); a week emits when a later
    * week's event closes it, z-scored against the weeks closed BEFORE it.
    * On ordered replay every week except each type's LAST (still open)
    * emits — the oracle states exactly that with a cumulative window over
    * the weekly counts, using the identical integer-moment algebra. */
  def qStreamAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val src = stagedEventsStream(spark, dir)
    val sess = src.sparkSession // the right-sized replay session
    val sink = "graft_stream_anomaly_sink"
    sess.catalog.dropTempView(sink)
    val q = graft.streaming.EventStream.weeklyAnomalyStream(sess, src)
      .toDF()
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    sess.table(sink).select(col("event_type"),
      date_format(timestamp_micros(col("week_start_us")), "yyyy-MM-dd").as("week"),
      col("n"), col("z"))
  }

  val qStreamAnomalySql: String =
    """WITH w AS (SELECT event_type, date_trunc('week', ts) AS week,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |c AS (SELECT *,
      |    CAST(row_number() OVER win - 1 AS BIGINT) AS m,
      |    CAST(coalesce(sum(n) OVER winp, 0) AS BIGINT) AS s1,
      |    CAST(coalesce(sum(n * n) OVER winp, 0) AS BIGINT) AS s2,
      |    max(week) OVER (PARTITION BY event_type) AS maxweek
      |  FROM w
      |  WINDOW win AS (PARTITION BY event_type ORDER BY week),
      |    winp AS (PARTITION BY event_type ORDER BY week
      |             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      |SELECT event_type, strftime(week, '%Y-%m-%d') AS week, n,
      |  CASE WHEN m >= 2 AND sqrt(CAST(m * s2 - s1 * s1 AS DOUBLE)) > 0.0
      |       THEN CAST(m * n - s1 AS DOUBLE)
      |            / sqrt(CAST(m * s2 - s1 * s1 AS DOUBLE)) END AS z
      |FROM c WHERE week < maxweek""".stripMargin

  /** Streaming windowed heavy hitters EXECUTED as a stream (58i promoted
    * to a driver gate): the bounded Misra-Gries aggregate rides inside a
    * watermarked 6-hour event-time window — per-window state ≤ k counters
    * however many events arrive, the only summary shape that holds on a
    * firehose. Append mode only emits windows the WATERMARK has closed;
    * Spark's trailing no-data micro-batch (noDataMicroBatches, on by
    * default) advances the final watermark to max(ts) − 2h after the data
    * batch and flushes every window ending at or before it, so a plain
    * single-file replay suffices — the emitted set is exactly the windows
    * the FINAL watermark closed, which is what the oracle's wm CTE models
    * (floor-to-millisecond event-time tracking included). With k=8 above
    * the event-type cardinality MG is EXACT, so each emitted window's
    * (type, count) entries — hashes joined back to names through a
    * broadcast dim — must equal the plain per-window counts the oracle
    * computes over the same closed-window set. */
  def qStreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir).events
    val sink = "graft_stream_hh_sink"
    val src = stagedEventsStream(spark, dir)
    val sess = src.sparkSession // the right-sized replay session
    sess.catalog.dropTempView(sink)
    val q = src.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"))
      .agg(graft.plans.Native.misraGries(xxhash64(col("event_type")), 8).as("mg"))
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    // hash → name through the (tiny) type dim; broadcast by size
    val dim = events.select(col("event_type")).distinct()
      .withColumn("h", xxhash64(col("event_type")))
    sess.table(sink)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win"),
        explode(col("mg")).as("e"))
      .select(col("win"), col("e.id").as("h"), col("e.c").as("n"))
      .join(broadcast(dim), "h")
      .select(col("win"), col("event_type"), col("n"))
  }

  val qStreamHeavyHittersSql: String =
    """WITH mx AS (SELECT max(ts) AS m1 FROM events),
      |wm AS (SELECT (epoch_us(m1) // 1000) * 1000 - 7200000000 AS w_us FROM mx)
      |SELECT strftime(make_timestamp(
      |    (epoch_us(ts) // 21600000000) * 21600000000),
      |    '%Y-%m-%d %H:%M:%S') AS win,
      |  event_type, CAST(count(*) AS BIGINT) AS n
      |FROM events, wm
      |WHERE (epoch_us(ts) // 21600000000 + 1) * 21600000000 <= w_us
      |GROUP BY 1, 2""".stripMargin

  /** Streaming exact percentile bands EXECUTED as a stream (VERDICT r14
    * #4 — the arrival-time twin of the batch percentile family): a
    * watermarked 6-hour event-time window counts each DISTINCT cent
    * value per (window, type) — an integral-domain histogram whose
    * per-window state is bounded by the value domain however many events
    * arrive (the only exact-percentile summary that holds on a
    * firehose; sketches trade exactness, raw buffering trades memory).
    * Append mode emits a window's histogram only once the watermark
    * closes it; the batch post-pass
    * ([[graft.operators.Quantiles.groupPercentilesFromHist]]) then
    * derives exact interpolated p50/p95/p99 per closed window with the
    * SAME integer rank algebra as the batch 15b3 gate, so the oracle is
    * the batch percentile SQL restricted to the windows the final
    * watermark closed (the q_stream_heavy_hitters wm model). */
  def qStreamPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val sink = "graft_stream_pct_sink"
    val src = stagedEventsStream(spark, dir)
    val sess = src.sparkSession // the right-sized replay session
    sess.catalog.dropTempView(sink)
    val q = src.withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "6 hours"), col("event_type"),
        floor(col("value") * lit(100.0)).cast("long").as("v"))
      .agg(count(lit(1)).as("c"))
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val hist = sess.table(sink)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win"),
        col("event_type"), col("v"), col("c"))
    Quantiles.groupPercentilesFromHist(hist, Seq("win", "event_type"),
        Seq(("p50", 1L, 2L), ("p95", 19L, 20L), ("p99", 99L, 100L)))
      .withColumn("p50", (col("p50_x2").cast("double") / lit(2.0)) / lit(100.0))
      .withColumn("p95", (col("p95_x20").cast("double") / lit(20.0)) / lit(100.0))
      .withColumn("p99", (col("p99_x100").cast("double") / lit(100.0)) / lit(100.0))
  }

  val qStreamPercentilesSql: String =
    """WITH mx AS (SELECT max(ts) AS m1 FROM events),
      |wm AS (SELECT (epoch_us(m1) // 1000) * 1000 - 7200000000 AS w_us FROM mx),
      |d AS (SELECT strftime(make_timestamp(
      |          (epoch_us(ts) // 21600000000) * 21600000000),
      |          '%Y-%m-%d %H:%M:%S') AS win,
      |        event_type, CAST(floor(value * 100.0) AS BIGINT) AS v
      |      FROM events, wm
      |      WHERE (epoch_us(ts) // 21600000000 + 1) * 21600000000 <= w_us),
      |h AS (SELECT win, event_type, v, count(*) AS c FROM d GROUP BY 1, 2, 3),
      |cum AS (SELECT win, event_type, v,
      |        sum(c) OVER (PARTITION BY win, event_type ORDER BY v) AS hi,
      |        sum(c) OVER (PARTITION BY win, event_type ORDER BY v) - c AS lo,
      |        sum(c) OVER (PARTITION BY win, event_type) AS n FROM h),
      |j AS (SELECT cum.*,
      |        (1 * (n - 1)) // 2 AS i50, (1 * (n - 1)) % 2 AS r50,
      |        (19 * (n - 1)) // 20 AS i95, (19 * (n - 1)) % 20 AS r95,
      |        (99 * (n - 1)) // 100 AS i99, (99 * (n - 1)) % 100 AS r99
      |      FROM cum),
      |p AS (SELECT win, event_type, n, r50, r95, r99,
      |        max(CASE WHEN i50 >= lo AND i50 < hi THEN v END) AS v50lo,
      |        max(CASE WHEN i50 + (CASE WHEN r50 > 0 THEN 1 ELSE 0 END) >= lo
      |                  AND i50 + (CASE WHEN r50 > 0 THEN 1 ELSE 0 END) < hi
      |             THEN v END) AS v50hi,
      |        max(CASE WHEN i95 >= lo AND i95 < hi THEN v END) AS v95lo,
      |        max(CASE WHEN i95 + (CASE WHEN r95 > 0 THEN 1 ELSE 0 END) >= lo
      |                  AND i95 + (CASE WHEN r95 > 0 THEN 1 ELSE 0 END) < hi
      |             THEN v END) AS v95hi,
      |        max(CASE WHEN i99 >= lo AND i99 < hi THEN v END) AS v99lo,
      |        max(CASE WHEN i99 + (CASE WHEN r99 > 0 THEN 1 ELSE 0 END) >= lo
      |                  AND i99 + (CASE WHEN r99 > 0 THEN 1 ELSE 0 END) < hi
      |             THEN v END) AS v99hi
      |      FROM j GROUP BY 1, 2, 3, 4, 5, 6)
      |SELECT win, event_type, CAST(n AS BIGINT) AS n,
      |  CAST(v50lo * (2 - r50) + v50hi * r50 AS BIGINT) AS p50_x2,
      |  CAST(v95lo * (20 - r95) + v95hi * r95 AS BIGINT) AS p95_x20,
      |  CAST(v99lo * (100 - r99) + v99hi * r99 AS BIGINT) AS p99_x100,
      |  (CAST(v50lo * (2 - r50) + v50hi * r50 AS DOUBLE) / 2.0) / 100.0 AS p50,
      |  (CAST(v95lo * (20 - r95) + v95hi * r95 AS DOUBLE) / 20.0) / 100.0 AS p95,
      |  (CAST(v99lo * (100 - r99) + v99hi * r99 AS DOUBLE) / 100.0) / 100.0 AS p99
      |FROM p""".stripMargin

  /** Streaming SAMPLED percentile bands — the bounded-state,
    * unbounded-value-domain complement of [[qStreamPercentiles]] (whose
    * per-window state is the value histogram, corpus-sized when every
    * value is distinct): the watermarked 6-hour window aggregation holds
    * per (window, event_type) only a count and the k = 256 rows with the
    * smallest portable content hashes (the [[Quantiles
    * .hashSampleQuantiles]] discipline riding the bounded MinKByKey
    * heap in the state store), and the nearest-lower-rank bands read off
    * the sorted sample after emission. A REAL executing stream
    * (file source → append sink); the oracle is the batch sample replay
    * restricted to closed windows (window end ≤ watermark = max ts − 2h,
    * the q_stream_heavy_hitters model). */
  def qStreamSketchPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val sink = "graft_stream_spct_sink"
    val src = stagedEventsStream(spark, dir)
    val sess = src.sparkSession // the right-sized replay session
    sess.catalog.dropTempView(sink)
    // 60-bit portable row hash: within-group sample order must replay in
    // SQL (lexicographic 15-hex == numeric 60-bit order)
    val h = conv(substring(md5(concat(col("event_type"), lit("-"),
      col("event_id")).cast("binary")), 1, 15), 16, 10).cast("long")
    val q = src.withWatermark("ts", "2 hours")
      .select(col("ts"), col("event_type"), h.as("__h"),
        floor(col("value") * lit(100.0)).cast("long").as("v"))
      .groupBy(window(col("ts"), "6 hours"), col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        graft.plans.Native.minKByKey(col("__h"), col("v"), 256).as("ks"))
      .writeStream.format("memory").queryName(sink).outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    sess.table(sink)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win"),
        col("event_type"), col("n_total"),
        sort_array(transform(col("ks"), e => e.getField("p"))).as("s"))
      .withColumn("m_sample", size(col("s")).cast("long"))
      .select(col("win"), col("event_type"), col("n_total"), col("m_sample"),
        element_at(col("s"),
          (expr("(1 * (m_sample - 1)) div 2") + 1).cast("int")).as("p50_s"),
        element_at(col("s"),
          (expr("(19 * (m_sample - 1)) div 20") + 1).cast("int")).as("p95_s"),
        element_at(col("s"),
          (expr("(99 * (m_sample - 1)) div 100") + 1).cast("int")).as("p99_s"))
  }

  val qStreamSketchPercentilesSql: String =
    """WITH mx AS (SELECT max(ts) AS m1 FROM events),
      |wm AS (SELECT (epoch_us(m1) // 1000) * 1000 - 7200000000 AS w_us FROM mx),
      |d AS (SELECT strftime(make_timestamp(
      |          (epoch_us(ts) // 21600000000) * 21600000000),
      |          '%Y-%m-%d %H:%M:%S') AS win,
      |        event_type, event_id, CAST(floor(value * 100.0) AS BIGINT) AS v
      |      FROM events, wm
      |      WHERE (epoch_us(ts) // 21600000000 + 1) * 21600000000 <= w_us),
      |h AS (SELECT win, event_type, v,
      |        substring(md5(event_type || '-' || event_id), 1, 15) AS hx
      |      FROM d),
      |r AS (SELECT win, event_type, v,
      |        row_number() OVER (PARTITION BY win, event_type
      |                           ORDER BY hx, v) AS rn,
      |        count(*) OVER (PARTITION BY win, event_type) AS n FROM h),
      |s AS (SELECT win, event_type, CAST(any_value(n) AS BIGINT) AS n_total,
      |        CAST(count(*) AS BIGINT) AS m_sample,
      |        list_sort(list(v)) AS sv
      |      FROM r WHERE rn <= 256 GROUP BY 1, 2)
      |SELECT win, event_type, n_total, m_sample,
      |  sv[CAST((1 * (m_sample - 1)) // 2 AS BIGINT) + 1] AS p50_s,
      |  sv[CAST((19 * (m_sample - 1)) // 20 AS BIGINT) + 1] AS p95_s,
      |  sv[CAST((99 * (m_sample - 1)) // 100 AS BIGINT) + 1] AS p99_s
      |FROM s""".stripMargin

  /** As-of join: each purchase event picks up the user's most recent view
    * at-or-before it. Oracle: DuckDB's native ASOF JOIN. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
    AsOfJoin.asOf(purchases, views, key = "user_id",
        leftTime = "ts", rightTime = "ts", payload = Seq("view_id"))
      .select(col("event_id"), col("asof_view_id"))
  }

  val qAsofJoinSql: String =
    """SELECT p.event_id, v.event_id AS asof_view_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin

  /** FORWARD as-of: each view paired with the user's NEXT purchase at or
    * after it ("time-to-conversion" lookup) — same union+window shape,
    * descending scan; oracle is DuckDB's native forward ASOF (`<=`). */
  def qAsofForward(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val views = e.filter(col("event_type") === "view")
      .select("event_id", "user_id", "ts")
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"), col("event_id").as("purchase_id"))
    AsOfJoin.asOfForward(views, purchases, key = "user_id",
        leftTime = "ts", rightTime = "ts", payload = Seq("purchase_id"))
      .select(col("event_id"), col("asof_purchase_id"))
  }

  val qAsofForwardSql: String =
    """SELECT v.event_id, p.event_id AS asof_purchase_id
      |FROM (SELECT * FROM events WHERE event_type = 'view') v
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      |  ON v.user_id = p.user_id AND v.ts <= p.ts""".stripMargin

  /** As-of with tolerance (pandas merge_asof `tolerance` semantics): each
    * purchase attaches the user's most recent view, but only when that view
    * is at most 1 hour old — a session-attribution rule (an overnight-stale
    * view must not claim the conversion). Oracle = native ASOF join + the
    * same integer-microsecond gap test. */
  def qAsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
    val purchases = e.filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts")
    val views = e.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_id"))
    AsOfJoin.asOfTolerance(purchases, views, key = "user_id",
        leftTime = "ts", rightTime = "ts", payload = Seq("view_id"),
        toleranceMicros = 3600L * 1000000L)
      .select(col("event_id"), col("asof_view_id"))
  }

  val qAsofToleranceSql: String =
    """SELECT p.event_id,
      |  CASE WHEN v.ts IS NOT NULL
      |         AND epoch_us(p.ts) - epoch_us(v.ts) <= 3600000000
      |       THEN v.event_id END AS asof_view_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts""".stripMargin

  /** Trailing time-RANGE window aggregate: per event, the count and exact
    * cent-sum of the same user's events in the trailing hour (rate limiting,
    * rolling spend, burst detection). RANGE frames include all timestamp
    * peers, so the result is order-independent; the sum travels as
    * floor(value·100) longs (IEEE-exact multiply + floor) and the rolling
    * mean is derived by one fixed division chain — bit-exact cross-engine
    * where a double running sum would be association-order-dependent. */
  def qRollingRange(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables(spark, dir).events
      .withColumn("__tm", unix_micros(col("ts")))
      .withColumn("__cents", floor(col("value") * lit(100.0)).cast("long"))
    val w = Window.partitionBy(col("user_id")).orderBy(col("__tm"))
      .rangeBetween(-3600L * 1000000L, 0L)
    e.select(col("event_id"),
        count(lit(1)).over(w).as("trail_n"),
        sum(col("__cents")).over(w).as("trail_cents"))
      .withColumn("trail_avg",
        (col("trail_cents").cast("double") / col("trail_n").cast("double")) / lit(100.0))
  }

  val qRollingRangeSql: String =
    """SELECT event_id,
      |  count(*) OVER w AS trail_n,
      |  CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) OVER w AS BIGINT) AS trail_cents,
      |  (CAST(sum(CAST(floor(value * 100.0) AS BIGINT)) OVER w AS DOUBLE)
      |     / CAST(count(*) OVER w AS DOUBLE)) / 100.0 AS trail_avg
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** Salted two-stage aggregation — result must equal the plain groupBy
    * (the oracle IS the plain aggregation), proving the skew-spreading
    * path is correctness-preserving. */
  def qSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(Tables(spark, dir).lineitem,
        key = col("l_returnflag"), salts = 8,
        partials = Map("n" -> count(lit(1)), "qty" -> sum(col("l_quantity"))),
        merges = Map("n" -> (c => sum(c)), "qty" -> (c => sum(c))))
      .select(col("__key").as("l_returnflag"), col("n").cast("bigint").as("n"),
        round(col("qty"), 2).as("qty"))

  val qSaltedAggSql: String =
    """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity), 2) AS qty
      |FROM lineitem GROUP BY l_returnflag""".stripMargin

  /** Multimodal plumbing, oracle-checked end-to-end: documents' text bytes
    * stand in for media payloads (this container has no codecs); the
    * pipeline is the REAL shape — typed Dataset[MediaRecord] → per-partition
    * decode (mapPartitions) → frame-sample explode → join — with a
    * byte-length-derived stub codec the SQL oracle can mirror exactly. */
  def qMultimodal(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.operators.Multimodal
    val media = Tables(spark, dir).documents.select(
        concat(lit("mem://doc/"), col("doc_id")).as("path"),
        lit("image").as("modality"),
        lit("application/octet-stream").as("contentType"),
        expr("octet_length(text)").cast("bigint").as("length"),
        col("text").cast("binary").as("content"))
      .as[Multimodal.MediaRecord]
    val feats = Multimodal.extractFeatures(media, Multimodal.lengthStubDecode).toDF()
    val frames = Multimodal.sampleFrames(media.toDF(), everyNBytes = 256)
      .groupBy(col("path")).agg(count(lit(1)).as("n_frames"))
    feats.join(frames, "path")
      .select(col("path"), col("length"),
        col("width").cast("bigint").as("width"),
        col("height").cast("bigint").as("height"),
        col("channels").cast("bigint").as("channels"),
        col("checksum"), col("n_frames"))
  }

  val qMultimodalSql: String =
    """WITH m AS (SELECT 'mem://doc/' || doc_id AS path,
      |  octet_length(encode(text)) AS len, text FROM documents)
      |SELECT path, CAST(len AS BIGINT) AS length,
      |  CAST(16 + len % 1024 AS BIGINT) AS width,
      |  CAST(16 + (len // 1024) % 1024 AS BIGINT) AS height,
      |  CAST(3 AS BIGINT) AS channels,
      |  md5(text) AS checksum,
      |  CAST(floor(greatest(len - 1, 0) / 256.0) AS BIGINT) + 1 AS n_frames
      |FROM m""".stripMargin

  /** Deterministic mixture resampling: downsample every source to the
    * smallest source's size (uniform target mix — the data-mixture
    * rebalancing step of a training pipeline). Per-source keep
    * probabilities come from one tiny aggregate (broadcast back); the
    * keep decision is a pure content-hash threshold — reproducible across
    * runs/partitions/cluster sizes, no RNG state. The threshold compares
    * as zero-padded hex strings so both engines evaluate the identical
    * integer floor. */
  /** The resampling filter itself, reusable on any (source, id) frame:
    * returns the kept rows (plus the per-source total as `n_s`). */
  def mixtureResample(d: DataFrame, sourceCol: String, idCol: String): DataFrame =
    mixtureTemperature(d, sourceCol, idCol, alpha = 0.0)

  /** Temperature-scaled mixture sampling (the multilingual-LM sampling
    * rule of Lample & Conneau 2019 / XLM-R, Conneau et al. 2020, made
    * deterministic): resulting source sizes are ∝ n_s^α, realized as a
    * per-source keep fraction f_s = (min_n / n_s)^(1-α) — α = 0 equalizes
    * every source down to the smallest (the [[mixtureResample]] policy),
    * α = 1 keeps everything, α in between flattens the mixture while
    * letting big sources stay bigger. The keep decision is the same
    * content-hash threshold as mixtureResample — no RNG state, stable
    * under reruns/repartitioning — and the per-source fractions come from
    * ONE tiny broadcast aggregate, so the pass is a single scan at any
    * corpus size.
    *
    * Portability: any DYADIC α = k/2ⁿ (n ≤ 20 — dense to ~1e-6, covering
    * every α a config realistically spells) computes f_s as a sqrt
    * CHAIN ([[dyadicPowChain]]): each sqrt is IEEE-mandated correctly
    * rounded and each multiply a single rounded op in pinned order, so
    * the chain replays bit-identically across engines. Only genuinely
    * non-dyadic α falls back to `pow` (correctly rounded on every libm
    * we target but not IEEE-guaranteed), the dsir log-vs-bounded gate
    * discipline. */
  def mixtureTemperature(d: DataFrame, sourceCol: String, idCol: String,
                         alpha: Double = 0.5): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"temperature alpha in [0,1], got $alpha")
    val counts = d.groupBy(col(sourceCol)).agg(count(lit(1)).as("n_s"))
    val minN = counts.agg(min(col("n_s")).as("min_n"))
    // α = 1 keeps everything; every source would hit the p == 1 case whose
    // 9-hex-char threshold the 8-char pad would truncate, so return early
    if (alpha == 1.0)
      return d.join(broadcast(counts), sourceCol).crossJoin(broadcast(minN))
    val ratio = col("min_n").cast("double") / col("n_s").cast("double")
    // DYADIC α rides sqrt CHAINS (each sqrt IEEE-mandated correctly
    // rounded, each multiply a single correctly-rounded op in a fixed
    // order), so the computed chain — not the abstractly-true power — is
    // bit-identical on any engine; the oracle replays the same chain
    // (VERDICT r13 #7, generalized r15 from the quarter points to any
    // k/2ⁿ with n ≤ 20 — the oracle-covered α set is now dense to ~1e-6
    // and pow() remains only for genuinely non-dyadic α)
    val p =
      if (alpha == 0.0) ratio
      else dyadicFraction(1.0 - alpha)
        .map { case (num, n) => dyadicPowChain(ratio, num, n) }
        .getOrElse(pow(ratio, 1.0 - alpha))
    // p < 1 ⇒ floor(p·2^32) fits in 8 hex chars; p == 1 (the smallest
    // source) keeps everything and is special-cased — its 9-char threshold
    // would otherwise truncate/compare wrong
    val thresholdHex = lower(lpad(hex(floor(p * 4294967296.0).cast("bigint")), 8, "0"))
    val u8 = substring(
      md5(concat(col(sourceCol), lit("-"), col(idCol)).cast("binary")), 1, 8)
    d.join(broadcast(counts), sourceCol).crossJoin(broadcast(minN))
      .filter(col("n_s") === col("min_n") || u8 < thresholdHex)
  }

  /** Write `x` as num/2ⁿ with the SMALLEST n ≤ 20, if exactly dyadic
    * (doubles like 0.375 or 0.65625 ARE exact dyadics — the test is
    * exact, not a tolerance). */
  private def dyadicFraction(x: Double): Option[(Long, Int)] =
    (1 to 20).collectFirst {
      case n if (x * (1L << n)).isWhole => ((x * (1L << n)).toLong, n)
    }

  /** r^(num/2ⁿ) as the canonical sqrt chain: s_i = sqrt applied i times
    * (r^(1/2^i)), multiplied in ASCENDING i over the set bits of the
    * binary fraction num/2ⁿ — e.g. r^(5/8) = s₁·s₃ = sqrt(r) *
    * sqrt(sqrt(sqrt(r))). Every step is one correctly-rounded IEEE op in
    * a pinned order, so any engine replays the chain bit-for-bit; the
    * matching SQL spells the identical expression left-to-right. */
  private def dyadicPowChain(ratio: Column, num: Long, n: Int): Column = {
    require(num >= 1 && num < (1L << n), s"dyadic chain needs num/2^n in (0,1)")
    var s = ratio
    var acc: Column = null
    for (i <- 1 to n) {
      s = sqrt(s)
      if (((num >> (n - i)) & 1L) == 1L)
        acc = if (acc == null) s else acc * s
    }
    acc
  }

  def qMixtureResample(spark: SparkSession, dir: String): DataFrame =
    mixtureResample(Tables(spark, dir).documents, "source", "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_s")).as("n_total"))

  val qMixtureResampleSql: String =
    """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
      |m AS (SELECT min(n_s) AS min_n FROM c),
      |k AS (SELECT d.source, d.doc_id, c.n_s FROM documents d
      |      JOIN c USING (source) CROSS JOIN m
      |      WHERE n_s = min_n OR substr(md5(d.source || '-' || d.doc_id), 1, 8) <
      |        printf('%08x', CAST(floor(CAST(min_n AS DOUBLE) / CAST(n_s AS DOUBLE)
      |          * 4294967296.0) AS BIGINT)))
      |SELECT source, count(*) AS n_kept, CAST(any_value(n_s) AS BIGINT) AS n_total
      |FROM k GROUP BY source""".stripMargin

  /** Temperature sampling at α = 0.5 over the documents table — per-source
    * kept/total counts. sqrt keeps the oracle bit-exact (IEEE-mandated
    * correct rounding, unlike pow). */
  def qMixtureTemperature(spark: SparkSession, dir: String): DataFrame =
    mixtureTemperature(Tables(spark, dir).documents, "source", "doc_id", alpha = 0.5)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_s")).as("n_total"))

  val qMixtureTemperatureSql: String =
    """WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
      |m AS (SELECT min(n_s) AS min_n FROM c),
      |k AS (SELECT d.source, d.doc_id, c.n_s FROM documents d
      |      JOIN c USING (source) CROSS JOIN m
      |      WHERE n_s = min_n OR substr(md5(d.source || '-' || d.doc_id), 1, 8) <
      |        printf('%08x', CAST(floor(sqrt(CAST(min_n AS DOUBLE) /
      |          CAST(n_s AS DOUBLE)) * 4294967296.0) AS BIGINT)))
      |SELECT source, count(*) AS n_kept, CAST(any_value(n_s) AS BIGINT) AS n_total
      |FROM k GROUP BY source""".stripMargin

  /** The rational-α twins generalizing the α = 0.5 gate: keep fractions
    * r^(3/4) (α = 1/4) and r^(1/4) (α = 3/4) via sqrt chains — correctly
    * rounded at every step, so the oracle replays the identical doubles.
    * Two more points of the temperature family under the hard oracle. */
  def qMixtureTemperatureQ1(spark: SparkSession, dir: String): DataFrame =
    mixtureTemperature(Tables(spark, dir).documents, "source", "doc_id",
        alpha = 0.25)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_s")).as("n_total"))

  def qMixtureTemperatureQ3(spark: SparkSession, dir: String): DataFrame =
    mixtureTemperature(Tables(spark, dir).documents, "source", "doc_id",
        alpha = 0.75)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_s")).as("n_total"))

  private def mixtureTemperatureChainSql(chain: String): String =
    s"""WITH c AS (SELECT source, count(*) AS n_s FROM documents GROUP BY source),
       |m AS (SELECT min(n_s) AS min_n FROM c),
       |r AS (SELECT source, n_s,
       |        CAST(min_n AS DOUBLE) / CAST(n_s AS DOUBLE) AS ratio,
       |        min_n FROM c CROSS JOIN m),
       |k AS (SELECT d.source, d.doc_id, r.n_s FROM documents d
       |      JOIN r USING (source)
       |      WHERE n_s = min_n OR substr(md5(d.source || '-' || d.doc_id), 1, 8) <
       |        printf('%08x', CAST(floor(($chain) * 4294967296.0) AS BIGINT)))
       |SELECT source, count(*) AS n_kept, CAST(any_value(n_s) AS BIGINT) AS n_total
       |FROM k GROUP BY source""".stripMargin

  val qMixtureTemperatureQ1Sql: String =
    mixtureTemperatureChainSql("sqrt(ratio) * sqrt(sqrt(ratio))")

  val qMixtureTemperatureQ3Sql: String =
    mixtureTemperatureChainSql("sqrt(sqrt(ratio))")

  /** Non-quarter dyadic points proving the chain CLOSURE (VERDICT r14
    * #5): α = 3/8 (keep fraction r^(5/8) = s₁·s₃) and α = 5/8 (r^(3/8)
    * = s₂·s₃) — the general k/2ⁿ machinery under the hard oracle, not
    * just the hand-written quarter cases it generalizes. */
  def qMixtureTemperatureD38(spark: SparkSession, dir: String): DataFrame =
    mixtureTemperature(Tables(spark, dir).documents, "source", "doc_id",
        alpha = 0.375)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_s")).as("n_total"))

  def qMixtureTemperatureD58(spark: SparkSession, dir: String): DataFrame =
    mixtureTemperature(Tables(spark, dir).documents, "source", "doc_id",
        alpha = 0.625)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), first(col("n_s")).as("n_total"))

  val qMixtureTemperatureD38Sql: String =
    mixtureTemperatureChainSql("sqrt(ratio) * sqrt(sqrt(sqrt(ratio)))")

  val qMixtureTemperatureD58Sql: String =
    mixtureTemperatureChainSql("sqrt(sqrt(ratio)) * sqrt(sqrt(sqrt(ratio)))")

  // ---- training-batch construction & corpus reports ----------------------

  /** Global stable ordinal ranks 0..N-1 in `keyCols` order WITHOUT a
    * single-task global sort — the scalable zipWithIndex. orderBy +
    * row_number over an unpartitioned window funnels the whole corpus
    * through ONE task; instead: range-repartition on the key (every
    * partition holds a disjoint key interval, in order), sort within
    * partitions, read the per-partition local position out of
    * monotonically_increasing_id (pid in the high bits, an in-order
    * row counter in the low 33), then add exclusive-prefix-sum offsets
    * from one tiny per-partition count aggregate (≤ #partitions rows on
    * the driver — cluster-metadata-sized, not data-sized). The rank is
    * the exact global row_number regardless of partition boundaries, so
    * the output is deterministic for a UNIQUE key at any partition
    * count / cluster size (ties would order by physical placement —
    * callers append a unique tiebreaker column, as q_stable_ids does).
    * Cache ownership: the frame is persisted across the two passes
    * (count + emit) and the RETURNED frame still rides that cache — the
    * operator cannot release it without forcing a data-sized
    * materialization of its own. Callers that rank many frames in one
    * session should unpersist (or clearCache) after materializing; the
    * blocks are LRU-evictable and recomputation is deterministic for a
    * unique key, so an early eviction is safe either way. */
  def stableRanks(df: DataFrame, keyCols: Seq[Column],
                  rankCol: String = "rank", partitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val n = if (partitions > 0) partitions
            else spark.sessionState.conf.numShufflePartitions
    val keyNames = keyCols.indices.map(i => s"__k$i")
    val keyed = keyCols.zip(keyNames).foldLeft(df) {
      case (d, (c, nm)) => d.withColumn(nm, c)
    }
    val sorted = keyed
      .repartitionByRange(n, keyNames.map(col): _*)
      .sortWithinPartitions(keyNames.map(col): _*)
      .withColumn("__mid", monotonically_increasing_id())
      .withColumn("__pid", shiftrightunsigned(col("__mid"), 33).cast("int"))
      .withColumn("__lrank", col("__mid").bitwiseAND(lit((1L << 33) - 1)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = sorted.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = counts.map { case (p, c) => val o = (p, acc); acc += c; o }.toSeq
    // stays cached for the caller's emit pass (LRU-evictable; a caller
    // that materializes immediately can sorted.unpersist via the lineage —
    // recomputation is safe either way because the range boundaries and
    // in-partition order are deterministic for a unique key)
    sorted.join(broadcast(offsets.toDF("__pid", "__off")), "__pid")
      .withColumn(rankCol, col("__off") + col("__lrank"))
      .drop("__mid" +: "__pid" +: "__lrank" +: "__off" +: keyNames: _*)
  }

  /** Stable ids over the documents table: rank in (md5(text), doc_id)
    * order — content-clustered, doc_id-tiebroken (unique ⇒ deterministic
    * at any partition count). The oracle is the global row_number the
    * operator refuses to compute the single-task way. */
  def qStableIds(spark: SparkSession, dir: String): DataFrame =
    stableRanks(Tables(spark, dir).documents,
        Seq(md5(col("text").cast("binary")), col("doc_id")), "rank")
      .select(col("doc_id"), col("rank"))

  val qStableIdsSql: String =
    """SELECT doc_id,
      |  CAST(row_number() OVER (ORDER BY md5(text) NULLS FIRST, doc_id) - 1 AS BIGINT) AS rank
      |FROM documents""".stripMargin

  /** Deterministic uniform k-per-group sampling (the distributed,
    * replayable form of per-group reservoir sampling — eval-set carving,
    * per-domain inspection samples): keep the k rows with the smallest
    * content hash within each group. One bounded min-k heap per group
    * (MinKByKey — ≤ k 16-byte entries per aggregation buffer, partial
    * map-side), so the shuffle carries k pairs per (group × partition),
    * never the corpus; no per-group window. The hash is the portable
    * 60-bit md5 form, so the selection is uniform-in-expectation over
    * content, identical on reruns/repartitionings, and SQL-replicable
    * bit-exactly (hex-string order ≡ numeric order at fixed width). */
  def samplePerGroup(d: DataFrame, groupCol: String, idCol: String,
                     k: Int): DataFrame = {
    d.select(col(groupCol), col(idCol).cast("long").as("__id"),
        portableHash60(groupCol, idCol).as("__h"))
      .groupBy(col(groupCol))
      .agg(graft.plans.Native.minKByKey(col("__h"), col("__id"), k).as("ks"))
      .select(col(groupCol), explode(transform(col("ks"), e => e.getField("p"))).as(idCol))
  }

  def qSamplePerSource(spark: SparkSession, dir: String): DataFrame =
    samplePerGroup(Tables(spark, dir).documents, "source", "doc_id", k = 5)

  val qSamplePerSourceSql: String =
    """WITH h AS (SELECT source, doc_id,
      |    substring(md5(source || '-' || doc_id), 1, 15) AS hx FROM documents),
      |r AS (SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY hx, doc_id) AS rn FROM h)
      |SELECT source, doc_id FROM r WHERE rn <= 5""".stripMargin

  /** The portable 60-bit per-(group, id) uniform hash both samplers rank
    * on: md5("group-id") → 15 hex chars → long. ONE definition — the SQL
    * oracles replay this exact recipe with the strpos hex expansion. */
  private def portableHash60(groupCol: String, idCol: String): Column =
    conv(substring(md5(
      concat(col(groupCol), lit("-"), col(idCol)).cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** Deterministic WEIGHTED sampling without replacement, k per group —
    * priority sampling (Duffield–Lund–Thorup, JACM 2007): each row gets
    * priority u/w with u uniform from its content hash, and the k
    * smallest priorities win, so heavier rows are proportionally more
    * likely to be kept yet the draw is a pure function of content
    * (rerun/repartition/engine stable — the replayable form of weighted
    * reservoir sampling used to carve length-balanced eval sets).
    * Priorities stay INTEGER: u is the portable 60-bit md5 value and the
    * priority its floor-quotient by the scaled weight, so both engines
    * rank identical longs — no float ordering anywhere, and priority
    * TIES break to the smaller id inside the heap (MinKByKey's
    * lexicographic order) exactly as the oracle's `ORDER BY prio, id`.
    * Weights may be fractional: they scale by 10⁶ before truncation
    * (quality scores in [0,1] keep 6 digits of proportionality; integer
    * weights must stay < ~9·10¹² for the scaled long), then clamp to
    * ≥ 1. Same bounded-heap shape as [[samplePerGroup]]: ≤ k 16-byte
    * entries per aggregation buffer, partial map-side, shuffle carries
    * k pairs per (group × partition). Ids must fit a long. */
  def weightedSamplePerGroup(d: DataFrame, groupCol: String, idCol: String,
                             weightCol: String, k: Int): DataFrame = {
    d.select(col(groupCol), col(idCol).cast("long").as("__id"),
        portableHash60(groupCol, idCol).as("__h"),
        greatest(floor(col(weightCol).cast("double") * lit(1000000.0))
          .cast("long"), lit(1L)).as("__w"))
      .select(col(groupCol), col("__id"), expr("__h div __w").as("__prio"))
      .groupBy(col(groupCol))
      .agg(graft.plans.Native.minKByKey(col("__prio"), col("__id"), k).as("ks"))
      .select(col(groupCol), explode(transform(col("ks"), e => e.getField("p"))).as(idCol))
  }

  /** 5 docs per source, selection probability ∝ token count. */
  def qWeightedSample(spark: SparkSession, dir: String): DataFrame =
    weightedSamplePerGroup(
      Tables(spark, dir).documents.select(col("source"), col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("w")),
      "source", "doc_id", "w", k = 5)

  val qWeightedSampleSql: String = {
    val hexVal = (1 to 15).map { p =>
      val w = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(hx, $p, 1)) - 1) * $w"
    }.mkString(" + ")
    s"""WITH d AS (SELECT source, doc_id,
       |    GREATEST(CAST(floor(CAST(len(string_split(trim(text), ' ')) AS DOUBLE)
       |                        * 1000000.0) AS BIGINT), 1) AS w,
       |    substring(md5(source || '-' || doc_id), 1, 15) AS hx FROM documents),
       |v AS (SELECT source, doc_id, ($hexVal) // w AS prio FROM d),
       |r AS (SELECT source, doc_id,
       |    row_number() OVER (PARTITION BY source ORDER BY prio, doc_id) AS rn FROM v)
       |SELECT source, doc_id FROM r WHERE rn <= 5""".stripMargin
  }

  /** Corpus snapshot diff: per doc id, `added` / `removed` / `changed` /
    * `same` between two corpus versions — the dataset-versioning audit
    * ("what moved between crawl N and N+1"). ONE full-outer keyed join on
    * the id; text equality compares 128-bit md5 fingerprints computed in
    * the scan stage, so the shuffle carries 16 bytes per side, never the
    * corpus text. */
  def corpusDiff(prev: DataFrame, cur: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val a = prev.select(col(idCol).as("__id"), md5(col(textCol).cast("binary")).as("__ha"))
    val b = cur.select(col(idCol).as("__idb"), md5(col(textCol).cast("binary")).as("__hb"))
    a.join(b, col("__id") === col("__idb"), "full_outer")
      .select(coalesce(col("__id"), col("__idb")).as(idCol),
        when(col("__id").isNull, "added")
          .when(col("__idb").isNull, "removed")
          .when(col("__ha") === col("__hb"), "same")
          .otherwise("changed").as("status"))
  }

  /** CDC MERGE apply: fold a change batch (`op` ∈ upsert|delete, keyed by
    * id) into a corpus snapshot — the Delta-style MERGE INTO shape as ONE
    * keyed full-outer join (bucket both sides on the id and the nightly
    * apply is exchange-free). delete drops the id, upsert
    * replaces-or-inserts the payload, untouched snapshot rows pass
    * through. The batch must be one row per id (resolve CDC sequence
    * numbers upstream — max-seq-wins is a groupBy away). */
  def applyChanges(snapshot: DataFrame, changes: DataFrame, idCol: String,
                   opCol: String = "op"): DataFrame = {
    val cols = snapshot.columns.toSeq
    val ch = changes.select(
      (col(idCol).as("__cid") +: col(opCol).as("__op") +:
        cols.filterNot(_ == idCol).map(c => col(c).as(s"__c_$c"))): _*)
    snapshot.join(ch, snapshot(idCol) === col("__cid"), "full_outer")
      .filter(coalesce(col("__op"), lit("")) =!= "delete")
      .select(cols.map {
        case c if c == idCol => coalesce(snapshot(idCol), col("__cid")).as(idCol)
        case c => when(col("__op") === "upsert", col(s"__c_$c"))
          .otherwise(snapshot(c)).as(c)
      }: _*)
  }

  /** MERGE-apply gate: the same derived change series as [[qCorpusDiff]]
    * expressed as a CDC batch (updates on %7, deletes on %5∖%7, inserts
    * beyond 10⁶) — the oracle states the closed-form result corpus, so a
    * green row proves the full-outer merge semantics end to end. */
  def qCorpusMerge(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val updates = docs.filter(col("doc_id") % 7 === 0)
      .withColumn("text", concat(col("text"), lit(" v2")))
      .withColumn("op", lit("upsert"))
    val deletes = docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 7 =!= 0)
      .withColumn("op", lit("delete"))
    val inserts = docs.select((col("doc_id") + 1000000).as("doc_id"),
        lit("new doc").as("text"), col("lang"), col("source"), col("n_chars"))
      .filter(col("doc_id") % 3 === 0)
      .withColumn("op", lit("upsert"))
    applyChanges(docs, updates.unionByName(deletes).unionByName(inserts), "doc_id")
  }

  val qCorpusMergeSql: String =
    """SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text,
      |  lang, source, n_chars
      |FROM documents WHERE doc_id % 5 <> 0 OR doc_id % 7 = 0
      |UNION ALL
      |SELECT doc_id + 1000000 AS doc_id, 'new doc' AS text,
      |  lang, source, n_chars
      |FROM documents WHERE (doc_id + 1000000) % 3 = 0""".stripMargin

  /** Gate derives a second corpus version in-query: every 7th doc edited,
    * every 5th (non-7th) dropped, and a synthetic block appended. */
  def qCorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val cur = docs
      .filter(col("doc_id") % 5 =!= 0 || col("doc_id") % 7 === 0)
      .withColumn("text",
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
      .unionByName(docs.select((col("doc_id") + 1000000).as("doc_id"),
        lit("new doc").as("text"), col("lang"), col("source"), col("n_chars"))
        .filter(col("doc_id") % 3 === 0))
    corpusDiff(docs, cur, "doc_id", "text")
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
  }

  val qCorpusDiffSql: String =
    """WITH cur AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 <> 0 OR doc_id % 7 = 0
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, 'new doc' AS text
      |  FROM documents WHERE (doc_id + 1000000) % 3 = 0),
      |d AS (SELECT p.doc_id AS pid, c.doc_id AS cid,
      |        p.text AS pt, c.text AS ct
      |      FROM documents p FULL OUTER JOIN cur c ON p.doc_id = c.doc_id)
      |SELECT CASE WHEN pid IS NULL THEN 'added'
      |            WHEN cid IS NULL THEN 'removed'
      |            WHEN md5(pt) = md5(ct) THEN 'same'
      |            ELSE 'changed' END AS status,
      |  count(*) AS n
      |FROM d GROUP BY 1""".stripMargin

  /** Token-BUDGET sampling: keep the maximal hash-ordered prefix of each
    * source whose cumulative whitespace-token count stays ≤ `budget` —
    * "give me N tokens per source", the unit a training-data order is
    * actually placed in (doc-count mixtures over sources with different
    * doc lengths mis-deliver token mass). Selection order is the same
    * deterministic md5 content hash as the other samplers — reproducible
    * across runs, partitionings and cluster sizes.
    *
    * 100 TB shape — the naive form is a per-source running sum, i.e. ONE
    * window partition per source (a handful of sources ⇒ single-task
    * funnels over the whole corpus). Two phases instead:
    *   1. bucket docs by the hash's first 2 hex chars (256 contiguous
    *      ranges of the selection order) and aggregate per-(source,
    *      bucket) token mass — a sources×256-row aggregate (broadcast
    *      back; cluster-metadata-sized, the [[mixtureTemperature]]
    *      pattern);
    *   2. buckets wholly under budget keep ALL their docs with no
    *      ranking at all; only the single straddling bucket per source —
    *      ~1/256 of that source — runs the exact windowed running sum,
    *      offset by the mass of the buckets before it.
    * The kept set is IDENTICAL to the naive single-window form (cum is
    * non-decreasing and bucket order refines hash order), which is
    * exactly what the oracle computes. */
  def sampleTokenBudget(d: DataFrame, sourceCol: String, idCol: String,
                        textCol: String, budget: Long): DataFrame = {
    val hx = md5(concat(col(sourceCol), lit("-"), col(idCol)).cast("binary"))
    val base = d.select(col(sourceCol), col(idCol),
      TextAnalysis.tokenCountWs(col(textCol)).cast("bigint").as("n_tok"),
      hx.as("__hx"), substring(hx, 1, 2).as("__bk"))
    val masses = base.groupBy(col(sourceCol), col("__bk"))
      .agg(sum(col("n_tok")).as("__m"))
      .collect()
    // greedy bucket prefix per source: first over-budget bucket = cutoff
    // ("zz" sentinel sorts after every hex bucket when everything fits)
    val cuts: Seq[(String, String, Long)] =
      masses.groupBy(_.get(0).toString).map { case (s, rows) =>
        val sorted = rows.sortBy(_.getString(1))
        var acc = 0L
        var cut: (String, Long) = null
        val it = sorted.iterator
        while (cut == null && it.hasNext) {
          val r = it.next()
          if (acc + r.getLong(2) > budget) cut = (r.getString(1), acc)
          else acc += r.getLong(2)
        }
        (s, if (cut == null) "zz" else cut._1, if (cut == null) acc else cut._2)
      }.toSeq
    val cutDf = broadcast(d.sparkSession.createDataFrame(cuts)
      .toDF("__cs", "__cut", "__off"))
    val joined = base.join(cutDf, col(sourceCol) === col("__cs"))
    val whole = joined.filter(col("__bk") < col("__cut"))
      .select(col(sourceCol), col(idCol), col("n_tok"))
    val w = Window.partitionBy(col(sourceCol)).orderBy(col("__hx"), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val straddle = joined.filter(col("__bk") === col("__cut"))
      .withColumn("__cum", col("__off") + sum(col("n_tok")).over(w))
      .filter(col("__cum") <= budget)
      .select(col(sourceCol), col(idCol), col("n_tok"))
    whole.unionAll(straddle)
  }

  def qTokenBudget(spark: SparkSession, dir: String): DataFrame =
    sampleTokenBudget(Tables(spark, dir).documents,
      "source", "doc_id", "text", budget = 800L)

  val qTokenBudgetSql: String =
    """WITH t AS (SELECT source, doc_id,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
      |    md5(source || '-' || doc_id) AS hx FROM documents),
      |r AS (SELECT source, doc_id, n_tok,
      |    sum(n_tok) OVER (PARTITION BY source ORDER BY hx, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM t)
      |SELECT source, doc_id, n_tok FROM r WHERE cum <= 800""".stripMargin

  /** Token-mass-balanced contiguous shards (Bucketing.shardByMass): the
    * export manifest where every shard carries ~total/16 TOKENS (not
    * documents — heavy-tailed doc lengths make count-balanced shards run
    * unevenly). Oracle replays the naive global running sum; the Spark
    * side is the two-phase bucketed prefix sum, provably identical. */
  def qShardTokens(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"),
      TextAnalysis.tokenCountWs(col("text")).cast("bigint").as("n_tok"))
    graft.operators.Bucketing.shardByMass(d, Seq("doc_id"), "n_tok", shards = 16)
      .select(col("doc_id"), col("n_tok"), col("shard"))
  }

  val qShardTokensSql: String =
    """WITH t AS (SELECT doc_id,
      |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tok,
      |    md5('graft-' || CAST(doc_id AS VARCHAR)) AS hx FROM documents),
      |z AS (SELECT CAST(greatest(1, (sum(n_tok) + 15) // 16) AS BIGINT) AS sz FROM t),
      |r AS (SELECT doc_id, n_tok,
      |    coalesce(sum(n_tok) OVER (ORDER BY hx, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum FROM t)
      |SELECT doc_id, n_tok, CAST(least(15, cum // sz) AS INT) AS shard
      |FROM r CROSS JOIN z""".stripMargin

  /** Pareto quality frontier (Skyline.paretoFront2): documents not
    * dominated on BOTH token count and type-token ratio (lexical
    * diversity ×1000, integral) — long docs trend repetitive, and the
    * frontier keeps the best diversity available at every length.
    * Oracle replays the sort-based single-window form; the Spark side
    * is the two-phase bucketed suffix max, provably identical. */
  def qParetoFront(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("bigint").as("x"),
        size(array_distinct(TextAnalysis.tokens(col("text"))))
          .cast("bigint").as("__nd"))
      .withColumn("y", expr("(__nd * 1000L) DIV x")).drop("__nd")
    graft.operators.Skyline.paretoFront2(d, "x", "y")
  }

  val qParetoFrontSql: String =
    """WITH t AS (SELECT doc_id,
      |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS x,
      |    CAST((len(list_distinct(string_split(trim(text), ' '))) * 1000)
      |      // len(string_split(trim(text), ' ')) AS BIGINT) AS y
      |  FROM documents),
      |g AS (SELECT x, max(y) AS my FROM t GROUP BY x),
      |s AS (SELECT x, my, max(my) OVER (ORDER BY x DESC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS bm FROM g)
      |SELECT t.doc_id, t.x, t.y FROM t JOIN s ON t.x = s.x AND t.y = s.my
      |WHERE s.bm IS NULL OR s.my > s.bm""".stripMargin

  /** Sequence packing for training batches: documents pack greedily into
    * ~`maxTokens`-token bins by running token count, SHARD-LOCAL so the
    * packing is embarrassingly parallel — a single global pack order would
    * serialize the whole corpus through one window partition; per-shard
    * bins are what a 1000-executor pipeline does anyway (each shard ends
    * with at most one under-full bin). `shards` defaults to the session's
    * shuffle parallelism so the packing scales with the cluster, not a
    * constant. The bin boundary should be a power of two so the double
    * division is exact against an oracle. */
  def packSequences(docs: DataFrame, idCol: String = "doc_id",
                    textCol: String = "text", maxTokens: Int = 2048,
                    shards: Int = 0): DataFrame = {
    val nShards =
      if (shards > 0) shards
      else docs.sparkSession.sessionState.conf.numShufflePartitions
    val d = docs
      .select(col(idCol),
        TextAnalysis.tokenCountWs(col(textCol)).cast("bigint").as("n_tokens"))
      .withColumn("shard", pmod(col(idCol), lit(nShards)).cast("bigint"))
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("bin",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / maxTokens))
      .select(col(idCol), col("shard"), col("bin"), col("n_tokens"))
  }

  /** The layout-gate family: bucket / range-cluster / Z-order / compact
    * the documents table once per (session, data dir) — the GateIndex
    * build-once discipline — then answer the SAME per-(source, lang)
    * checksum aggregate through the new layout. One oracle serves all
    * four gates ("layout changes the plan, never the answer", the
    * q_ann_ivf_indexed / q_pagerank_indexed contract): count + exact
    * integer sums of doc_id / n_chars / text length detect any lost,
    * duplicated, truncated or re-written row. */
  private def layoutChecksum(df: DataFrame): DataFrame =
    df.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
        sum(col("n_chars")).as("sum_chars"),
        sum(length(col("text"))).as("sum_len"))

  val qLayoutSql: String =
    """SELECT source, lang, count(*) AS n,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_id,
      |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
      |  CAST(sum(length(text)) AS BIGINT) AS sum_len
      |FROM documents GROUP BY 1, 2""".stripMargin

  /** A per-(family, dir) staging directory under the warehouse — the
    * path-based analogue of the GateIndex table keying, reusing its
    * content-stamped GC (stale generations of the same data dir are
    * swept as warehouse orphans).
    *
    * Staging is crash-safe via a COMPLETION MARKER (ADVICE r14): a bare
    * exists() check would treat a crash-mid-write partial directory —
    * which keeps the same content-stamped name — as ready, and the gate
    * would read incomplete data forever. Readiness = the marker file the
    * gate writes LAST ([[markLayoutComplete]]); a directory present
    * without it is a dead partial and is cleared here so the caller
    * re-stages. */
  private def layoutDir(spark: SparkSession, family: String,
                        dir: String): (org.apache.hadoop.fs.Path, Boolean) = {
    val name = GateIndex.gatePrefix(spark, family, dir)
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val p = new org.apache.hadoop.fs.Path(wh, name)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ready = fs.exists(layoutMarker(p))
    if (!ready && fs.exists(p)) fs.delete(p, true)
    (p, ready)
  }

  private def layoutMarker(p: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(p, "_GRAFT_LAYOUT_COMPLETE")

  /** Stamp a layout staging directory complete — called by each layout
    * gate strictly AFTER its last write/compact step, so readiness is
    * atomic with respect to crashes (the marker either exists — every
    * prior write finished — or the next probe clears the partial). */
  private def markLayoutComplete(spark: SparkSession,
                                 p: org.apache.hadoop.fs.Path): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.create(layoutMarker(p), true).close()
  }

  def qLayoutBucketed(spark: SparkSession, dir: String): DataFrame = {
    val prefix = GateIndex.gatePrefix(spark, "graft_layout_bucket_gate", dir)
    if (!spark.catalog.tableExists(prefix)) {
      dropGateTable(spark, prefix)
      graft.operators.Bucketing.writeBucketed(
        Tables(spark, dir).documents, prefix, buckets = 8,
        keys = Seq("source"), sortCols = Seq("doc_id"))
    }
    layoutChecksum(graft.operators.Bucketing.readBucketed(spark, prefix))
  }

  def qLayoutRange(spark: SparkSession, dir: String): DataFrame = {
    val (p, exists) = layoutDir(spark, "graft_layout_range_gate", dir)
    if (!exists) {
      graft.operators.Bucketing.writeRangeClustered(
        Tables(spark, dir).documents, p.toString,
        sortKeys = Seq("n_chars", "doc_id"), partitions = 8)
      markLayoutComplete(spark, p)
    }
    layoutChecksum(spark.read.parquet(p.toString))
  }

  def qLayoutZorder(spark: SparkSession, dir: String): DataFrame = {
    val (p, exists) = layoutDir(spark, "graft_layout_zorder_gate", dir)
    if (!exists) {
      graft.operators.Bucketing.writeZOrdered(
        Tables(spark, dir).documents, p.toString,
        keyA = "n_chars", keyB = "doc_id", partitions = 8)
      markLayoutComplete(spark, p)
    }
    layoutChecksum(spark.read.parquet(p.toString))
  }

  def qLayoutCompact(spark: SparkSession, dir: String): DataFrame = {
    val (p, exists) = layoutDir(spark, "graft_layout_compact_gate", dir)
    if (!exists) {
      // stage the small-file problem (16-way split), then compact it
      Tables(spark, dir).documents.repartition(16)
        .write.parquet(p.toString)
      graft.operators.Bucketing.compact(spark, p.toString)
      markLayoutComplete(spark, p)
    }
    layoutChecksum(spark.read.parquet(p.toString))
  }

  /** Gate pins shards = 16 so the oracle SQL stays literal. */
  def qPackSequences(spark: SparkSession, dir: String): DataFrame =
    packSequences(Tables(spark, dir).documents, shards = 16)

  val qPackSequencesSql: String =
    """SELECT doc_id, doc_id % 16 AS shard,
      |  CAST(floor(coalesce(sum(len(string_split(text, ' '))) OVER (
      |    PARTITION BY doc_id % 16 ORDER BY doc_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 2048.0) AS BIGINT) AS bin,
      |  len(string_split(text, ' ')) AS n_tokens
      |FROM documents""".stripMargin

  /** Top df-scaled term per document (tf-idf shape with a rational idf —
    * score = nt·N/df keeps every arithmetic step IEEE-identical to the
    * oracle, unlike ln()). Corpus stats aggregate once (two-phase groupBy,
    * same skew-safe shape as q_doc_freq_score); the per-doc argmax is a
    * doc_id-partitioned window — balanced keys, not corpus-skewed. */
  def qTfidf(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val tf = docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(lower(col("text")))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("nt"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
      .withColumn("score",
        (col("nt") * col("n_docs")).cast("double") / col("df").cast("double"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
    scored.withColumn("rnk", row_number().over(w)).filter(col("rnk") === 1)
      .select(col("doc_id"), col("term").as("top_term"), col("score"))
  }

  val qTfidfSql: String =
    """WITH t AS (
      |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS nt FROM t GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
      |SELECT doc_id, term AS top_term, score FROM (
      |  SELECT tf.doc_id, tf.term,
      |    CAST(tf.nt * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) AS score,
      |    row_number() OVER (PARTITION BY tf.doc_id
      |      ORDER BY CAST(tf.nt * n.n_docs AS DOUBLE) / CAST(df.df AS DOUBLE) DESC,
      |               tf.term) AS rnk
      |  FROM tf JOIN df USING (term) CROSS JOIN n)
      |WHERE rnk = 1""".stripMargin

  /** Benchmark-contamination check: corpus documents sharing a word 5-gram
    * with a "benchmark" subset (doc_id % 97 == 0 stands in for the eval
    * set; self-hits included — a real decontamination run would subtract
    * the set itself). The benchmark gram set is small → broadcast join; the
    * corpus side explodes grams linearly and never shuffles before the
    * join, so the shape survives a 100 TB corpus. */
  /** Exploded lowercase word n-grams: (doc_id, gram). Map-only — the
    * explode runs inside the scan stage, no shuffle. */
  private[graft] def wordGrams(d: DataFrame, n: Int): DataFrame = d
    .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
    .select(col("doc_id"), explode(
      when(size(col("toks")) >= n,
        transform(sequence(lit(0), size(col("toks")) - n),
          i => array_join(slice(col("toks"), i + 1, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))).as("gram"))

  def qContamination(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val bench = wordGrams(docs.filter(pmod(col("doc_id"), lit(97)) === 0), 5)
      .select(col("gram")).distinct()
    wordGrams(docs, 5).join(broadcast(bench), "gram")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  val qContaminationSql: String =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |g AS (SELECT doc_id, unnest(
      |  CASE WHEN len(t) >= 5
      |       THEN list_transform(range(1, len(t) - 3), i -> array_to_string(t[i:i+4], ' '))
      |       ELSE [] END) AS gram FROM toks),
      |b AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
      |SELECT doc_id, count(DISTINCT gram) AS n_shared
      |FROM g JOIN b USING (gram) GROUP BY doc_id""".stripMargin

  /** Bloom-prefiltered contamination — same answer as [[qContamination]],
    * shaped for the benchmark set that does NOT fit in an executor
    * broadcast. The benchmark grams aggregate into Spark's native
    * BloomFilterAggregate (the runtime-filter sketch: xxhash64 keys,
    * ~11 bits/item at 3% fpp — a 100M-gram suite is ~140 MB instead of a
    * multi-GB exact set); the corpus gram stream is prefiltered by
    * BloomFilterMightContain inside the scan stage, and only the
    * survivors (true hits + ~fpp false positives) reach an exact
    * shuffle join that removes the false positives. Output is therefore
    * bit-identical to the exact query and shares its oracle. The bloom
    * build is one eager job (its bytes embed in the plan as a literal) —
    * the same contract as DataFrameStatFunctions.bloomFilter. It runs
    * over the RAW benchmark gram stream — bloom insertion is idempotent,
    * so the build needs no distinct and therefore no shuffle and no
    * cache. (An earlier revision persisted the distinct gram frame
    * instead; wall-time was the same at sf0.1 — the extra eager job is
    * the fixed cost, not the gram recompute — and the cache pinned
    * executor memory until explicitly released. This shape keeps the
    * expensive distinct shuffle to exactly one, lazily, inside the
    * verify-join job, with nothing pinned.)
    *
    * Sizing: `expectedGrams`/`fpp` set the sketch size (bits =
    * -n·ln(fpp)/ln²2). NOTE Spark silently clamps both to
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` (default 4M)
    * and `.maxNumBits` (default 67108864 = 8 MB) — for a truly huge
    * suite raise those confs, or the sketch saturates and the prefilter
    * degrades to a pass-through (still exact, just no pruning). */
  def contaminationBloom(docs: DataFrame, benchDocs: DataFrame, n: Int = 5,
      expectedGrams: Long = 1L << 20, fpp: Double = 0.03): DataFrame = {
    val bench = wordGrams(benchDocs, n).select(col("gram")).distinct()
    bloomPrefilteredGrams(docs, benchDocs, n, expectedGrams, fpp)
      .join(bench, "gram") // no broadcast hint: exact verify is a keyed shuffle join
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_shared"))
  }

  /** The bloom prefilter stage of [[contaminationBloom]], factored out so
    * specs can observe the prefilter's SELECTIVITY directly — in particular
    * that a conf-clamped (saturated) sketch degrades to a pass-through while
    * the verify join keeps the result exact. */
  private[graft] def bloomPrefilteredGrams(docs: DataFrame, benchDocs: DataFrame,
      n: Int, expectedGrams: Long, fpp: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    val benchGrams = wordGrams(benchDocs, n)
    val numBits = math.ceil(-expectedGrams * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val bloomAgg = new BloomFilterAggregate(
      Bridge.toCatalyst(xxhash64(col("gram"))), Literal(expectedGrams), Literal(numBits))
    // The sketch builds over the RAW gram stream: bloom insertion is
    // idempotent, so skipping the distinct keeps the build map-side-only
    // (partial sketches merge in the final agg — no row shuffle at all).
    val bloom = benchGrams.select(Bridge.column(bloomAgg.toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    val might = Bridge.column(BloomFilterMightContain(
      Literal(bloom), Bridge.toCatalyst(xxhash64(col("gram")))))
    wordGrams(docs, n).filter(might)
  }

  def qContaminationBloom(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    contaminationBloom(docs, docs.filter(pmod(col("doc_id"), lit(97)) === 0))
  }

  /** Corpus-level boilerplate line removal (CCNet-style). The word-soup
    * fixture has no newlines, so the gate PLANTS the line structure a web
    * corpus would have: every doc_id % 7 == 0 doc gets a shared header
    * line, every doc_id % 5 == 0 doc a shared footer — both occur in
    * hundreds of docs, far over min_docs = 3, so removal must strip
    * exactly those (plus the bodies of texts planted as ≥3-way exact
    * dups). String joins and integer positions only → bit-exact oracle. */
  def qBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val dirty = Tables(spark, dir).documents.select(col("doc_id"),
      concat(
        when(pmod(col("doc_id"), lit(7)) === 0,
          lit("ACCEPT COOKIES TO CONTINUE\n")).otherwise(lit("")),
        col("text"),
        when(pmod(col("doc_id"), lit(5)) === 0,
          lit("\nall rights reserved")).otherwise(lit(""))).as("text"))
    Dedup.removeCommonLines(dirty, "doc_id", "text", minDocs = 3)
  }

  val qBoilerplateSql: String =
    """WITH d AS (SELECT doc_id,
      |    (CASE WHEN doc_id % 7 = 0 THEN 'ACCEPT COOKIES TO CONTINUE' || chr(10) ELSE '' END)
      |    || text ||
      |    (CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'all rights reserved' ELSE '' END) AS text
      |  FROM documents),
      |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d),
      |l AS (SELECT doc_id, u.s['pos'] AS pos, u.s['line'] AS line
      |      FROM ls, UNNEST(list_transform(range(len(lines)),
      |        i -> struct_pack(pos := i, line := lines[i+1]))) AS u(s)),
      |c AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df
      |                        FROM l GROUP BY 1) WHERE df >= 3),
      |k AS (SELECT doc_id, list(line ORDER BY pos) AS kept
      |      FROM l WHERE line NOT IN (SELECT line FROM c) GROUP BY doc_id)
      |SELECT ls.doc_id,
      |  CASE WHEN k.kept IS NULL OR len(k.kept) = 0 THEN ''
      |       ELSE array_to_string(k.kept, chr(10)) END AS clean_text,
      |  CAST(len(ls.lines) - coalesce(len(k.kept), 0) AS BIGINT) AS n_removed
      |FROM ls LEFT JOIN k USING (doc_id)""".stripMargin

  /** Paragraph-level keep-first dedup (the Dolma pass). The word-soup
    * fixture has no newlines, so the gate plants the paragraph structure a
    * crawl would have: each doc becomes two paragraphs — its own text plus
    * a syndicated passage shared by every doc with the same doc_id % 53 —
    * so each planted passage repeats hundreds of times and must survive
    * only at its globally-first (doc, pos); ≥2-way exact-dup body texts
    * collapse to their first doc too. Integer positions and string joins
    * only → bit-exact oracle (row_number occurrence ranking). */
  def qParagraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val dirty = Tables(spark, dir).documents.select(col("doc_id"),
      concat(col("text"), lit("\n"),
        lit("syndicated passage "), pmod(col("doc_id"), lit(53)).cast("string"))
        .as("text"))
    Dedup.dedupParagraphs(dirty, "doc_id", "text")
  }

  val qParagraphDedupSql: String =
    """WITH d AS (SELECT doc_id,
      |    text || chr(10) || 'syndicated passage ' || CAST(doc_id % 53 AS VARCHAR) AS text
      |  FROM documents),
      |ls AS (SELECT doc_id, string_split(text, chr(10)) AS lines FROM d),
      |l AS (SELECT doc_id, u.s['pos'] AS pos, u.s['line'] AS line
      |      FROM ls, UNNEST(list_transform(range(len(lines)),
      |        i -> struct_pack(pos := i, line := lines[i+1]))) AS u(s)),
      |r AS (SELECT doc_id, pos, line,
      |        row_number() OVER (PARTITION BY line ORDER BY doc_id, pos) AS occ
      |      FROM l),
      |k AS (SELECT doc_id, list(line ORDER BY pos) AS kept
      |      FROM r WHERE occ = 1 GROUP BY doc_id)
      |SELECT ls.doc_id,
      |  CASE WHEN k.kept IS NULL OR len(k.kept) = 0 THEN ''
      |       ELSE array_to_string(k.kept, chr(10)) END AS clean_text,
      |  CAST(len(ls.lines) - coalesce(len(k.kept), 0) AS BIGINT) AS n_removed
      |FROM ls LEFT JOIN k USING (doc_id)""".stripMargin

  /** URL canonicalization + URL-level dedup (the C4 web pass). The
    * documents table carries no URL column, so the gate DERIVES one
    * deterministically — four variant spellings of the same logical page
    * (plain / uppercase+www+:80+tracking+fragment / :443+trailing-slash+
    * shuffled-params / www+gclid), page number shared by each run of four
    * consecutive doc_ids — so every normalization rule (case, scheme,
    * www, default port, fragment, tracking params, param order, trailing
    * slash) must fire for the groups to collapse. Strings and integers
    * only → bit-exact oracle. */
  def qUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    val page = expr("doc_id div 4 % 97").cast("string")
    val urls = Tables(spark, dir).documents.select(col("doc_id"),
      when(pmod(col("doc_id"), lit(4)) === 0,
        concat(lit("https://example.com/page/"), page))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(lit("HTTP://WWW.EXAMPLE.COM:80/page/"), page,
          lit("?utm_source=rss&fbclid=x11#frag")))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        concat(lit("https://example.com:443/page/"), page, lit("/?b=2&a=1")))
      .otherwise(concat(lit("https://www.example.com/page/"), page,
        lit("?a=1&gclid=zz&b=2"))).as("url"))
    Web.urlDupGroups(urls, "doc_id", "url").orderBy(col("url_key"))
  }

  /** Per-host page cap (RefinedWeb: no site dominates the corpus) with
    * synthetic multi-host URLs (10 hosts via doc_id%10, scheme/www/port
    * noise exercising the host normalizer), fully oracle-checked: host
    * extraction + md5-ranked k-per-host selection, layout-independent. */
  def qCapPerHost(spark: SparkSession, dir: String): DataFrame = {
    val urls = Tables(spark, dir).documents.select(col("doc_id"),
      concat(lit("https://WWW.site"), pmod(col("doc_id"), lit(10)),
        lit(".example.org:443/p/"), col("doc_id")).as("url"))
    Web.capPerHost(urls, "doc_id", "url", k = 12).orderBy(col("doc_id"))
  }

  val qCapPerHostSql: String =
    """WITH u AS (SELECT doc_id,
      |    'https://WWW.site' || (doc_id % 10) || '.example.org:443/p/' || doc_id AS url
      |  FROM documents),
      |s AS (SELECT doc_id, url,
      |    regexp_replace(split_part(lower(trim(url)), '#', 1),
      |                   '^[a-z][a-z0-9+.-]*://', '') AS ns FROM u),
      |hh AS (SELECT doc_id, url,
      |    regexp_replace(regexp_replace(split_part(split_part(ns, '?', 1), '/', 1),
      |                   '^www\.', ''), ':(80|443)$', '') AS host FROM s),
      |r AS (SELECT doc_id, url,
      |    row_number() OVER (PARTITION BY host
      |      ORDER BY substring(md5(host || '-' || doc_id), 1, 15), doc_id) AS rn
      |  FROM hh)
      |SELECT doc_id, url FROM r WHERE rn <= 12 ORDER BY doc_id""".stripMargin

  val qUrlDedupSql: String =
    """WITH u AS (SELECT doc_id,
      |    CASE doc_id % 4
      |      WHEN 0 THEN 'https://example.com/page/' || CAST((doc_id // 4) % 97 AS VARCHAR)
      |      WHEN 1 THEN 'HTTP://WWW.EXAMPLE.COM:80/page/' || CAST((doc_id // 4) % 97 AS VARCHAR)
      |                  || '?utm_source=rss&fbclid=x11#frag'
      |      WHEN 2 THEN 'https://example.com:443/page/' || CAST((doc_id // 4) % 97 AS VARCHAR)
      |                  || '/?b=2&a=1'
      |      ELSE 'https://www.example.com/page/' || CAST((doc_id // 4) % 97 AS VARCHAR)
      |           || '?a=1&gclid=zz&b=2'
      |    END AS url FROM documents),
      |s AS (SELECT doc_id,
      |    regexp_replace(split_part(lower(trim(url)), '#', 1),
      |                   '^[a-z][a-z0-9+.-]*://', '') AS ns FROM u),
      |p AS (SELECT doc_id, split_part(ns, '?', 1) AS base,
      |    regexp_extract(ns, '\?(.*)$', 1) AS qs FROM s),
      |q AS (SELECT doc_id, base,
      |    coalesce(array_to_string(list_sort(list_filter(string_split(qs, '&'),
      |      x -> x <> '' AND NOT regexp_matches(x, '^(utm_[^=]*|fbclid|gclid|ref)(=|$)'))),
      |      '&'), '') AS qn
      |  FROM p),
      |k AS (SELECT doc_id,
      |    regexp_replace(regexp_replace(split_part(base, '/', 1), '^www\.', ''),
      |                   ':(80|443)$', '')
      |    || regexp_replace(regexp_extract(base, '^[^/]*(/.*)$', 1), '/+$', '')
      |    || CASE WHEN qn = '' THEN '' ELSE '?' || qn END AS url_key
      |  FROM q)
      |SELECT url_key, min(doc_id) AS keeper_id, count(*) AS n_docs
      |FROM k GROUP BY url_key ORDER BY url_key""".stripMargin

  /** HTML → text extraction (the C4 upstream pass). The documents table
    * carries prose, not markup, so the gate WRAPS each doc in a
    * deterministic page template that exercises every rule of the chain:
    * script (containing a bare `<`), style, title and comment removal,
    * block-tag and `<br/>` newlines, tag stripping, all six entity
    * decodes, whitespace collapse and edge trim — plus href extraction.
    * Every pattern is Java-regex/RE2-identical (no backreferences), so
    * the oracle replays the chain bit-exactly. */
  def qHtmlExtract(spark: SparkSession, dir: String): DataFrame = {
    val page = concat(
      lit("<html><head><title>t</title><style>body{x:1}</style>" +
        "<script>if(1<2){a=\"&amp;\";}</script></head><body><!--gen--><h1>Doc "),
      col("doc_id").cast("string"),
      lit("</h1><p>"), col("text"),
      lit("</p><ul><li>item &amp; one</li>" +
        "<li><a href=\"https://ex.com/a?x=1\">A</a></li></ul>" +
        "<div class=\"f\">contact &lt;admin&gt;&nbsp;&quot;here&quot;" +
        "<br/>rights <a href=\"https://ex.com/b\">B</a></div></body></html>"))
    Tables(spark, dir).documents.select(col("doc_id"),
      Web.htmlToText(page).as("clean_text"),
      array_join(Web.htmlLinks(page), "|").as("links"),
      size(Web.htmlLinks(page)).as("n_links"))
  }

  val qHtmlExtractSql: String =
    """WITH h AS (SELECT doc_id,
      |    '<html><head><title>t</title><style>body{x:1}</style>'
      |    || '<script>if(1<2){a="&amp;";}</script></head><body><!--gen--><h1>Doc '
      |    || CAST(doc_id AS VARCHAR) || '</h1><p>' || text
      |    || '</p><ul><li>item &amp; one</li>'
      |    || '<li><a href="https://ex.com/a?x=1">A</a></li></ul>'
      |    || '<div class="f">contact &lt;admin&gt;&nbsp;&quot;here&quot;'
      |    || '<br/>rights <a href="https://ex.com/b">B</a></div></body></html>' AS page
      |  FROM documents),
      |t1 AS (SELECT doc_id, page, regexp_replace(regexp_replace(regexp_replace(page,
      |    '(?is)<script\b[^>]*>.*?</script\s*>', '', 'g'),
      |    '(?is)<style\b[^>]*>.*?</style\s*>', '', 'g'),
      |    '(?is)<title\b[^>]*>.*?</title\s*>', '', 'g') AS x FROM h),
      |t2 AS (SELECT doc_id, page, regexp_replace(x, '(?s)<!--.*?-->', '', 'g') AS x FROM t1),
      |t3 AS (SELECT doc_id, page, regexp_replace(regexp_replace(x,
      |    '(?i)</(p|div|li|ul|ol|h[1-6]|tr|table|blockquote)\s*>', chr(10), 'g'),
      |    '(?i)<(br|hr)\s*/?\s*>', chr(10), 'g') AS x FROM t2),
      |t4 AS (SELECT doc_id, page, regexp_replace(x, '<[^>]*>', '', 'g') AS x FROM t3),
      |t5 AS (SELECT doc_id, page,
      |    replace(replace(replace(replace(replace(replace(x,
      |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', chr(39)), '&nbsp;', ' '), '&amp;', '&') AS x FROM t4),
      |t6 AS (SELECT doc_id, page, regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(x, '[ \t\r\f]+', ' ', 'g'),
      |    ' ?\n ?', chr(10), 'g'), '\n+', chr(10), 'g'),
      |    '^[ \n]+|[ \n]+$', '', 'g') AS x FROM t5)
      |SELECT doc_id, x AS clean_text,
      |  array_to_string(regexp_extract_all(page, '(?i)href\s*=\s*"([^"]*)"', 1), '|') AS links,
      |  CAST(len(regexp_extract_all(page, '(?i)href\s*=\s*"([^"]*)"', 1)) AS INT) AS n_links
      |FROM t6""".stripMargin

  /** Markdown → text extraction (the [[qHtmlExtract]] sibling): each doc
    * wraps in a markdown page exercising every chain rule — fence drop,
    * inline code, image/link/reference-link anchor keep, header / hr /
    * blockquote / bullet strips, emphasis+strike strip — and the oracle
    * replays the identical regex chain. */
  def qMarkdownExtract(spark: SparkSession, dir: String): DataFrame = {
    val page = concat_ws("\n",
      concat(lit("# Doc "), col("doc_id").cast("string")),
      lit("> q"),
      concat(lit("Some **bold** _em_ ~~gone~~ snake_case: "), col("text")),
      lit("- [link](https://ex.com/a?x=1) ![alt](https://ex.com/i.png)"),
      lit("1. `inline code` and [ref][1]"),
      lit("---"),
      lit("```"),
      lit("fenced **code** [x](y)"),
      lit("```"),
      lit("end"))
    Tables(spark, dir).documents.select(col("doc_id"),
      Web.markdownToText(page).as("clean_text"),
      array_join(Web.markdownLinks(page), "|").as("links"),
      size(Web.markdownLinks(page)).as("n_links"))
  }

  val qMarkdownExtractSql: String =
    """WITH h AS (SELECT doc_id, text,
      |    '# Doc ' || CAST(doc_id AS VARCHAR) || chr(10)
      |    || '> q' || chr(10)
      |    || 'Some **bold** _em_ ~~gone~~ snake_case: ' || text || chr(10)
      |    || '- [link](https://ex.com/a?x=1) ![alt](https://ex.com/i.png)' || chr(10)
      |    || '1. `inline code` and [ref][1]' || chr(10)
      |    || '---' || chr(10)
      |    || '```' || chr(10)
      |    || 'fenced **code** [x](y)' || chr(10)
      |    || '```' || chr(10)
      |    || 'end' AS page
      |  FROM documents),
      |t1 AS (SELECT doc_id, page, regexp_replace(page, '(?s)```.*?```', chr(10), 'g') AS x FROM h),
      |t2 AS (SELECT doc_id, page, regexp_replace(x, '`([^`\n]*)`', '\1', 'g') AS x FROM t1),
      |t3 AS (SELECT doc_id, page, regexp_replace(x, '!\[([^\]]*)\]\(([^)]*)\)', '\1', 'g') AS x FROM t2),
      |t4 AS (SELECT doc_id, page, regexp_replace(x, '\[([^\]]*)\]\(([^)]*)\)', '\1', 'g') AS x FROM t3),
      |t5 AS (SELECT doc_id, page, regexp_replace(x, '\[([^\]]*)\]\[[^\]]*\]', '\1', 'g') AS x FROM t4),
      |t6 AS (SELECT doc_id, page, regexp_replace(x, '(?m)^[ \t]{0,3}#{1,6}[ \t]*', '', 'g') AS x FROM t5),
      |t7 AS (SELECT doc_id, page, regexp_replace(x, '(?m)^[ \t]*([-*_][ \t]*){3,}$', '', 'g') AS x FROM t6),
      |t8 AS (SELECT doc_id, page, regexp_replace(x, '(?m)^[ \t]*>[ \t]?', '', 'g') AS x FROM t7),
      |t9 AS (SELECT doc_id, page, regexp_replace(x, '(?m)^[ \t]*([-*+]|[0-9]+\.)[ \t]+', '', 'g') AS x FROM t8),
      |t10 AS (SELECT doc_id, page, regexp_replace(x, '\*{1,3}|_{1,3}|~~', '', 'g') AS x FROM t9),
      |t11 AS (SELECT doc_id, page, regexp_replace(regexp_replace(regexp_replace(
      |    regexp_replace(x, '[ \t\r\f]+', ' ', 'g'),
      |    ' ?\n ?', chr(10), 'g'), '\n+', chr(10), 'g'),
      |    '^[ \n]+|[ \n]+$', '', 'g') AS x FROM t10)
      |SELECT doc_id, x AS clean_text,
      |  array_to_string(regexp_extract_all(page, '\[[^\]]*\]\(([^)]*)\)', 1), '|') AS links,
      |  CAST(len(regexp_extract_all(page, '\[[^\]]*\]\(([^)]*)\)', 1)) AS INT) AS n_links
      |FROM t11""".stripMargin

  /** Dictionary tagging over the documents table (the FlashText / keyword
    * routing pass): which of a fixed phrase list appears in each doc, as a
    * substring — including multi-word phrases, which token-set operators
    * can't see. One Aho-Corasick automaton pass per doc; presence
    * semantics make the oracle an exact `contains` replication (the list
    * is pre-sorted, so filter order IS output order on both sides). */
  val TagDict: Seq[String] = Seq(
    "customer", "fast merge", "hash join", "slow query", "spark", "vector")

  def qDictTag(spark: SparkSession, dir: String): DataFrame = {
    val hits = graft.plans.Native.dictMatch(coalesce(col("text"), lit("")), TagDict)
    Tables(spark, dir).documents.select(col("doc_id"),
      concat_ws("|", hits).as("terms"),
      size(hits).as("n_terms"))
  }

  val qDictTagSql: String = {
    val dictSql = TagDict.map(p => s"'$p'").mkString("[", ", ", "]")
    s"""SELECT doc_id,
       |  coalesce(array_to_string(list_filter($dictSql,
       |    p -> contains(coalesce(text, ''), p)), '|'), '') AS terms,
       |  CAST(len(list_filter($dictSql, p -> contains(coalesce(text, ''), p))) AS INT) AS n_terms
       |FROM documents""".stripMargin
  }

  /** Exact repeated-substring REMOVAL (Lee et al. 2022) over the documents
    * table at n = 8 — the operator q_repeated_grams is the detection signal
    * for. Keep-first-occurrence policy; integer positions and string joins
    * only, so the DuckDB oracle (row_number occurrence ranking + nested
    * list lambdas) is bit-exact. */
  def qSubstringDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.removeRepeatedRuns(Tables(spark, dir).documents, "doc_id", "text", n = 8)

  val qSubstringDedupSql: String =
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
      |g AS (SELECT doc_id, unnest(
      |    CASE WHEN len(toks) >= 8 THEN
      |      list_transform(range(1, len(toks) - 8 + 2),
      |        i -> {'pos': i - 1, 'gram': array_to_string(toks[i:i+7], ' ')})
      |    ELSE [] END, recursive := true)
      |  FROM t),
      |r AS (SELECT doc_id, pos,
      |        row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
      |      FROM g),
      |d AS (SELECT doc_id, list_sort(list(DISTINCT pos)) AS dups
      |      FROM r WHERE rn > 1 GROUP BY doc_id),
      |m AS (SELECT t.doc_id, t.toks, coalesce(d.dups, []) AS dups
      |      FROM t LEFT JOIN d ON t.doc_id = d.doc_id),
      |k AS (SELECT doc_id, toks,
      |        list_filter(toks, (tok, i) ->
      |          len(list_filter(dups, p -> p <= i - 1 AND i - 1 < p + 8)) = 0) AS kept
      |      FROM m)
      |SELECT doc_id,
      |  -- array_to_string([]) is NULL in DuckDB but concat_ws gives '' in
      |  -- Spark; a fully-removed doc must read as an EMPTY string
      |  CASE WHEN len(kept) = 0 THEN '' ELSE array_to_string(kept, ' ') END AS clean_text,
      |  CAST(len(toks) - len(kept) AS BIGINT) AS n_removed
      |FROM k""".stripMargin

  /** Winnowing fingerprint matching (Schleimer et al. 2003 — MOSS) over
    * the documents table: pairs sharing ≥ 2 selected fingerprints at
    * k=4, w=4, with the exact shared count. The oracle replicates the
    * ENTIRE pipeline — portable md5 gram hash, ×w window membership,
    * rightmost-min selection, the maxBucket skew cap, pair counting —
    * so the gate is exact at every scale (the q_dedup_simhash_exact
    * discipline). */
  def qWinnow(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(Tables(spark, dir).documents, "doc_id", "text",
        k = 4, w = 4, maxBucket = 64, minShared = 2)
      .select(col("a"), col("b"), col("shared").cast("bigint").as("shared"))
      .orderBy(col("a"), col("b"))

  val qWinnowSql: String = {
    val hexVal = (1 to 15).map { p =>
      val wgt = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(h, $p, 1)) - 1) * $wgt"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       |g0 AS (SELECT doc_id, len(toks) - 4 + 1 AS gcnt, unnest(
       |    CASE WHEN len(toks) >= 4 THEN
       |      list_transform(range(1, len(toks) - 4 + 2),
       |        i -> {'pos': i - 1, 'gram': array_to_string(toks[i:i+3], ' ')})
       |    ELSE [] END, recursive := true)
       |  FROM t),
       |hx AS (SELECT doc_id, gcnt, pos, substring(md5(gram), 1, 15) AS h FROM g0),
       |g AS (SELECT doc_id, gcnt, pos, $hexVal AS v FROM hx),
       |win AS (SELECT doc_id, v, pos, u.s AS s
       |  FROM g, UNNEST(range(greatest(pos - 3, 0),
       |                       least(pos, greatest(gcnt - 4, 0)) + 1)) AS u(s)),
       |sel AS (SELECT doc_id, v,
       |          row_number() OVER (PARTITION BY doc_id, s ORDER BY v, pos DESC) AS rn
       |        FROM win),
       |fp AS (SELECT DISTINCT doc_id, v FROM sel WHERE rn = 1),
       |r AS (SELECT doc_id, v,
       |        row_number() OVER (PARTITION BY v ORDER BY doc_id) AS brn FROM fp),
       |p AS (SELECT x.doc_id AS a, y.doc_id AS b
       |      FROM r x JOIN r y ON x.v = y.v AND x.doc_id < y.doc_id
       |      WHERE x.brn <= 64 AND y.brn <= 64)
       |SELECT a, b, CAST(count(*) AS BIGINT) AS shared
       |FROM p GROUP BY a, b HAVING count(*) >= 2 ORDER BY a, b""".stripMargin
  }

  /** Containment report (Broder 1997's containment, not resemblance)
    * over winnowing candidates at minShared=1 — integer-exact distinct-
    * token overlaps, so the oracle needs no float parity at all. The
    * SQL replicates the whole chain: winnowing selection, bucket cap,
    * pair set, md5 token sets, intersection counts. */
  def qContainment(spark: SparkSession, dir: String): DataFrame =
    Dedup.containmentPairs(Tables(spark, dir).documents, "doc_id", "text",
        k = 4, w = 4, maxBucket = 64, minShared = 1)
      .orderBy(col("a"), col("b"))

  val qContainmentSql: String = {
    val hexVal = (1 to 15).map { p =>
      val wgt = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(h, $p, 1)) - 1) * $wgt"
    }.mkString(" + ")
    val hexValTok = (1 to 15).map { p =>
      val wgt = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(md5(t), $p, 1)) - 1) * $wgt"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       |g0 AS (SELECT doc_id, len(toks) - 4 + 1 AS gcnt, unnest(
       |    CASE WHEN len(toks) >= 4 THEN
       |      list_transform(range(1, len(toks) - 4 + 2),
       |        i -> {'pos': i - 1, 'gram': array_to_string(toks[i:i+3], ' ')})
       |    ELSE [] END, recursive := true)
       |  FROM t),
       |hx AS (SELECT doc_id, gcnt, pos, substring(md5(gram), 1, 15) AS h FROM g0),
       |g AS (SELECT doc_id, gcnt, pos, $hexVal AS v FROM hx),
       |win AS (SELECT doc_id, v, pos, u.s AS s
       |  FROM g, UNNEST(range(greatest(pos - 3, 0),
       |                       least(pos, greatest(gcnt - 4, 0)) + 1)) AS u(s)),
       |sel AS (SELECT doc_id, v,
       |          row_number() OVER (PARTITION BY doc_id, s ORDER BY v, pos DESC) AS rn
       |        FROM win),
       |fp AS (SELECT DISTINCT doc_id, v FROM sel WHERE rn = 1),
       |r AS (SELECT doc_id, v,
       |        row_number() OVER (PARTITION BY v ORDER BY doc_id) AS brn FROM fp),
       |p AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |      FROM r x JOIN r y ON x.v = y.v AND x.doc_id < y.doc_id
       |      WHERE x.brn <= 64 AND y.brn <= 64),
       |ts AS (SELECT doc_id,
       |         list_distinct(list_transform(toks, t -> $hexValTok)) AS hset
       |       FROM t)
       |SELECT p.a, p.b,
       |  CAST(len(list_intersect(ta.hset, tb.hset)) AS BIGINT) AS inter,
       |  CAST(len(ta.hset) AS BIGINT) AS n_a,
       |  CAST(len(tb.hset) AS BIGINT) AS n_b
       |FROM p JOIN ts ta ON p.a = ta.doc_id JOIN ts tb ON p.b = tb.doc_id
       |ORDER BY a, b""".stripMargin
  }

  /** Incremental containment: docs with doc_id % 4 != 0 are the indexed
    * corpus, the rest probe it as a batch. Same full-replication oracle
    * as q_containment — the winnowing chain for both sides, the
    * corpus-only bucket cap, the pair set, the token-set intersections —
    * proving the persisted-index layout changes the plan, never the
    * answer. */
  def qContainmentInc(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
    val corpus = docs.filter(pmod(col("doc_id"), lit(4)) =!= 0)
    val batch = docs.filter(pmod(col("doc_id"), lit(4)) === 0)
    val prefix = GateIndex.gatePrefix(spark, "graft_winnow_gate_idx", dir)
    if (!spark.catalog.tableExists(s"${prefix}_sets")) {
      dropGateTable(spark, s"${prefix}_fps")
      dropGateTable(spark, s"${prefix}_sets")
      Dedup.buildWinnowIndex(corpus, prefix, buckets = 8,
        idCol = "doc_id", textCol = "text")
    }
    Dedup.containmentAgainstIndex(batch, prefix,
        idCol = "doc_id", textCol = "text", minShared = 1)
      .orderBy(col("bid"), col("cid"))
  }

  val qContainmentIncSql: String = {
    val hexVal = (1 to 15).map { p =>
      val wgt = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(h, $p, 1)) - 1) * $wgt"
    }.mkString(" + ")
    val hexValTok = (1 to 15).map { p =>
      val wgt = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(md5(t), $p, 1)) - 1) * $wgt"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
       |g0 AS (SELECT doc_id, len(toks) - 4 + 1 AS gcnt, unnest(
       |    CASE WHEN len(toks) >= 4 THEN
       |      list_transform(range(1, len(toks) - 4 + 2),
       |        i -> {'pos': i - 1, 'gram': array_to_string(toks[i:i+3], ' ')})
       |    ELSE [] END, recursive := true)
       |  FROM t),
       |hx AS (SELECT doc_id, gcnt, pos, substring(md5(gram), 1, 15) AS h FROM g0),
       |g AS (SELECT doc_id, gcnt, pos, $hexVal AS v FROM hx),
       |win AS (SELECT doc_id, v, pos, u.s AS s
       |  FROM g, UNNEST(range(greatest(pos - 3, 0),
       |                       least(pos, greatest(gcnt - 4, 0)) + 1)) AS u(s)),
       |sel AS (SELECT doc_id, v,
       |          row_number() OVER (PARTITION BY doc_id, s ORDER BY v, pos DESC) AS rn
       |        FROM win),
       |fp AS (SELECT DISTINCT doc_id, v FROM sel WHERE rn = 1),
       |cfp AS (SELECT doc_id, v,
       |          row_number() OVER (PARTITION BY v ORDER BY doc_id) AS brn
       |        FROM fp WHERE doc_id % 4 <> 0),
       |bfp AS (SELECT doc_id, v FROM fp WHERE doc_id % 4 = 0),
       |p AS (SELECT DISTINCT b.doc_id AS bid, c.doc_id AS cid
       |      FROM bfp b JOIN cfp c ON b.v = c.v WHERE c.brn <= 64),
       |ts AS (SELECT doc_id,
       |         list_distinct(list_transform(toks, t -> $hexValTok)) AS hset
       |       FROM t)
       |SELECT p.bid, p.cid,
       |  CAST(len(list_intersect(tb.hset, tc.hset)) AS BIGINT) AS inter,
       |  CAST(len(tb.hset) AS BIGINT) AS n_b,
       |  CAST(len(tc.hset) AS BIGINT) AS n_c
       |FROM p JOIN ts tb ON p.bid = tb.doc_id JOIN ts tc ON p.cid = tc.doc_id
       |ORDER BY bid, cid""".stripMargin
  }

  /** BPE training's corpus-sized pass — the weighted character-pair count
    * table over the word-frequency table (Sennrich et al. 2016). This is
    * the ONLY part of BPE training that touches corpus-scale data (one
    * groupBy to the vocab table, one to the pair table); the merge loop
    * (q_bpe_train) then iterates on vocab-sized state. Integer counts →
    * bit-exact oracle. */
  def qBpePairs(spark: SparkSession, dir: String): DataFrame =
    Bpe.pairCounts(
      Bpe.wordFreqs(Tables(spark, dir).documents, "text")
        .select(Bpe.charSyms(col("word")).as("syms"), col("cnt")))

  val qBpePairsSql: String =
    """WITH w AS (SELECT word, count(*) AS wc FROM
      |    (SELECT unnest(string_split(lower(text), ' ')) AS word FROM documents)
      |  GROUP BY 1),
      |s AS (SELECT wc, list_append(
      |        list_transform(range(len(word)), i -> word[i+1:i+1]), '</w>') AS syms
      |      FROM w),
      |p AS (SELECT syms[i+1] AS a, syms[i+2] AS b, wc
      |      FROM s, UNNEST(range(len(syms) - 1)) AS t(i))
      |SELECT a, b, CAST(sum(wc) AS BIGINT) AS cnt FROM p GROUP BY 1, 2""".stripMargin

  /** The trained merge table (rank, a, b) at 12 merges — rows-only BY
    * DESIGN: the merge loop is iterative argmax-and-rewrite state no
    * single SQL statement expresses; its exact pin is the hand-computed
    * Sennrich-fixture spec (the paper's low/lower/newest/widest corpus,
    * full expected merge sequence) plus q_bpe_pairs gating the corpus
    * pass bit-exactly. Deterministic: ties break (cnt DESC, a ASC, b
    * ASC), so reruns and repartitionings produce this exact table. */
  def qBpeTrain(spark: SparkSession, dir: String): DataFrame = {
    val merges = Bpe.train(Tables(spark, dir).documents, "text", numMerges = 12)
    import spark.implicits._
    merges.zipWithIndex
      .map { case ((a, b), i) => (i + 1L, a, b) }
      .toDF("rank", "a", "b")
  }

  /** Corpus bigram language-model score — the cheap statistical fluency
    * filter a training pipeline runs where a neural LM is too expensive:
    * documents whose word bigrams are mostly corpus-frequent read as
    * fluent text; gibberish and boilerplate skew rare. Two-phase shape:
    * (1) bigram document frequencies via a partial-aggregated groupBy on
    * the gram key (shuffle carries (gram, count) pairs, never documents);
    * (2) the corpus gram stream joins the frequency table on the same key
    * (AQE picks the strategy; at 100 TB both sides are gram-partitioned)
    * and aggregates per doc. Outputs are exact integers plus one IEEE
    * division, so the oracle matches bit-for-bit.
    *
    * The gram is a pure internal key here (never output), so it travels
    * as a 128-bit double xxhash64 instead of the bigram string — the same
    * shuffle-width cut as [[graft.operators.Dedup.removeRepeatedRuns]],
    * with the same ≪2^-64 birthday bound on exactness. */
  def qLmBigram(spark: SparkSession, dir: String): DataFrame = {
    val grams = wordGrams(Tables(spark, dir).documents, 2)
      .select(col("doc_id"),
        xxhash64(col("gram")).as("g1"),
        xxhash64(lit("graft-lm"), col("gram")).as("g2"))
    val common = grams.groupBy(col("g1"), col("g2"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 3)
      .select(col("g1"), col("g2"), lit(1).as("is_common"))
    grams.join(common, Seq("g1", "g2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("is_common")).as("n_common"))
      .select(col("doc_id"), col("n_bigrams"), col("n_common"),
        (col("n_common").cast("double") / col("n_bigrams").cast("double")).as("common_frac"))
  }

  val qLmBigramSql: String =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |g AS (SELECT doc_id, unnest(
      |  CASE WHEN len(t) >= 2
      |       THEN list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))
      |       ELSE [] END) AS gram FROM toks),
      |c AS (SELECT gram, 1 AS is_common
      |      FROM (SELECT gram, count(DISTINCT doc_id) AS df FROM g GROUP BY 1)
      |      WHERE df >= 3)
      |SELECT doc_id, count(*) AS n_bigrams, count(is_common) AS n_common,
      |  CAST(count(is_common) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS common_frac
      |FROM g LEFT JOIN c USING (gram) GROUP BY doc_id""".stripMargin

  /** CCNet's head/middle/tail data map (Wenzek et al. 2020 §4.4: corpora
    * are released in perplexity terciles per language — head trains,
    * tail gets filtered): per-SOURCE tercile bucketing of the corpus-LM
    * quality score (the gate's model-score stand-in for the KenLM
    * perplexity — the synthetic corpus saturates the bigram-LM fraction
    * at 1.0, which would collapse every tercile; higher = better). Terciles are RANK-based
    * (CCNet splits by equal counts), realized integer-exactly: a global
    * [[stableRanks]] pass ordered (source, q, id) gives every doc its
    * ordinal without a per-source window (per-source rank = global rank
    * minus the source's broadcast min-rank), and tercile = (3·r0) div n
    * — no float cut values anywhere, so the oracle needs no percentile
    * interpolation parity (an earlier quantile_cont formulation died on
    * last-ulp boundary flips). */
  /** Annotate every row with its per-`sourceCol` tercile of `score`
    * (tail/middle/head, ascending) — rank-exact, no per-source window,
    * no float cuts. Keeps all input columns plus `bucket`. */
  def ccnetAnnotate(df: DataFrame, sourceCol: String, idCol: String,
                    score: Column): DataFrame = {
    val scored = df.withColumn("__q", score)
    val ranked = stableRanks(scored,
      Seq(col(sourceCol), col("__q"), col(idCol)), "__r")
    val base = ranked.groupBy(col(sourceCol))
      .agg(min(col("__r")).as("__r0"), count(lit(1)).as("__n"))
    ranked.join(broadcast(base), sourceCol)
      .withColumn("__t", expr("CAST(((__r - __r0) * 3) DIV __n AS INT)"))
      .withColumn("bucket",
        when(col("__t") === 0, lit("tail"))
          .when(col("__t") === 1, lit("middle"))
          .otherwise(lit("head")))
      .drop("__q", "__r", "__r0", "__n", "__t")
  }

  def qCcnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetAnnotate(Tables(spark, dir).documents, "source", "doc_id",
        TextAnalysis.qualityScore(col("text")))
      .groupBy(col("source"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  val qCcnetBucketsSql: String =
    """WITH s AS (SELECT doc_id, source,
      |  least(CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0, 1.0) * 0.4
      |  + (CASE WHEN (CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS DOUBLE) /
      |       CAST(len(string_split(text, ' ')) AS DOUBLE)) BETWEEN 3.0 AND 10.0
      |      THEN 1.0 ELSE 0.5 END) * 0.3
      |  + greatest(0.0, 1.0 - (CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS DOUBLE) /
      |       greatest(CAST(length(text) AS DOUBLE), 1.0)) * 5.0) * 0.3 AS q
      |  FROM documents),
      |r AS (SELECT source, q, doc_id,
      |        row_number() OVER (PARTITION BY source ORDER BY q, doc_id) - 1 AS r0,
      |        count(*) OVER (PARTITION BY source) AS nn
      |      FROM s)
      |SELECT source,
      |  CASE ((r0 * 3) // nn) WHEN 0 THEN 'tail' WHEN 1 THEN 'middle'
      |       ELSE 'head' END AS bucket,
      |  count(*) AS n
      |FROM r GROUP BY 1, 2""".stripMargin

  /** Repeated long n-grams across the corpus — the exact-substring dedup
    * signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): word 8-grams occurring in more than one document.
    * The gram explode is map-side and linear; the count is a two-phase
    * groupBy on the gram key (partial aggregates combine map-side), so at
    * 100 TB the shuffle carries (gram, partial-count) pairs, never
    * documents. countDistinct(doc_id) rides Spark's standard two-shuffle
    * distinct-agg expansion — balanced keys, no window. */
  def qRepeatedGrams(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).documents
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode(
        when(size(col("toks")) >= 8,
          transform(sequence(lit(0), size(col("toks")) - 8),
            i => array_join(slice(col("toks"), i + 1, lit(8)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
      .groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("n_docs"), count(lit(1)).as("n_occ"))
      .filter(col("n_docs") > 1)

  val qRepeatedGramsSql: String =
    """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
      |g AS (SELECT doc_id, unnest(
      |  CASE WHEN len(t) >= 8
      |       THEN list_transform(range(1, len(t) - 6), i -> array_to_string(t[i:i+7], ' '))
      |       ELSE [] END) AS gram FROM toks)
      |SELECT gram, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
      |FROM g GROUP BY gram HAVING count(DISTINCT doc_id) > 1""".stripMargin

  /** Per-source token statistics — the data-mixture report a training run
    * starts from: doc counts, token totals, p50/p95 token lengths. The
    * percentiles are linear-interpolated order statistics computed with
    * INTEGER arithmetic over a per-source token-count histogram: position
    * p*(n-1) is carried as an exact rational (halves for p50, twentieths
    * for p95), the bracketing values come from cumulative histogram ranks,
    * and the result is reported as the exact integer NUMERATOR of that
    * rational (p50_x2 = 2*p50, p95_x20 = 20*p95, both BIGINT) — no
    * floating-point op anywhere, so no engine's float or formatting
    * internals can perturb the value. (Engine-native percentile aggregates
    * proved non-portable across DuckDB versions, and even a single final
    * IEEE division left an unexplained cross-engine hash gap.) Scale
    * shape: ONE raw scan partial-aggregates into a (source, nt) histogram
    * — bounded by distinct doc lengths, not corpus size — and both the
    * rank window and the per-source totals run over that compact histogram
    * only (totals via an unbounded window: n_docs = sum(c),
    * n_tokens = sum(nt*c)). */
  private def tokenStatsCore(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir).documents
      .select(col("source"), TextAnalysis.tokenCountWs(col("text")).cast("bigint").as("nt"))
    val hist = d.groupBy(col("source"), col("nt")).agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("source").orderBy("nt")
    // unbounded frame on the same ordered spec: one Window operator, one
    // sort pass over the histogram
    val wAll = w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    // value nt covers 0-based sorted ranks [lo, hi); totals fold into the
    // same histogram pass so the plan keeps a single FileScan
    val cum = hist
      .withColumn("hi", sum(col("c")).over(w))
      .withColumn("lo", col("hi") - col("c"))
      .withColumn("n_docs", sum(col("c")).over(wAll))
      .withColumn("n_tokens", sum(col("nt") * col("c")).over(wAll))
    val j = cum
      .withColumn("i50", expr("(n_docs - 1) div 2"))
      .withColumn("r50", expr("(n_docs - 1) % 2"))
      .withColumn("i95", expr("(19 * (n_docs - 1)) div 20"))
      .withColumn("r95", expr("(19 * (n_docs - 1)) % 20"))
      .withColumn("i95hi", col("i95") + when(col("r95") > 0, 1).otherwise(0))
    def at(i: org.apache.spark.sql.Column) = max(when(i >= col("lo") && i < col("hi"), col("nt")))
    j.groupBy(col("source"), col("n_docs"), col("n_tokens"), col("r50"), col("r95"))
      .agg(at(col("i50")).as("v50lo"), at(col("i50") + col("r50")).as("v50hi"),
        at(col("i95")).as("v95lo"), at(col("i95hi")).as("v95hi"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("v50lo") * (lit(2L) - col("r50")) + col("v50hi") * col("r50")).cast("bigint").as("p50_x2"),
        (col("v95lo") * (lit(20L) - col("r95")) + col("v95hi") * col("r95")).cast("bigint").as("p95_x20"))
  }

  /** The all-integer gate flavor: source, n_docs, n_tokens, p50_x2, p95_x20. */
  /** Per-source z-score normalization of the token-count signal
    * ([[graft.operators.Curation.zscorePerGroup]]): the cross-source
    * calibration step before signals combine into one keep/drop score.
    * Oracle restates the exact-integer-moment algebra
    * z = (n·x − S1)/sqrt(n·S2 − S1²) — no double accumulation anywhere,
    * so the doubles are bit-exact cross-engine. */
  def qZscoreNorm(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("tok_n"))
    Curation.zscorePerGroup(docs, "source", "tok_n")
      .select(col("doc_id"), col("source"), col("tok_n"), col("z"))
  }

  val qZscoreNormSql: String =
    """WITH d AS (SELECT doc_id, source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS tok_n
      |           FROM documents),
      |s AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(tok_n) AS BIGINT) AS s1,
      |             CAST(sum(tok_n * tok_n) AS BIGINT) AS s2
      |      FROM d GROUP BY 1)
      |SELECT d.doc_id, d.source, d.tok_n,
      |  CASE WHEN sqrt(CAST(s.n * s.s2 - s.s1 * s.s1 AS DOUBLE)) > 0.0
      |       THEN CAST(s.n * d.tok_n - s.s1 AS DOUBLE)
      |            / sqrt(CAST(s.n * s.s2 - s.s1 * s.s1 AS DOUBLE)) END AS z
      |FROM d JOIN s USING (source)""".stripMargin

  /** Integer fixed-point PageRank ([[graft.operators.Graph.pageRank]])
    * over the symmetric customer↔supplier interaction graph (an edge per
    * distinct trading pair) — entity-authority scoring with EXACT longs,
    * so 5 Pregel iterations replay bit-identically in the oracle's five
    * unrolled CTES. Node ids: customer → 2k, supplier → 2k+1. */
  /** Both directions of an undirected pair frame in ONE pass: a union of
    * two projections re-executes the (corpus-scale) upstream join per
    * branch, while an explode emits a→b and b→a from the same row inside
    * the producing stage. `carry` columns ride both directions. */
  private def bothDirections(pairs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    def dir(s: Column, d: Column) =
      struct(s.as("src") +: d.as("dst") +: carry.map(col): _*)
    pairs.select(explode(array(dir(col("a"), col("b")),
      dir(col("b"), col("a")))).as("e")).select(col("e.*"))
  }

  def qPagerank(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    Graph.pageRank(bothDirections(pairs), iterations = 5)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("rank"))
  }

  /** Weighted PageRank: the same trading graph with lineitem counts as
    * edge weights — heavy trading pairs steer the walk. Same unrolled
    * integer oracle with per-edge (rank·w) div Σw contributions. */
  def qPagerankWeighted(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .agg(count(lit(1)).as("w"))
    Graph.pageRankWeighted(bothDirections(pairs, Seq("w")), iterations = 5)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("rank"))
  }

  val qPagerankWeightedSql: String = {
    val step = (i: Int, prev: Int) =>
      s"""r$i AS (SELECT n.id, CAST(150000 + (85 * COALESCE(s.acc, 0)) // 100 AS BIGINT) AS rank
         |  FROM n LEFT JOIN (SELECT e.dst AS id, sum((r.rank * e.w) // d.wsum) AS acc
         |    FROM r$prev r JOIN d ON r.id = d.src JOIN e ON e.src = r.id
         |    GROUP BY 1) s USING (id))""".stripMargin
    s"""WITH p AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b,
       |             CAST(count(*) AS BIGINT) AS w
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |           GROUP BY 1, 2),
       |e AS (SELECT a AS src, b AS dst, w FROM p
       |      UNION ALL SELECT b, a, w FROM p),
       |d AS (SELECT src, CAST(sum(w) AS BIGINT) AS wsum FROM e GROUP BY 1),
       |n AS (SELECT DISTINCT src AS id FROM e),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM n),
       |${(1 to 5).map(i => step(i, i - 1)).mkString(",\n")}
       |SELECT id % 2 AS kind, id // 2 AS key, rank FROM r5""".stripMargin
  }

  /** PageRank through the persisted bucketed edge index
    * ([[Graph.buildGraphIndex]]/[[Graph.pageRankFromIndex]]) — same oracle
    * as q_pagerank: three physical layouts (inline, weighted, indexed),
    * one integer dynamics. Build-once-per-(session, dir) like the BM25
    * index gates, so the bench's best-of-N times the rank loop alone. */
  /** The ONE persisted graph index both indexed graph gates consume
    * ([[Graph.buildGraphIndex]] over the symmetric trading graph):
    * build-once-per-(session, dir) like the BM25 index gates — and
    * build once ACROSS analysis families (VERDICT r14 #6: PageRank and
    * SSSP read the same bucketed table; "build once, analyze many" is
    * the production contract, not one index per algorithm). */
  private[graft] def tradingGraphIndex(spark: SparkSession,
                                       dir: String): String = {
    // r15 renamed this family from graft_pr_gate; sweep the retired
    // family's generations once so old deployments don't carry them
    // forever (ADVICE r15)
    GateIndex.dropRetiredFamily(spark, "graft_pr_gate", dir)
    val prefix = GateIndex.gatePrefix(spark, "graft_graph_gate", dir)
    if (!spark.catalog.tableExists(prefix)) {
      dropGateTable(spark, prefix)
      val t = Tables(spark, dir)
      val pairs = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
      Graph.buildGraphIndex(bothDirections(pairs), prefix, buckets = 8)
    }
    prefix
  }

  def qPagerankIndexed(spark: SparkSession, dir: String): DataFrame =
    Graph.pageRankFromIndex(spark, tradingGraphIndex(spark, dir),
        iterations = 5)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("rank"))

  /** BFS depths through the SAME persisted graph index as
    * q_pagerank_indexed ([[Graph.shortestPathsFromIndex]]) — the oracle
    * is qSsspSql unchanged (layout changes the plan, never a distance),
    * and the bench's best-of-N times the sweep loop alone over the
    * build-once bucketed edge side. */
  def qSsspIndexed(spark: SparkSession, dir: String): DataFrame = {
    val prefix = tradingGraphIndex(spark, dir)
    val src = Tables(spark, dir).orders
      .agg((min(col("o_custkey")) * 2).cast("long").as("id"))
    Graph.shortestPathsFromIndex(spark, prefix, src, sweeps = 6)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("dist"))
  }

  /** BFS depth layer over the symmetric trading graph
    * ([[Graph.shortestPaths]] with unit weights) from the minimum
    * customer node — link-distance features beside the centrality gates.
    * 6 fixed relaxation sweeps; the oracle unrolls the identical 6
    * frontier expansions (the fixed-sweep ≡ fixpoint discipline). The
    * seed derives from the orders table alone (min custkey; every order
    * has lineitems, so that customer is in the graph) — one cheap
    * single-column scan instead of a second pass over the join. */
  def qSssp(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val src = t.orders.agg((min(col("o_custkey")) * 2).cast("long").as("id"))
    Graph.shortestPaths(bothDirections(pairs), src, sweeps = 6)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("dist"))
  }

  private def ssspSqlOver(pairsCte: String, weightExpr: String): String = {
    val step = (i: Int, prev: Int) =>
      s"""s$i AS MATERIALIZED (SELECT e.dst AS id, min(s.dist + e.w) AS dist
         |  FROM s$prev s JOIN e ON e.src = s.id GROUP BY 1)""".stripMargin
    s"""WITH $pairsCte,
       |e AS MATERIALIZED (
       |  SELECT a AS src, b AS dst, CAST($weightExpr AS BIGINT) AS w FROM p
       |  UNION ALL SELECT b, a, CAST($weightExpr AS BIGINT) FROM p
       |  UNION ALL SELECT id, id, CAST(0 AS BIGINT)
       |    FROM (SELECT a AS id FROM p UNION SELECT b FROM p)),
       |s0 AS MATERIALIZED (SELECT CAST(min(o_custkey) * 2 AS BIGINT) AS id,
       |                           CAST(0 AS BIGINT) AS dist FROM orders),
       |${(1 to 6).map(i => step(i, i - 1)).mkString(",\n")}
       |SELECT id % 2 AS kind, id // 2 AS key, dist FROM s6""".stripMargin
  }

  val qSsspSql: String = ssspSqlOver(
    """p AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
      |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey)""".stripMargin,
    "1")

  /** Weighted SSSP twin: the same trading graph carrying a DISTANCE per
    * edge — cost = 100 − min(count, 99), so heavily-traded pairs are
    * CLOSER (the similarity→distance flip; positive by construction,
    * satisfying the non-negativity contract). Exercises the weighted
    * min-relaxation under the same unrolled oracle. */
  def qSsspWeighted(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .agg((lit(100L) - least(count(lit(1)), lit(99L))).as("w"))
    val src = t.orders.agg((min(col("o_custkey")) * 2).cast("long").as("id"))
    Graph.shortestPaths(bothDirections(pairs, Seq("w")), src, sweeps = 6)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("dist"))
  }

  val qSsspWeightedSql: String = ssspSqlOver(
    """p AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b,
      |        100 - least(count(*), 99) AS w
      |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |      GROUP BY 1, 2)""".stripMargin,
    "w")

  /** Weighted SSSP through a WEIGHTED [[Graph.buildGraphIndex]] build —
    * exercises the index's per-edge weight column (the unweighted
    * trading index never reads it): same similarity→distance graph as
    * q_sssp_weighted, same oracle (layout changes the plan, never a
    * distance), second index family keyed per (session, dir). */
  def qSsspWeightedIndexed(spark: SparkSession, dir: String): DataFrame = {
    val prefix = GateIndex.gatePrefix(spark, "graft_wgraph_gate", dir)
    if (!spark.catalog.tableExists(prefix)) {
      dropGateTable(spark, prefix)
      val t = Tables(spark, dir)
      val pairs = t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .groupBy((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .agg((lit(100L) - least(count(lit(1)), lit(99L))).as("w"))
      Graph.buildGraphIndex(bothDirections(pairs, Seq("w")), prefix,
        buckets = 8)
    }
    val src = Tables(spark, dir).orders
      .agg((min(col("o_custkey")) * 2).cast("long").as("id"))
    Graph.shortestPathsFromIndex(spark, prefix, src, sweeps = 6)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("dist"))
  }

  /** Personalized PageRank ([[Graph.pageRankPersonalized]]) over the
    * trading graph, teleporting to the customers of nation 0 —
    * proximity-to-seed-set scoring beside the global q_pagerank. The
    * oracle unrolls the same 5 iterations with the per-node tp / rank₀
    * columns. */
  def qPpr(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    val seeds = t.customer.filter(col("c_nationkey") === 0)
      .select((col("c_custkey") * 2).cast("long").as("id"))
    Graph.pageRankPersonalized(bothDirections(pairs), seeds, iterations = 5)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("rank"))
  }

  val qPprSql: String = {
    val step = (i: Int, prev: Int) =>
      s"""r$i AS (SELECT n.id, CAST(n.tp + (85 * COALESCE(s.acc, 0)) // 100 AS BIGINT) AS rank
         |  FROM n LEFT JOIN (SELECT e.dst AS id, sum(r.rank // d.deg) AS acc
         |    FROM r$prev r JOIN d ON r.id = d.src JOIN e ON e.src = r.id
         |    GROUP BY 1) s USING (id))""".stripMargin
    s"""WITH p AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
       |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |sd AS (SELECT DISTINCT c_custkey * 2 AS id FROM customer
       |       WHERE c_nationkey = 0),
       |n AS (SELECT n0.id,
       |        CASE WHEN sd.id IS NOT NULL THEN 150000 ELSE 0 END AS tp
       |      FROM (SELECT DISTINCT src AS id FROM e) n0 LEFT JOIN sd USING (id)),
       |r0 AS (SELECT id, CAST(CASE WHEN tp > 0 THEN 1000000 ELSE 0 END AS BIGINT) AS rank
       |       FROM n),
       |${(1 to 5).map(i => step(i, i - 1)).mkString(",\n")}
       |SELECT id % 2 AS kind, id // 2 AS key, rank FROM r5""".stripMargin
  }

  val qPagerankSql: String = {
    val step = (i: Int, prev: Int) =>
      s"""r$i AS (SELECT n.id, CAST(150000 + (85 * COALESCE(s.acc, 0)) // 100 AS BIGINT) AS rank
         |  FROM n LEFT JOIN (SELECT e.dst AS id, sum(r.rank // d.deg) AS acc
         |    FROM r$prev r JOIN d ON r.id = d.src JOIN e ON e.src = r.id
         |    GROUP BY 1) s USING (id))""".stripMargin
    s"""WITH p AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
       |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
       |n AS (SELECT DISTINCT src AS id FROM e),
       |r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank FROM n),
       |${(1 to 5).map(i => step(i, i - 1)).mkString(",\n")}
       |SELECT id % 2 AS kind, id // 2 AS key, rank FROM r5""".stripMargin
  }

  /** Per-node triangle counts ([[Graph.triangleCounts]]) over the
    * rare-shingle co-occurrence graph: docs are linked when they share a
    * word 3-gram appearing in 2–4 docs corpus-wide (the df cap is the
    * standard hub guard — a boilerplate phrase would otherwise mint a
    * clique over half the corpus; same discipline as the LSH bucket
    * caps). Cohesion probe for near-dup cliques: duplicate families
    * share ALL their rare shingles and surface as dense triangle
    * clusters. The per-gram doc set is collected with the BOUNDED
    * min-k heap (k = cap+1, so an over-cap gram shows exactly cap+1
    * entries and is discarded — ≤ 5 longs per aggregation buffer
    * however hot the gram), and pairs explode from each surviving ≤4
    * list (the LSH in-bucket pattern), never a gram-keyed self-join.
    * Top 20 nodes by participation. */
  /** The rare-shingle co-occurrence edge fixture shared by the graph-
    * cohesion gates (q_triangle_count / q_kcore): docs link when they
    * share a word 3-gram with corpus df 2–4. Per-doc gram dedup happens
    * MAP-SIDE (array_distinct before the explode), so the (doc, gram)
    * stream is already unique per doc and the gram groupBy is the only
    * corpus-sized exchange; the per-gram doc set collects in a BOUNDED
    * cap+1 heap (an over-cap gram shows exactly cap+1 entries and is
    * discarded — the hub guard), and pairs explode from each surviving
    * ≤4 list (the LSH in-bucket pattern), never a gram-keyed self-join. */
  private def rareShingleEdges(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), TextAnalysis.tokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"), explode(array_distinct(
        when(size(col("toks")) >= 3,
          transform(sequence(lit(0), size(col("toks")) - 3),
            i => array_join(slice(col("toks"), i + 1, lit(3)), " ")))
          .otherwise(array().cast("array<string>")))).as("gram"))
      .groupBy(col("gram"))
      .agg(graft.plans.Native.minKByKey(col("doc_id"), col("doc_id"), 5).as("ks"))
      .filter(size(col("ks")).between(2, 4))
      .select(sort_array(transform(col("ks"), e => e.getField("p"))).as("ds"))
      .select(explode(flatten(transform(col("ds"),
        (a, i) => transform(slice(col("ds"), i + 2, size(col("ds"))),
          b => struct(a.as("a"), b.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  def qTriangleCount(spark: SparkSession, dir: String): DataFrame = {
    // triangleCounts returns its (persisted, already-materialized) result;
    // the top-k projection below reads the cache — the bench/verify
    // ballast drop releases it between gates
    Graph.triangleCounts(rareShingleEdges(Tables(spark, dir).documents))
      .orderBy(col("tri").desc, col("id")).limit(20)
  }

  /** [[rareShingleEdges]] replayed in SQL — the shared `p(a, b)` edge CTE
    * prefix for the q_triangle_count / q_kcore oracles. */
  private val rareShingleEdgeCte: String =
    """toks AS (SELECT doc_id, string_split(trim(lower(text)), ' ') AS t
      |              FROM documents),
      |g AS (SELECT DISTINCT doc_id, gram FROM (
      |  SELECT doc_id, unnest(
      |    CASE WHEN len(t) >= 3
      |         THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
      |         ELSE [] END) AS gram FROM toks)),
      |df AS (SELECT gram FROM g GROUP BY gram HAVING count(*) BETWEEN 2 AND 4),
      |p AS MATERIALIZED (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      |      FROM g x JOIN g y USING (gram) JOIN df USING (gram)
      |      WHERE x.doc_id < y.doc_id)""".stripMargin

  /** k-core of the rare-shingle graph ([[Graph.kCore]]): the dense
    * near-dup families that survive the peel, with their in-core
    * degrees. The gate derives k FROM THE DATA — k = max(2,
    * ⌈n/2⌉-th-smallest degree div 2, ties by id) — so the peel is
    * non-vacuous at every SF (fixed k is either slack or empties the
    * core as the rare-shingle graph thins with corpus growth);
    * production callers pass k explicitly. The median derivation is a
    * fixture step: one ordered limit over the nodes-sized degree frame.
    * maxSweeps = 8 matches the oracle's unrolled replay (converges ≤ 8
    * on this fixture at every SF — probed to sweep 14; extra sweeps
    * past the fixpoint are no-ops on both sides). */
  def qKCore(spark: SparkSession, dir: String): DataFrame =
    graft.operators.LoopSession.onEdges(rareShingleEdges(Tables(spark, dir).documents)
        .select(col("a").cast("long"), col("b").cast("long"))) { g =>
      val deg0 = Graph.degreeFrame(g.frame)
      val n = deg0.count()
      if (n == 0) {
        // no rare-shingle edges at all (all-unique or sub-3-token docs):
        // the core is empty, as the oracle's NULL-k filter also yields
        val sp = spark
        import sp.implicits._
        Seq.empty[(Long, Long)].toDF("id", "deg")
      }
      else {
        val medianDeg = deg0.orderBy(col("deg"), col("id"))
          .limit(((n + 1) / 2).toInt).agg(max(col("deg"))).head().getLong(0)
        Graph.kCoreOn(g, k = math.max(2L, medianDeg / 2).toInt, maxSweeps = 8)
          .orderBy(col("id"))
      }
    }

  val qKCoreSql: String = {
    // every aN/dN is MATERIALIZED: each step references the previous
    // alive set twice (both join sides), so inlined CTEs re-evaluate the
    // whole chain 2^steps times — materialization keeps the replay linear
    val step = (i: Int, prev: Int) =>
      s"""d$i AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
         |  SELECT p.a AS id FROM p JOIN a$prev x ON p.a = x.id JOIN a$prev y ON p.b = y.id
         |  UNION ALL
         |  SELECT p.b FROM p JOIN a$prev x ON p.a = x.id JOIN a$prev y ON p.b = y.id)
         |  GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg >= (SELECT k FROM kv))""".stripMargin
    s"""WITH $rareShingleEdgeCte,
       |d0 AS MATERIALIZED (SELECT id, count(*) AS deg
       |  FROM (SELECT a AS id FROM p UNION ALL SELECT b FROM p) GROUP BY 1),
       |kv AS MATERIALIZED (SELECT GREATEST(2, deg // 2) AS k FROM (
       |  SELECT deg, row_number() OVER (ORDER BY deg, id) AS rn,
       |         count(*) OVER () AS n FROM d0)
       |  WHERE rn = (n + 1) // 2),
       |a0 AS MATERIALIZED (SELECT id FROM d0),
       |${(1 to 8).map(i => step(i, i - 1)).mkString(",\n")}
       |SELECT id, deg FROM d8 WHERE deg >= (SELECT k FROM kv) ORDER BY id""".stripMargin
  }

  /** HITS hubs & authorities over the DIRECTED customer→supplier trading
    * graph ([[Graph.hits]]): buyers that span many strong suppliers read
    * as hubs, heavily-bought-from suppliers as authorities. 3 exact
    * integer iterations with max-rescale; the oracle unrolls the
    * identical chain with scalar-subquery maxima. */
  def qHits(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val edges = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
    Graph.hits(edges, iterations = 3)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("hub"), col("auth"))
  }

  val qHitsSql: String = {
    val step = (i: Int, prev: String) =>
      s"""ar$i AS MATERIALIZED (SELECT p.dst AS id, sum(s.h) AS ar
         |  FROM p JOIN $prev s ON p.src = s.id GROUP BY 1),
         |a$i AS MATERIALIZED (SELECT n.id,
         |    CAST(coalesce((ar * 1000000) // (SELECT max(ar) FROM ar$i), 0) AS BIGINT) AS a
         |  FROM n LEFT JOIN ar$i USING (id)),
         |hr$i AS MATERIALIZED (SELECT p.src AS id, sum(a.a) AS hr
         |  FROM p JOIN a$i a ON p.dst = a.id GROUP BY 1),
         |s$i AS MATERIALIZED (SELECT n.id,
         |    CAST(coalesce((hr * 1000000) // (SELECT max(hr) FROM hr$i), 0) AS BIGINT) AS h,
         |    a.a
         |  FROM n LEFT JOIN hr$i USING (id) JOIN a$i a USING (id))""".stripMargin
    s"""WITH p AS MATERIALIZED (SELECT DISTINCT o_custkey * 2 AS src,
       |        l_suppkey * 2 + 1 AS dst
       |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |n AS MATERIALIZED (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM p UNION ALL SELECT dst FROM p)),
       |s0 AS MATERIALIZED (SELECT id, CAST(1000000 AS BIGINT) AS h,
       |  CAST(1000000 AS BIGINT) AS a FROM n),
       |${(1 to 3).map(i => step(i, s"s${i - 1}")).mkString(",\n")}
       |SELECT CAST(id % 2 AS BIGINT) AS kind, CAST(id // 2 AS BIGINT) AS key,
       |  h AS hub, a AS auth FROM s3""".stripMargin
  }

  /** Label-propagation communities over the rare-shingle graph
    * ([[Graph.labelPropagation]]): the near-dup federations / topical
    * clusters the cohesion gates score. 4 fixed synchronous sweeps with
    * min-label ties — the oracle unrolls the identical 4 sweeps. */
  def qCommunities(spark: SparkSession, dir: String): DataFrame =
    Graph.labelPropagation(
      rareShingleEdges(Tables(spark, dir).documents)
        .select(col("a").cast("long"), col("b").cast("long")), sweeps = 4)

  /** The rare-shingle edge list + 4 unrolled LPA sweeps as a WITH-body
    * prefix (ending at CTE `l4`) — shared by the q_communities and
    * q_modularity oracles so the labeling both gates score is ONE
    * definition. Each sweep: count neighbor labels, keep the most
    * frequent with ties to the smallest label. MATERIALIZED per step
    * (the k-core oracle lesson: inlined CTE chains re-evaluate
    * exponentially). */
  /** The unrolled synchronous-LPA sweep CTE chain (l1..lS over an `adj`
    * (node, nbr) CTE and `l0` init) — shared by the rare-shingle prefix
    * and the trading-graph indexed twin so one sweep definition serves
    * every LPA oracle. */
  private def lpaSweepCtes(sweeps: Int): String = {
    val step = (i: Int, prev: Int) =>
      s"""l$i AS MATERIALIZED (SELECT node, lbl FROM (
         |  SELECT adj.node, l.lbl, count(*) AS c,
         |    row_number() OVER (PARTITION BY adj.node
         |      ORDER BY count(*) DESC, l.lbl) AS rn
         |  FROM adj JOIN l$prev l ON adj.nbr = l.node
         |  GROUP BY adj.node, l.lbl)
         |WHERE rn = 1)""".stripMargin
    (1 to sweeps).map(i => step(i, i - 1)).mkString(",\n")
  }

  private val communitiesCtePrefix: String =
    s"""$rareShingleEdgeCte,
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p
       |  UNION ALL SELECT b, a FROM p),
       |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM adj),
       |${lpaSweepCtes(4)}""".stripMargin

  val qCommunitiesSql: String =
    s"""WITH $communitiesCtePrefix
       |SELECT node AS id, CAST(lbl AS BIGINT) AS community FROM l4""".stripMargin

  /** Label-propagation communities through the SAME persisted graph
    * index as q_pagerank_indexed / q_sssp_indexed
    * ([[Graph.labelPropagationFromIndex]]) — the third analysis family
    * on one build (the VERDICT r14 #6 "build once, analyze many"
    * contract): the symmetric build's real rows are the both-directions
    * adjacency read keyed by the bucket column, so every sweep's join is
    * exchange-free on the edge side. The oracle unrolls the identical 4
    * sweeps over the trading adjacency. */
  def qCommunitiesIndexed(spark: SparkSession, dir: String): DataFrame =
    Graph.labelPropagationFromIndex(spark, tradingGraphIndex(spark, dir),
      sweeps = 4)

  val qCommunitiesIndexedSql: String =
    s"""WITH p AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |adj AS MATERIALIZED (SELECT a AS node, b AS nbr FROM p
       |  UNION ALL SELECT b, a FROM p),
       |l0 AS MATERIALIZED (SELECT DISTINCT node, node AS lbl FROM adj),
       |${lpaSweepCtes(4)}
       |SELECT node AS id, CAST(lbl AS BIGINT) AS community FROM l4""".stripMargin

  /** Deterministic random-walk corpus ([[Graph.randomWalks]]) over the
    * symmetric trading graph — 2 walks × 4 hops from every node, the
    * DeepWalk-style skip-gram training rows. Every hop is the content
    * hash H(seed, start, walk, step) mod outdeg picking the
    * rank-H out-edge, so the oracle replays the identical corpus:
    * ranked edges via a per-src row_number, the hash via the shared
    * strpos hex expansion, 4 unrolled MATERIALIZED hop CTEs. */
  def qRandomWalks(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .distinct()
    Graph.randomWalks(bothDirections(pairs), steps = 4, walksPerNode = 2)
      .select(col("start"), col("wk").as("walk"), col("step"), col("node"))
  }

  val qRandomWalksSql: String = {
    // 60-bit draw: 15 md5 hex chars (the shared sampler width)
    val hexVal = (1 to 15).map { p =>
      val w = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(s.hx, $p, 1)) - 1) * $w"
    }.mkString(" + ")
    val step = (i: Int) =>
      s"""s$i AS MATERIALIZED (
         |  SELECT s.start, s.wk, e2.dst AS node, e2.deg_dst AS deg
         |  FROM (SELECT start, wk, node, deg,
         |          md5('graft-' || start || '-' || wk || '-' || $i) AS hx
         |        FROM s${i - 1} WHERE deg IS NOT NULL) s
         |  JOIN e2 ON e2.src = s.node AND e2.rk = ($hexVal) % s.deg)""".stripMargin
    s"""WITH p AS (SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |b AS MATERIALIZED (SELECT a AS src, b AS dst FROM p
       |  UNION ALL SELECT b, a FROM p),
       |e AS MATERIALIZED (SELECT src, dst,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS rk,
       |    CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg_src
       |  FROM b),
       |dd AS (SELECT src AS dst, CAST(count(*) AS BIGINT) AS deg_dst
       |       FROM b GROUP BY 1),
       |e2 AS MATERIALIZED (SELECT e.src, e.dst, e.rk, e.deg_src, dd.deg_dst
       |  FROM e LEFT JOIN dd USING (dst)),
       |s0 AS MATERIALIZED (SELECT n.start, w.wk, n.start AS node, n.deg
       |  FROM (SELECT DISTINCT src AS start, deg_src AS deg FROM e) n,
       |       (SELECT unnest(range(2)) AS wk) w),
       |${(1 to 4).map(step).mkString(",\n")}
       |SELECT start, CAST(wk AS BIGINT) AS walk, CAST(step AS BIGINT) AS step,
       |  node FROM (
       |  ${(0 to 4).map(i => s"SELECT start, wk, $i AS step, node FROM s$i")
             .mkString(" UNION ALL ")})""".stripMargin
  }

  /** Weight-proportional random walks ([[Graph.randomWalks]] with a `w`
    * column): the trading graph carries lineitem counts, so
    * heavily-traded pairs draw proportionally more walk traffic — the
    * weighted-transition analogue of q_random_walks. The oracle replays
    * the cumulative-interval draw: per-src dst-ordered weight prefix
    * sums, H mod Σw, and the interval-containment join, 4 unrolled
    * MATERIALIZED hops. */
  def qRandomWalksWeighted(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .agg(count(lit(1)).as("w"))
    Graph.randomWalks(bothDirections(pairs, Seq("w")), steps = 4,
        walksPerNode = 2)
      .select(col("start"), col("wk").as("walk"), col("step"), col("node"))
  }

  val qRandomWalksWeightedSql: String = {
    // 60-bit draw: 15 md5 hex chars — full weight-proportionality for
    // Σw up to ~10¹⁵ (the r15 32-bit draw capped at 2³², ADVICE r15)
    val hexVal = (1 to 15).map { p =>
      val w = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(s.hx, $p, 1)) - 1) * $w"
    }.mkString(" + ")
    val step = (i: Int) =>
      s"""s$i AS MATERIALIZED (
         |  SELECT s.start, s.wk, e2.dst AS node, e2.deg_dst AS deg
         |  FROM (SELECT start, wk, node, deg,
         |          md5('graft-' || start || '-' || wk || '-' || $i) AS hx
         |        FROM s${i - 1} WHERE deg IS NOT NULL) s
         |  JOIN e2 ON e2.src = s.node
         |    AND ($hexVal) % s.deg >= e2.cw_lo
         |    AND ($hexVal) % s.deg < e2.cw_hi)""".stripMargin
    s"""WITH p AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b,
       |             CAST(count(*) AS BIGINT) AS w
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |           GROUP BY 1, 2),
       |b AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM p
       |  UNION ALL SELECT b, a, w FROM p),
       |e AS MATERIALIZED (SELECT src, dst,
       |    CAST(sum(w) OVER win - w AS BIGINT) AS cw_lo,
       |    CAST(sum(w) OVER win AS BIGINT) AS cw_hi,
       |    CAST(sum(w) OVER (PARTITION BY src) AS BIGINT) AS deg_src
       |  FROM b
       |  WINDOW win AS (PARTITION BY src ORDER BY dst
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       |dd AS (SELECT src AS dst, CAST(sum(w) AS BIGINT) AS deg_dst
       |       FROM b GROUP BY 1),
       |e2 AS MATERIALIZED (SELECT e.src, e.dst, e.cw_lo, e.cw_hi,
       |    e.deg_src, dd.deg_dst
       |  FROM e LEFT JOIN dd USING (dst)),
       |s0 AS MATERIALIZED (SELECT n.start, w.wk, n.start AS node, n.deg
       |  FROM (SELECT DISTINCT src AS start, deg_src AS deg FROM e) n,
       |       (SELECT unnest(range(2)) AS wk) w),
       |${(1 to 4).map(step).mkString(",\n")}
       |SELECT start, CAST(wk AS BIGINT) AS walk, CAST(step AS BIGINT) AS step,
       |  node FROM (
       |  ${(0 to 4).map(i => s"SELECT start, wk, $i AS step, node FROM s$i")
             .mkString(" UNION ALL ")})""".stripMargin
  }

  /** The walk corpus served from the shared persisted graph index
    * ([[Graph.randomWalksFromIndex]] over the same `graft_graph_gate`
    * table as q_pagerank_indexed/q_sssp_indexed) — the per-call
    * ranked-edge build disappears and each hop reads the edge side
    * exchange-free from the bucketed table. Same oracle as
    * q_random_walks: layout changes the plan, never a hop. */
  def qRandomWalksIndexed(spark: SparkSession, dir: String): DataFrame =
    Graph.randomWalksFromIndex(spark, tradingGraphIndex(spark, dir),
        steps = 4, walksPerNode = 2)
      .select(col("start"), col("wk").as("walk"), col("step"), col("node"))

  /** HITS served from the shared persisted graph index
    * ([[Graph.hitsFromIndex]]): the symmetric table stores each directed
    * trading edge in both orientations, and the typed ids (even =
    * customer, odd = supplier) make the forward rows a parity filter —
    * both halves then join the bucketed scan on its layout key. Same
    * oracle as q_hits. */
  def qHitsIndexed(spark: SparkSession, dir: String): DataFrame =
    Graph.hitsFromIndex(spark, tradingGraphIndex(spark, dir),
        forward = pmod(col("src"), lit(2L)) === 0L, iterations = 3)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("hub"), col("auth"))

  /** node2vec biased walks ([[Graph.node2vecWalks]]) over the weighted
    * trading graph at (p, q) = (2, 1/2) — integer biases (1, 2, 4):
    * outward-exploring walks (return discouraged, far-hops favored),
    * the walk corpus graph-pretraining pipelines actually generate. The
    * oracle replays the per-hop biased CDF: the walk's out-list joined
    * against the (prev, dst) edge membership, integer bias × weight
    * prefix sums per walk, 60-bit draw, 3 unrolled MATERIALIZED hops. */
  def qRandomWalksN2v(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
      .agg(count(lit(1)).as("w"))
    Graph.node2vecWalks(bothDirections(pairs, Seq("w")), steps = 3,
        walksPerNode = 1, biasReturn = 1L, biasNeighbor = 2L, biasFar = 4L)
      .select(col("start"), col("wk").as("walk"), col("step"), col("node"))
  }

  val qRandomWalksN2vSql: String = {
    val hexVal = (1 to 15).map { p =>
      val w = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(m.hx, $p, 1)) - 1) * $w"
    }.mkString(" + ")
    val step = (i: Int) =>
      s"""c$i AS MATERIALIZED (
         |  SELECT s.start, s.wk, s.node, e.dst,
         |    (CASE WHEN e.dst = s.prev THEN 1
         |          WHEN nb.src IS NOT NULL THEN 2
         |          ELSE 4 END) * e.w AS aw
         |  FROM s${i - 1} s JOIN e ON e.src = s.node
         |  LEFT JOIN e nb ON nb.src = s.prev AND nb.dst = e.dst),
         |m$i AS MATERIALIZED (
         |  SELECT start, wk, node, dst,
         |    CAST(sum(aw) OVER win - aw AS BIGINT) AS lo,
         |    CAST(sum(aw) OVER win AS BIGINT) AS hi,
         |    CAST(sum(aw) OVER (PARTITION BY start, wk) AS BIGINT) AS tot
         |  FROM c$i
         |  WINDOW win AS (PARTITION BY start, wk ORDER BY dst
         |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |s$i AS MATERIALIZED (
         |  SELECT start, wk, node AS prev, dst AS node FROM (
         |    SELECT m0.*, md5('graft-' || start || '-' || wk || '-' || $i) AS hx
         |    FROM m$i m0) m
         |  WHERE ($hexVal) % m.tot >= m.lo AND ($hexVal) % m.tot < m.hi)""".stripMargin
    s"""WITH p AS (SELECT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b,
       |             CAST(count(*) AS BIGINT) AS w
       |           FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |           GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT a AS src, b AS dst, w FROM p
       |  UNION ALL SELECT b, a, w FROM p),
       |s0 AS MATERIALIZED (SELECT DISTINCT src AS start, CAST(0 AS BIGINT) AS wk,
       |  src AS prev, src AS node FROM e),
       |${(1 to 3).map(step).mkString(",\n")}
       |SELECT start, CAST(wk AS BIGINT) AS walk, CAST(step AS BIGINT) AS step,
       |  node FROM (
       |  ${(0 to 3).map(i => s"SELECT start, wk, $i AS step, node FROM s$i")
           .mkString(" UNION ALL ")})""".stripMargin
  }

  /** Strongly connected components
    * ([[Graph.stronglyConnectedComponents]]) over the DIRECTED trading
    * graph: every customer→supplier edge, plus the REVERSE edge only for
    * pairs that traded ≥ 2 lineitems — mutual-trade loops (the
    * spider-trap / link-farm signature in crawl graphs) fuse into
    * non-trivial SCCs, one-shot pairs stay singletons. rounds = 3,
    * sweeps = 6: probed converged (empty leftover active set, result
    * stable at sweeps + 2) at all three SFs; the oracle unrolls the
    * identical 3 × (6 forward + 6 backward) MATERIALIZED sweeps. */
  def qScc(spark: SparkSession, dir: String): DataFrame = {
    val t = Tables(spark, dir)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .agg(count(lit(1)).as("n"))
    val e = pairs.select(col("c").as("src"), col("s").as("dst"))
      .unionByName(pairs.filter(col("n") >= 2)
        .select(col("s").as("src"), col("c").as("dst")))
    Graph.stronglyConnectedComponents(e, rounds = 3, sweeps = 6)
      .select(pmod(col("id"), lit(2L)).as("kind"), expr("id div 2").as("key"),
        col("scc"))
  }

  val qSccSql: String = {
    val R = 3; val S = 6
    val rounds = (1 to R).map { r =>
      val fwd = (1 to S).map(s =>
        s"""f${r}_$s AS MATERIALIZED (SELECT ae.dst AS id, min(f.f) AS f
           |  FROM ae$r ae JOIN f${r}_${s - 1} f ON ae.src = f.id GROUP BY 1)""".stripMargin)
        .mkString(",\n")
      val bwd = (1 to S).map(s =>
        s"""m${r}_$s AS MATERIALIZED (SELECT DISTINCT ce.src AS id
           |  FROM ce$r ce JOIN m${r}_${s - 1} m ON ce.dst = m.id)""".stripMargin)
        .mkString(",\n")
      s"""ae$r AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e JOIN a$r x ON e.src = x.id
         |    JOIN a$r y ON e.dst = y.id
         |  UNION ALL SELECT id, id FROM a$r),
         |f${r}_0 AS MATERIALIZED (SELECT id, id AS f FROM a$r),
         |$fwd,
         |ce$r AS MATERIALIZED (SELECT ae.src, ae.dst FROM ae$r ae
         |  JOIN f${r}_$S fs ON ae.src = fs.id
         |  JOIN f${r}_$S fd ON ae.dst = fd.id
         |  WHERE fs.f = fd.f),
         |m${r}_0 AS MATERIALIZED (SELECT id FROM f${r}_$S WHERE id = f),
         |$bwd,
         |out$r AS MATERIALIZED (SELECT f.id, f.f AS scc
         |  FROM f${r}_$S f JOIN m${r}_$S m USING (id)),
         |a${r + 1} AS MATERIALIZED (SELECT a.id FROM a$r a
         |  WHERE NOT EXISTS (SELECT 1 FROM m${r}_$S m WHERE m.id = a.id))""".stripMargin
    }.mkString(",\n")
    val outs = (1 to R).map(r => s"SELECT id, scc FROM out$r")
      .mkString(" UNION ALL ")
    s"""WITH pairs AS MATERIALIZED (SELECT o_custkey * 2 AS c,
       |        l_suppkey * 2 + 1 AS s, count(*) AS n
       |      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |      GROUP BY 1, 2),
       |e AS MATERIALIZED (SELECT c AS src, s AS dst FROM pairs
       |  UNION ALL SELECT s, c FROM pairs WHERE n >= 2),
       |a1 AS MATERIALIZED (SELECT DISTINCT id FROM
       |  (SELECT src AS id FROM e UNION ALL SELECT dst FROM e)),
       |$rounds
       |SELECT CAST(id % 2 AS BIGINT) AS kind, CAST(id // 2 AS BIGINT) AS key,
       |  CAST(scc AS BIGINT) AS scc FROM ($outs)""".stripMargin
  }

  /** One synchronous Louvain refinement step ([[Graph.louvainStep]])
    * over the rare-shingle LPA labeling — modularity turned from a score
    * into an optimizer: every node takes its best positive-gain neighbor
    * community move (exact integer Δnum over 4m², ties to the smaller
    * label), so the gate stresses the q_num algebra under composition.
    * The oracle replays the 4 LPA sweeps through the shared CTE prefix,
    * then the identical move algebra with a window argmax. */
  def qLouvainStep(spark: SparkSession, dir: String): DataFrame = {
    Graph.scoreLabels(rareShingleEdges(Tables(spark, dir).documents)
      .select(col("a").cast("long"), col("b").cast("long")), sweeps = 4)(Graph.louvainStep)
  }

  val qLouvainStepSql: String =
    s"""WITH $communitiesCtePrefix,
       |lab AS MATERIALIZED (SELECT node AS id, CAST(lbl AS BIGINT) AS community FROM l4),
       |deg AS MATERIALIZED (SELECT id, CAST(count(*) AS BIGINT) AS deg
       |  FROM (SELECT a AS id FROM p UNION ALL SELECT b FROM p) GROUP BY 1),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
       |dcs AS MATERIALIZED (SELECT community, CAST(sum(deg) AS BIGINT) AS dsum
       |  FROM deg JOIN lab USING (id) GROUP BY 1),
       |evd AS MATERIALIZED (SELECT adj.node AS id, l.community AS d,
       |    CAST(count(*) AS BIGINT) AS ec
       |  FROM adj JOIN lab l ON adj.nbr = l.id GROUP BY 1, 2),
       |base AS MATERIALIZED (SELECT lab.id, lab.community AS c, deg.deg AS k,
       |    CAST(COALESCE(ev.ec, 0) AS BIGINT) AS evc, dcs.dsum AS dcur
       |  FROM lab JOIN deg USING (id)
       |  JOIN dcs ON dcs.community = lab.community
       |  LEFT JOIN evd ev ON ev.id = lab.id AND ev.d = lab.community),
       |cand AS (SELECT b.id, ev.d,
       |    4 * mm.m * (ev.ec - b.evc) - 2 * b.k * (dd.dsum - b.dcur)
       |      - 2 * b.k * b.k AS dnum
       |  FROM base b JOIN evd ev ON ev.id = b.id AND ev.d <> b.c
       |  JOIN dcs dd ON dd.community = ev.d, mm),
       |best AS (SELECT id, d, dnum,
       |    row_number() OVER (PARTITION BY id ORDER BY dnum DESC, d) AS rn
       |  FROM cand)
       |SELECT b.id,
       |  CAST(CASE WHEN bs.dnum > 0 THEN bs.d ELSE b.c END AS BIGINT) AS community
       |FROM base b LEFT JOIN best bs ON bs.id = b.id AND bs.rn = 1""".stripMargin

  /** Multi-level Louvain ([[Graph.louvain]], Blondel et al. 2008 both
    * phases) over the rare-shingle graph from singletons: 2 synchronous
    * weighted move sweeps per level, community contraction (inter-
    * community bundles keep summed weight, intra mass becomes
    * self-loops), 2 levels — the standard community pipeline a curation
    * user asking for "communities with good modularity" runs. The
    * oracle unrolls the identical per-level weighted move algebra
    * (exact integer Δnum over the invariant 4m²) and contraction as
    * MATERIALIZED CTEs. */
  def qLouvain(spark: SparkSession, dir: String): DataFrame =
    Graph.louvain(rareShingleEdges(Tables(spark, dir).documents),
      levels = 2, sweeps = 2)

  val qLouvainSql: String = {
    val L = 2; val S = 2
    // one synchronous weighted move: the q_louvain_step algebra with
    // count() → sum(w) and self-loops excluded from adjacency
    def step(l: Int, s: Int): String =
      s"""dcs${l}_$s AS MATERIALIZED (SELECT community,
         |    CAST(sum(deg) AS BIGINT) AS dsum
         |  FROM deg$l JOIN lab${l}_${s - 1} USING (id) GROUP BY 1),
         |evd${l}_$s AS MATERIALIZED (SELECT adj.node AS id,
         |    lx.community AS d, CAST(sum(adj.w) AS BIGINT) AS ec
         |  FROM adj$l adj JOIN lab${l}_${s - 1} lx ON adj.nbr = lx.id
         |  GROUP BY 1, 2),
         |base${l}_$s AS MATERIALIZED (SELECT lb.id, lb.community AS c,
         |    deg.deg AS k, CAST(COALESCE(ev.ec, 0) AS BIGINT) AS evc,
         |    dcs.dsum AS dcur
         |  FROM lab${l}_${s - 1} lb JOIN deg$l deg USING (id)
         |  JOIN dcs${l}_$s dcs ON dcs.community = lb.community
         |  LEFT JOIN evd${l}_$s ev ON ev.id = lb.id AND ev.d = lb.community),
         |cand${l}_$s AS (SELECT b.id, ev.d,
         |    4 * mm.m * (ev.ec - b.evc) - 2 * b.k * (dd.dsum - b.dcur)
         |      - 2 * b.k * b.k AS dnum
         |  FROM base${l}_$s b JOIN evd${l}_$s ev ON ev.id = b.id AND ev.d <> b.c
         |  JOIN dcs${l}_$s dd ON dd.community = ev.d, mm),
         |best${l}_$s AS (SELECT id, d, dnum,
         |    row_number() OVER (PARTITION BY id ORDER BY dnum DESC, d) AS rn
         |  FROM cand${l}_$s),
         |lab${l}_$s AS MATERIALIZED (SELECT b.id,
         |    CAST(CASE WHEN bs.dnum > 0 THEN bs.d ELSE b.c END AS BIGINT)
         |      AS community
         |  FROM base${l}_$s b
         |  LEFT JOIN best${l}_$s bs ON bs.id = b.id AND bs.rn = 1)""".stripMargin
    def level(l: Int): String = {
      val steps = (1 to S).map(s => step(l, s)).mkString(",\n")
      s"""deg$l AS MATERIALIZED (SELECT id, CAST(sum(w) AS BIGINT) AS deg
         |  FROM (SELECT a AS id, w FROM g$l UNION ALL SELECT b, w FROM g$l)
         |  GROUP BY 1),
         |adj$l AS MATERIALIZED (SELECT a AS node, b AS nbr, w FROM g$l
         |    WHERE a <> b
         |  UNION ALL SELECT b, a, w FROM g$l WHERE a <> b),
         |lab${l}_0 AS MATERIALIZED (SELECT id, id AS community FROM deg$l),
         |$steps,
         |g${l + 1} AS MATERIALIZED (
         |  SELECT least(la.community, lb.community) AS a,
         |    greatest(la.community, lb.community) AS b,
         |    CAST(sum(g.w) AS BIGINT) AS w
         |  FROM g$l g JOIN lab${l}_$S la ON g.a = la.id
         |  JOIN lab${l}_$S lb ON g.b = lb.id
         |  GROUP BY 1, 2),
         |map$l AS MATERIALIZED (SELECT m.id, l.community
         |  FROM map${l - 1} m JOIN lab${l}_$S l ON m.community = l.id)""".stripMargin
    }
    s"""WITH $rareShingleEdgeCte,
       |g1 AS MATERIALIZED (SELECT a, b, CAST(1 AS BIGINT) AS w FROM p),
       |mm AS (SELECT CAST(sum(w) AS BIGINT) AS m FROM g1),
       |map0 AS MATERIALIZED (SELECT id, id AS community FROM (
       |  SELECT DISTINCT a AS id FROM g1 UNION SELECT DISTINCT b FROM g1)),
       |${(1 to L).map(level).mkString(",\n")}
       |SELECT id, CAST(community AS BIGINT) AS community FROM map$L""".stripMargin
  }

  /** Modularity scoring of the rare-shingle LPA labeling
    * ([[Graph.modularity]] over [[Graph.labelPropagation]]'s output) —
    * the graded quality signal on top of q_communities, and a degeneracy
    * cross-check: all-merged or all-singleton labelings score ≤ 0. The
    * edge frame is computed ONCE (persisted) and feeds both the sweeps
    * and the scoring; the oracle replays the identical 4 sweeps through
    * the shared CTE prefix, then the exact integer contribution algebra
    * q_num = 4·m·m_c − d_c² and ONE IEEE division for q. */
  def qModularity(spark: SparkSession, dir: String): DataFrame = {
    Graph.scoreLabels(rareShingleEdges(Tables(spark, dir).documents)
      .select(col("a").cast("long"), col("b").cast("long")), sweeps = 4)(Graph.modularity)
  }

  val qModularitySql: String =
    s"""WITH $communitiesCtePrefix,
       |lab AS MATERIALIZED (SELECT node AS id, CAST(lbl AS BIGINT) AS community FROM l4),
       |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
       |        FROM (SELECT a AS id FROM p UNION ALL SELECT b FROM p)
       |        GROUP BY 1),
       |m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM p),
       |ds AS (SELECT community, CAST(sum(deg) AS BIGINT) AS deg_sum,
       |              CAST(count(*) AS BIGINT) AS n_nodes
       |       FROM deg JOIN lab USING (id) GROUP BY 1),
       |ie AS (SELECT la.community, CAST(count(*) AS BIGINT) AS internal_edges
       |       FROM p JOIN lab la ON p.a = la.id JOIN lab lb ON p.b = lb.id
       |       WHERE la.community = lb.community GROUP BY 1)
       |SELECT ds.community, ds.n_nodes, ds.deg_sum,
       |  CAST(COALESCE(ie.internal_edges, 0) AS BIGINT) AS internal_edges,
       |  CAST(4 * m.m * COALESCE(ie.internal_edges, 0)
       |    - ds.deg_sum * ds.deg_sum AS BIGINT) AS q_num,
       |  CAST(4 * m.m * COALESCE(ie.internal_edges, 0)
       |    - ds.deg_sum * ds.deg_sum AS DOUBLE)
       |    / CAST(4 * m.m * m.m AS DOUBLE) AS q
       |FROM ds LEFT JOIN ie USING (community), m""".stripMargin

  /** The rare-shingle triangle-count WITH-body prefix (ends at CTE `c` =
    * (id, tri) and keeps `deg` in scope) — shared by the q_triangle_count
    * and q_clustering_coef oracles. */
  private val triangleCtePrefix: String =
    s"""$rareShingleEdgeCte,
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
      |        FROM (SELECT a AS id FROM p UNION ALL SELECT b AS id FROM p)
      |        GROUP BY 1),
      |k AS (SELECT id, deg * 1099511627776 + id AS kk FROM deg),
      |e AS (SELECT least(ka.kk, kb.kk) AS ks, greatest(ka.kk, kb.kk) AS kd
      |      FROM p JOIN k ka ON p.a = ka.id JOIN k kb ON p.b = kb.id),
      |w AS (SELECT e1.ks AS x, e1.kd AS y, e2.kd AS z
      |      FROM e e1 JOIN e e2 ON e1.ks = e2.ks AND e1.kd < e2.kd),
      |t AS (SELECT x, y, z FROM w JOIN e e3 ON w.y = e3.ks AND w.z = e3.kd),
      |c AS (SELECT kk % 1099511627776 AS id, CAST(count(*) AS BIGINT) AS tri
      |      FROM (SELECT x AS kk FROM t UNION ALL SELECT y FROM t
      |            UNION ALL SELECT z FROM t)
      |      GROUP BY 1)""".stripMargin

  val qTriangleCountSql: String =
    s"""WITH $triangleCtePrefix
      |SELECT id, tri FROM c ORDER BY tri DESC, id LIMIT 20""".stripMargin

  /** Per-node local clustering coefficient over the rare-shingle graph
    * ([[Graph.clusteringCoefficients]]): cc = 2·tri / (deg·(deg−1)) for
    * every node in ≥1 triangle — exact integer numerator/denominator plus
    * ONE IEEE division, replayed through the shared triangle CTE prefix. */
  def qClusteringCoef(spark: SparkSession, dir: String): DataFrame =
    Graph.clusteringCoefficients(rareShingleEdges(Tables(spark, dir).documents))

  val qClusteringCoefSql: String =
    s"""WITH $triangleCtePrefix
      |SELECT c.id, c.tri, deg.deg,
      |  CAST(2 * c.tri AS BIGINT) AS cc_num,
      |  CAST(deg.deg * (deg.deg - 1) AS BIGINT) AS cc_den,
      |  CAST(2 * c.tri AS DOUBLE) / CAST(deg.deg * (deg.deg - 1) AS DOUBLE) AS cc
      |FROM c JOIN deg USING (id)""".stripMargin

  /** Degree assortativity of the rare-shingle graph
    * ([[Graph.assortativity]]): the Pearson correlation of endpoint
    * degrees over the symmetrized edge list — by symmetry the x/y moments
    * coincide, so r is a pure RATIONAL n·Σxy−(Σx)² over n·Σxx−(Σx)²
    * (no sqrt at all) and replays bit-exactly. */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame =
    Graph.assortativity(rareShingleEdges(Tables(spark, dir).documents))

  val qAssortativitySql: String =
    s"""WITH $rareShingleEdgeCte,
      |deg AS (SELECT id, CAST(count(*) AS BIGINT) AS deg
      |        FROM (SELECT a AS id FROM p UNION ALL SELECT b AS id FROM p)
      |        GROUP BY 1),
      |sym AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
      |j AS (SELECT da.deg AS dx, db.deg AS dy
      |      FROM sym JOIN deg da ON sym.a = da.id JOIN deg db ON sym.b = db.id),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dx) AS BIGINT) AS sx,
      |             CAST(sum(dx * dx) AS BIGINT) AS sxx,
      |             CAST(sum(dx * dy) AS BIGINT) AS sxy
      |      FROM j)
      |SELECT n, sx, sxx, sxy,
      |  CAST(n * sxy - sx * sx AS BIGINT) AS r_num,
      |  CAST(n * sxx - sx * sx AS BIGINT) AS r_den,
      |  CASE WHEN n * sxx - sx * sx <> 0
      |       THEN CAST(n * sxy - sx * sx AS DOUBLE)
      |            / CAST(n * sxx - sx * sx AS DOUBLE) END AS r
      |FROM m""".stripMargin

  /** Per-source exact-moment Pearson correlation between the token-count
    * and char-count signals ([[graft.operators.Curation.pearsonExact]]) —
    * the redundancy check before signal combination. */
  def qSignalCorr(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("tok_n"),
        col("n_chars"))
    Curation.pearsonExact(docs, "source", "tok_n", "n_chars")
  }

  val qSignalCorrSql: String =
    """WITH d AS (SELECT source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS x,
      |             n_chars AS y
      |           FROM documents),
      |m AS (SELECT source, CAST(count(*) AS BIGINT) AS n,
      |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |             CAST(sum(x * x) AS BIGINT) AS sxx,
      |             CAST(sum(y * y) AS BIGINT) AS syy,
      |             CAST(sum(x * y) AS BIGINT) AS sxy
      |      FROM d GROUP BY 1)
      |SELECT source, n,
      |  CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE)) > 0.0
      |       THEN CAST(n * sxy - sx * sy AS DOUBLE)
      |            / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))) END AS corr
      |FROM m""".stripMargin

  /** χ²-distinctive vocabulary per source
    * ([[graft.operators.TextAnalysis.distinctiveTerms]]): top-5 most
    * over-represented terms per source — corpus drift / source
    * fingerprinting. Ranking is the bounded per-group string heap; the
    * oracle replays counts, the rational χ² chain, and the (χ² DESC,
    * term ASC) order with a window. */
  def qChi2Terms(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.distinctiveTerms(Tables(spark, dir).documents, "source", "text", k = 5)

  val qChi2TermsSql: String =
    """WITH st AS (SELECT source AS g, unnest(string_split(lower(text), ' ')) AS term
      |            FROM documents),
      |ac AS (SELECT g, term, CAST(count(*) AS BIGINT) AS a FROM st GROUP BY 1, 2),
      |tc AS (SELECT term, CAST(sum(a) AS BIGINT) AS t FROM ac GROUP BY 1),
      |gc AS (SELECT g, CAST(sum(a) AS BIGINT) AS s FROM ac GROUP BY 1),
      |nc AS (SELECT CAST(sum(s) AS BIGINT) AS n FROM gc),
      |sc AS (SELECT ac.g, ac.term, tc.t, gc.s, nc.n,
      |         CAST(ac.a * (nc.n - tc.t - gc.s + ac.a)
      |              - (tc.t - ac.a) * (gc.s - ac.a) AS DOUBLE) AS diff
      |       FROM ac JOIN tc USING (term) JOIN gc USING (g) CROSS JOIN nc),
      |c AS (SELECT g, term,
      |        (CAST(n AS DOUBLE) * (diff * diff)) /
      |        ((CAST(t AS DOUBLE) * CAST(n - t AS DOUBLE))
      |         * (CAST(s AS DOUBLE) * CAST(n - s AS DOUBLE))) AS chi2
      |      FROM sc WHERE diff > 0)
      |SELECT g AS source, rnk, term, chi2 FROM (
      |  SELECT g, term, chi2,
      |    CAST(row_number() OVER (PARTITION BY g ORDER BY chi2 DESC, term) AS BIGINT) AS rnk
      |  FROM c) WHERE rnk <= 5""".stripMargin

  /** Per-group exact percentile bands — p50/p95/p99 of the event value per
    * event type ([[graft.operators.Quantiles.groupPercentiles]], the
    * latency-bands-per-endpoint query). The continuous measure enters as
    * exact cents (floor(v·100)); interpolation numerators stay integer
    * (×den) and the user-facing doubles derive by fixed division chains. */
  def qGroupPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
      .select(col("event_type"), floor(col("value") * lit(100.0)).cast("long").as("cents"))
    Quantiles.groupPercentiles(e, "event_type", "cents",
        Seq(("p50", 1L, 2L), ("p95", 19L, 20L), ("p99", 99L, 100L)))
      .withColumn("p50", (col("p50_x2").cast("double") / lit(2.0)) / lit(100.0))
      .withColumn("p95", (col("p95_x20").cast("double") / lit(20.0)) / lit(100.0))
      .withColumn("p99", (col("p99_x100").cast("double") / lit(100.0)) / lit(100.0))
  }

  val qGroupPercentilesSql: String =
    """WITH d AS (SELECT event_type AS g,
      |             CAST(floor(value * 100.0) AS BIGINT) AS v FROM events),
      |h AS (SELECT g, v, count(*) AS c FROM d GROUP BY 1, 2),
      |cum AS (SELECT g, v,
      |        sum(c) OVER (PARTITION BY g ORDER BY v) AS hi,
      |        sum(c) OVER (PARTITION BY g ORDER BY v) - c AS lo,
      |        sum(c) OVER (PARTITION BY g) AS n FROM h),
      |j AS (SELECT cum.*,
      |        (1 * (n - 1)) // 2 AS i50, (1 * (n - 1)) % 2 AS r50,
      |        (19 * (n - 1)) // 20 AS i95, (19 * (n - 1)) % 20 AS r95,
      |        (99 * (n - 1)) // 100 AS i99, (99 * (n - 1)) % 100 AS r99
      |      FROM cum),
      |p AS (SELECT g, n, r50, r95, r99,
      |        max(CASE WHEN i50 >= lo AND i50 < hi THEN v END) AS v50lo,
      |        max(CASE WHEN i50 + (CASE WHEN r50 > 0 THEN 1 ELSE 0 END) >= lo
      |                  AND i50 + (CASE WHEN r50 > 0 THEN 1 ELSE 0 END) < hi
      |             THEN v END) AS v50hi,
      |        max(CASE WHEN i95 >= lo AND i95 < hi THEN v END) AS v95lo,
      |        max(CASE WHEN i95 + (CASE WHEN r95 > 0 THEN 1 ELSE 0 END) >= lo
      |                  AND i95 + (CASE WHEN r95 > 0 THEN 1 ELSE 0 END) < hi
      |             THEN v END) AS v95hi,
      |        max(CASE WHEN i99 >= lo AND i99 < hi THEN v END) AS v99lo,
      |        max(CASE WHEN i99 + (CASE WHEN r99 > 0 THEN 1 ELSE 0 END) >= lo
      |                  AND i99 + (CASE WHEN r99 > 0 THEN 1 ELSE 0 END) < hi
      |             THEN v END) AS v99hi
      |      FROM j GROUP BY 1, 2, 3, 4, 5)
      |SELECT g AS event_type, CAST(n AS BIGINT) AS n,
      |  CAST(v50lo * (2 - r50) + v50hi * r50 AS BIGINT) AS p50_x2,
      |  CAST(v95lo * (20 - r95) + v95hi * r95 AS BIGINT) AS p95_x20,
      |  CAST(v99lo * (100 - r99) + v99hi * r99 AS BIGINT) AS p99_x100,
      |  (CAST(v50lo * (2 - r50) + v50hi * r50 AS DOUBLE) / 2.0) / 100.0 AS p50,
      |  (CAST(v95lo * (20 - r95) + v95hi * r95 AS DOUBLE) / 20.0) / 100.0 AS p95,
      |  (CAST(v99lo * (100 - r99) + v99hi * r99 AS DOUBLE) / 100.0) / 100.0 AS p99
      |FROM p""".stripMargin

  /** Sampled percentile bands at bounded state
    * ([[graft.operators.Quantiles.hashSampleQuantiles]]) — the
    * unbounded-domain scale path beside the exact q_group_percentiles:
    * per event type, the 256 smallest-content-hash rows form a
    * deterministic uniform sample and nearest-lower-rank p50/p95/p99
    * read off it. The oracle replays the identical sample (md5 hex
    * ordering ≡ the 60-bit integer ordering, the samplePerGroup
    * pattern) and index arithmetic. */
  def qSketchPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir).events
      .select(col("event_type"), col("event_id"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"))
    Quantiles.hashSampleQuantiles(e, "event_type", "event_id", "cents",
      k = 256, Seq(("p50", 1L, 2L), ("p95", 19L, 20L), ("p99", 99L, 100L)))
  }

  val qSketchPercentilesSql: String =
    """WITH d AS (SELECT event_type AS g, event_id AS id,
      |             CAST(floor(value * 100.0) AS BIGINT) AS v FROM events),
      |h AS (SELECT g, v, substring(md5(g || '-' || id), 1, 15) AS hx FROM d),
      |r AS (SELECT g, v,
      |        row_number() OVER (PARTITION BY g ORDER BY hx, v) AS rn,
      |        count(*) OVER (PARTITION BY g) AS n FROM h),
      |s AS (SELECT g, CAST(any_value(n) AS BIGINT) AS n_total,
      |        CAST(count(*) AS BIGINT) AS m_sample,
      |        list_sort(list(v)) AS sv
      |      FROM r WHERE rn <= 256 GROUP BY g)
      |SELECT g AS event_type, n_total, m_sample,
      |  sv[CAST((1 * (m_sample - 1)) // 2 AS BIGINT) + 1] AS p50_s,
      |  sv[CAST((19 * (m_sample - 1)) // 20 AS BIGINT) + 1] AS p95_s,
      |  sv[CAST((99 * (m_sample - 1)) // 100 AS BIGINT) + 1] AS p99_s
      |FROM s""".stripMargin

  /** Per-source winsorization of the token-count signal at [p1, p99]
    * ([[graft.operators.Quantiles.winsorizePerGroup]]) — outlier taming
    * before the moment-based statistics (q_zscore_norm / q_signal_corr)
    * run over the same signal. */
  def qWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("tok_n"))
    Quantiles.winsorizePerGroup(docs, "source", "tok_n",
      lo = (1L, 100L), hi = (99L, 100L))
  }

  val qWinsorizeSql: String =
    """WITH d AS (SELECT doc_id, source AS g,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |           FROM documents),
      |h AS (SELECT g, v, count(*) AS c FROM d GROUP BY 1, 2),
      |cum AS (SELECT g, v,
      |        sum(c) OVER (PARTITION BY g ORDER BY v) AS hi_,
      |        sum(c) OVER (PARTITION BY g ORDER BY v) - c AS lo_,
      |        sum(c) OVER (PARTITION BY g) AS n FROM h),
      |j AS (SELECT *, (1 * (n - 1)) // 100 AS ilo,
      |        (99 * (n - 1)) // 100 AS ihi FROM cum),
      |b AS (SELECT g, max(CASE WHEN ilo >= lo_ AND ilo < hi_ THEN v END) AS blo,
      |             max(CASE WHEN ihi >= lo_ AND ihi < hi_ THEN v END) AS bhi
      |      FROM j GROUP BY 1)
      |SELECT d.doc_id, d.g AS source, d.v AS tok_n,
      |  least(greatest(d.v, b.blo), b.bhi) AS w
      |FROM d JOIN b USING (g)""".stripMargin

  /** Robust per-source location/scale: median and MAD of the token count
    * ([[graft.operators.Quantiles.madPerGroup]] — ×2/×4 integer
    * numerators, no doubles anywhere), the outlier-immune counterpart of
    * q_zscore_norm's mean/stddev. */
  def qRobustStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir).documents
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("tok_n"))
    Quantiles.madPerGroup(docs, "source", "tok_n")
  }

  val qRobustStatsSql: String =
    """WITH d AS (SELECT source AS g,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |           FROM documents),
      |h1 AS (SELECT g, v, count(*) AS c FROM d GROUP BY 1, 2),
      |c1 AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS hi,
      |        sum(c) OVER (PARTITION BY g ORDER BY v) - c AS lo,
      |        sum(c) OVER (PARTITION BY g) AS n FROM h1),
      |j1 AS (SELECT *, (n - 1) // 2 AS i, (n - 1) % 2 AS r FROM c1),
      |m1 AS (SELECT g, n, r,
      |        max(CASE WHEN i >= lo AND i < hi THEN v END) AS vlo,
      |        max(CASE WHEN i + (CASE WHEN r > 0 THEN 1 ELSE 0 END) >= lo
      |                  AND i + (CASE WHEN r > 0 THEN 1 ELSE 0 END) < hi
      |             THEN v END) AS vhi
      |      FROM j1 GROUP BY 1, 2, 3),
      |med AS (SELECT g, n, CAST(vlo * (2 - r) + vhi * r AS BIGINT) AS med_x2
      |        FROM m1),
      |dv AS (SELECT d.g, abs(2 * d.v - med.med_x2) AS v
      |       FROM d JOIN med USING (g)),
      |h2 AS (SELECT g, v, count(*) AS c FROM dv GROUP BY 1, 2),
      |c2 AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v) AS hi,
      |        sum(c) OVER (PARTITION BY g ORDER BY v) - c AS lo,
      |        sum(c) OVER (PARTITION BY g) AS n FROM h2),
      |j2 AS (SELECT *, (n - 1) // 2 AS i, (n - 1) % 2 AS r FROM c2),
      |m2 AS (SELECT g, r,
      |        max(CASE WHEN i >= lo AND i < hi THEN v END) AS vlo,
      |        max(CASE WHEN i + (CASE WHEN r > 0 THEN 1 ELSE 0 END) >= lo
      |                  AND i + (CASE WHEN r > 0 THEN 1 ELSE 0 END) < hi
      |             THEN v END) AS vhi
      |      FROM j2 GROUP BY 1, 2),
      |mad AS (SELECT g, CAST(vlo * (2 - r) + vhi * r AS BIGINT) AS mad_x4
      |        FROM m2)
      |SELECT med.g AS source, CAST(med.n AS BIGINT) AS n, med.med_x2, mad.mad_x4
      |FROM med JOIN mad USING (g)""".stripMargin

  /** Per-group MODE of the token-count signal (most frequent value, ties
    * to the smallest — deterministic): one (group, value) count + one
    * lexicographic min-struct argmax, no window over data rows. */
  def qGroupMode(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables(spark, dir).documents
      .select(col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("v"))
      .groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
    counts.groupBy(col("source"))
      .agg(min(struct((-col("c")).as("nc"), col("v"))).as("m"))
      .select(col("source"), col("m.v").as("mode"), (-col("m.nc")).as("cnt"))
  }

  val qGroupModeSql: String =
    """WITH d AS (SELECT source,
      |             CAST(len(string_split(text, ' ')) AS BIGINT) AS v
      |           FROM documents),
      |c AS (SELECT source, v, CAST(count(*) AS BIGINT) AS c
      |      FROM d GROUP BY 1, 2)
      |SELECT source, v AS mode, c AS cnt FROM (
      |  SELECT *, row_number() OVER (PARTITION BY source
      |             ORDER BY c DESC, v) AS rn FROM c) WHERE rn = 1""".stripMargin

  def qTokenStats(spark: SparkSession, dir: String): DataFrame =
    tokenStatsCore(spark, dir)

  /** User-facing report with conventional double-valued percentiles and the
    * mean; derived from the integer numerators by one division each. */
  def tokenStatsReport(spark: SparkSession, dir: String): DataFrame =
    tokenStatsCore(spark, dir).select(col("source"), col("n_docs"), col("n_tokens"),
      (col("p50_x2").cast("double") / lit(2.0)).as("p50_tokens"),
      (col("p95_x20").cast("double") / lit(20.0)).as("p95_tokens"),
      (col("n_tokens").cast("double") / col("n_docs").cast("double")).as("avg_tokens"))

  val qTokenStatsSql: String =
    """WITH d AS (SELECT source, len(string_split(text, ' ')) AS nt FROM documents),
      |h AS (SELECT source, nt, count(*) AS c FROM d GROUP BY 1, 2),
      |cum AS (SELECT source, nt,
      |        sum(c) OVER (PARTITION BY source ORDER BY nt) AS hi,
      |        sum(c) OVER (PARTITION BY source ORDER BY nt) - c AS lo,
      |        sum(c) OVER (PARTITION BY source) AS n_docs,
      |        sum(nt * c) OVER (PARTITION BY source) AS n_tokens FROM h),
      |j AS (SELECT cum.*,
      |        (n_docs - 1) // 2 AS i50, (n_docs - 1) % 2 AS r50,
      |        (19 * (n_docs - 1)) // 20 AS i95, (19 * (n_docs - 1)) % 20 AS r95,
      |        (19 * (n_docs - 1)) // 20 + (CASE WHEN (19 * (n_docs - 1)) % 20 > 0 THEN 1 ELSE 0 END) AS i95hi
      |      FROM cum),
      |p AS (SELECT source, n_docs, n_tokens, r50, r95,
      |        max(CASE WHEN i50 >= lo AND i50 < hi THEN nt END) AS v50lo,
      |        max(CASE WHEN i50 + r50 >= lo AND i50 + r50 < hi THEN nt END) AS v50hi,
      |        max(CASE WHEN i95 >= lo AND i95 < hi THEN nt END) AS v95lo,
      |        max(CASE WHEN i95hi >= lo AND i95hi < hi THEN nt END) AS v95hi
      |      FROM j GROUP BY 1, 2, 3, 4, 5)
      |SELECT source, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
      |  CAST(v50lo * (2 - r50) + v50hi * r50 AS BIGINT) AS p50_x2,
      |  CAST(v95lo * (20 - r95) + v95hi * r95 AS BIGINT) AS p95_x20
      |FROM p""".stripMargin

  /** Deterministic stratified train/val/test split: the assignment hashes
    * (source, doc_id) content — no RNG state, stable under re-runs,
    * repartition and backfill, and every executor agrees without
    * coordination. Thresholds are md5-hex prefixes (the q_mixture_resample
    * parity trick): train < 0x80%, val < 0x90%, else test. One shuffle for
    * the report aggregate; the assignment itself is map-only. */
  /** Deterministic split assignment, reusable over any key columns:
    * md5-hex prefix thresholds, stable under re-runs/repartition/backfill,
    * no executor coordination. */
  def splitAssign(df: DataFrame, keyCols: Seq[String],
                  trainFrac: Double = 0.8, valFrac: Double = 0.1): DataFrame = {
    val h = substring(md5(concat_ws("-", keyCols.map(col): _*)), 1, 8)
    def hex(f: Double) = f"${math.floor(f * 4294967296.0).toLong}%08x"
    df.withColumn("split",
      when(h < hex(trainFrac), "train")
        .when(h < hex(trainFrac + valFrac), "val")
        .otherwise("test"))
  }

  def qSplitAssign(spark: SparkSession, dir: String): DataFrame =
    splitAssign(Tables(spark, dir).documents, Seq("source", "doc_id"))
      .groupBy(col("source"), col("split"))
      .agg(count(lit(1)).as("n"))

  val qSplitAssignSql: String =
    """WITH a AS (SELECT source,
      |  CASE WHEN substr(md5(source || '-' || doc_id), 1, 8) < 'cccccccc' THEN 'train'
      |       WHEN substr(md5(source || '-' || doc_id), 1, 8) < 'e6666666' THEN 'val'
      |       ELSE 'test' END AS split
      |  FROM documents)
      |SELECT source, split, count(*) AS n FROM a GROUP BY 1, 2""".stripMargin

  /** Deterministic training-export shuffle assignment (SURVEY §2.5 55p4):
    * the seeded pseudorandom permutation a 100 TB export replays —
    * decorrelated portable md5s give the shard and the within-shard
    * order, so any engine reproduces the permutation bit-for-bit. */
  def qShuffleExport(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Bucketing.shuffleAssign(
      Tables(spark, dir).documents.select(col("doc_id")), Seq("doc_id"), shards = 8)

  val qShuffleExportSql: String =
    """WITH a AS (SELECT doc_id,
      |    md5('graft-' || CAST(doc_id AS VARCHAR) || '-s') AS hs,
      |    md5('graft-' || CAST(doc_id AS VARCHAR) || '-o') AS ho
      |  FROM documents),
      |b AS (SELECT doc_id, ho, CAST(
      |      ((strpos('0123456789abcdef', substr(hs, 1, 1)) - 1) * 4096 +
      |       (strpos('0123456789abcdef', substr(hs, 2, 1)) - 1) * 256 +
      |       (strpos('0123456789abcdef', substr(hs, 3, 1)) - 1) * 16 +
      |       (strpos('0123456789abcdef', substr(hs, 4, 1)) - 1)) % 8 AS INT) AS shard
      |  FROM a)
      |SELECT doc_id, shard,
      |  CAST(row_number() OVER (PARTITION BY shard ORDER BY ho, doc_id) - 1 AS BIGINT) AS idx
      |FROM b""".stripMargin

  /** Overlapping-window document chunking (context-window preparation):
    * each doc yields chunks of ≤`maxTokens` tokens starting every
    * `stride` (maxTokens - stride overlap). Chunk starts are a generated
    * sequence exploded per row — map-side only, no shuffle, parallel by
    * input partition; boundary arithmetic is integer so an oracle can
    * match bit-for-bit. */
  def chunkDocs(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", maxTokens: Long = 512L,
                stride: Long = 384L): DataFrame =
    docs
      .select(col(idCol),
        TextAnalysis.tokenCountWs(col(textCol)).cast("bigint").as("n_tokens"))
      .select(col(idCol), col("n_tokens"),
        explode(sequence(lit(0L), greatest(col("n_tokens") - 1, lit(0L)),
          lit(stride))).as("start_tok"))
      .select(col(idCol), col("n_tokens"),
        (col("start_tok") / stride).cast("bigint").as("chunk_id"), col("start_tok"),
        least(lit(maxTokens), col("n_tokens") - col("start_tok")).as("chunk_len"))

  def qChunkDocs(spark: SparkSession, dir: String): DataFrame =
    chunkDocs(Tables(spark, dir).documents)

  val qChunkDocsSql: String =
    """WITH d AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents),
      |c AS (SELECT doc_id, n_tokens,
      |  unnest(range(0, greatest(n_tokens, 1), 384)) AS start_tok FROM d)
      |SELECT doc_id, n_tokens, start_tok // 384 AS chunk_id, start_tok,
      |  least(512, n_tokens - start_tok) AS chunk_len
      |FROM c""".stripMargin

  /** Symmetric int8 embedding quantization report: per-vector scale =
    * max|x|/127, elementwise floor(x/scale) clamped to [-127,127].
    * Map-only (no shuffle); the whole per-vector computation is ONE
    * native tight loop (plans.Int8QuantStats) — an HOF
    * transform+aggregate would interpret its lambda per element.
    * Integer sums keep the oracle exact. */
  def qQuantizeEmb(spark: SparkSession, dir: String): DataFrame =
    Tables(spark, dir).embeddings
      .select(col("vec_id"),
        graft.plans.NativeSets.int8QuantStats(
          graft.operators.Similarity.asDouble(col("embedding"))).as("qs"))
      .select(col("vec_id"), col("qs.scale").as("scale"),
        col("qs.sum_q").as("sum_q"), col("qs.n_clipped").as("n_clipped"))

  val qQuantizeEmbSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |s AS (SELECT vec_id, v,
      |  list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale FROM e)
      |SELECT vec_id, scale,
      |  CASE WHEN scale = 0 THEN 0 ELSE
      |    CAST(list_sum(list_transform(v, x ->
      |      greatest(-127, least(127, CAST(floor(x / scale) AS BIGINT))))) AS BIGINT)
      |  END AS sum_q,
      |  CASE WHEN scale = 0 THEN 0 ELSE
      |    CAST(list_sum(list_transform(v, x ->
      |      CASE WHEN abs(floor(x / scale)) > 127 THEN 1 ELSE 0 END)) AS BIGINT)
      |  END AS n_clipped
      |FROM s""".stripMargin

  /** Per-dimension centroid drift between the even and odd vec_id halves
    * ([[graft.operators.Similarity.embeddingDrift]]) — the
    * distribution-shift monitor, via one VectorMoments buffer per side. */
  def qEmbDrift(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables(spark, dir).embeddings
    graft.operators.Similarity.embeddingDrift(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2)) === 1))
      .orderBy(col("i"))
  }

  val qEmbDriftSql: String =
    """WITH e AS (SELECT vec_id % 2 AS half, CAST(embedding AS DOUBLE[]) AS v
      |           FROM embeddings),
      |q AS (SELECT half, list_transform(v, x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qs
      |      FROM e),
      |x AS (SELECT half, unnest(qs) AS qv, unnest(range(len(qs))) AS i FROM q),
      |m AS (SELECT i,
      |        CAST(sum(CASE WHEN half = 0 THEN qv END) AS BIGINT) AS sa,
      |        CAST(count(CASE WHEN half = 0 THEN 1 END) AS BIGINT) AS na,
      |        CAST(sum(CASE WHEN half = 1 THEN qv END) AS BIGINT) AS sb,
      |        CAST(count(CASE WHEN half = 1 THEN 1 END) AS BIGINT) AS nb
      |      FROM x GROUP BY 1)
      |SELECT i, na AS n_a, nb AS n_b,
      |  CAST(sa AS DOUBLE) / na AS mean_a, CAST(sb AS DOUBLE) / nb AS mean_b,
      |  CAST(sa AS DOUBLE) / na - CAST(sb AS DOUBLE) / nb AS drift
      |FROM m ORDER BY i""".stripMargin

  /** Pairwise source-overlap matrix
    * ([[graft.operators.Curation.sourceOverlapMatrix]]): one KMV shingle
    * sketch per source from a single corpus pass, every source pair
    * estimated on the groups-sized sketch table. */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame =
    Curation.sourceOverlapMatrix(Tables(spark, dir).documents, "source", k = 512)
      .orderBy(col("src_a"), col("src_b"))

  val qSourceOverlapSql: String = {
    val hexVal = (1 to 15).map { p =>
      val w = BigInt(16).pow(15 - p)
      s"(strpos('0123456789abcdef', substring(h, $p, 1)) - 1) * $w"
    }.mkString(" + ")
    s"""WITH toks AS (SELECT source AS s,
       |    string_split(trim(lower(text)), ' ') AS t FROM documents),
       |g AS (SELECT s, unnest(CASE WHEN len(t) >= 3
       |    THEN list_transform(range(1, len(t) - 1), i -> array_to_string(t[i:i+2], ' '))
       |    ELSE [] END) AS g FROM toks),
       |hd AS (SELECT DISTINCT s, ($hexVal) AS h
       |  FROM (SELECT s, substring(md5(g), 1, 15) AS h FROM g)),
       |rk AS (SELECT s, h, row_number() OVER (PARTITION BY s ORDER BY h) AS rn FROM hd),
       |sk AS (SELECT s, h FROM rk WHERE rn <= 512),
       |pairs AS (SELECT DISTINCT a.s AS src_a, b.s AS src_b
       |          FROM (SELECT DISTINCT s FROM sk) a, (SELECT DISTINCT s FROM sk) b
       |          WHERE a.s < b.s),
       |uu AS (SELECT DISTINCT p.src_a, p.src_b, x.h
       |       FROM pairs p JOIN sk x ON x.s = p.src_a OR x.s = p.src_b),
       |u AS (SELECT src_a, src_b, h,
       |        row_number() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn FROM uu),
       |ub AS (SELECT u.src_a, u.src_b,
       |         CASE WHEN sa.h IS NOT NULL AND sb.h IS NOT NULL THEN 1 ELSE 0 END AS b
       |       FROM u
       |       LEFT JOIN sk sa ON sa.s = u.src_a AND sa.h = u.h
       |       LEFT JOIN sk sb ON sb.s = u.src_b AND sb.h = u.h
       |       WHERE u.rn <= 512),
       |nn AS (SELECT src_a, src_b, CAST(count(*) AS BIGINT) AS n_union,
       |         CAST(sum(b) AS BIGINT) AS n_both FROM ub GROUP BY 1, 2)
       |SELECT src_a, src_b, n_union, n_both,
       |  CAST(n_both AS DOUBLE) / CAST(n_union AS DOUBLE) AS jaccard_est
       |FROM nn ORDER BY src_a, src_b""".stripMargin
  }

  /** Embedding-dimension correlation matrix
    * ([[graft.operators.Similarity.dimCorrelations]]) — the dimension-
    * collapse / redundant-axis diagnostic. All 2016 i<j pairs over the
    * 64-dim space from ONE native VectorMoments pass (a single integer
    * moment buffer per partition; exact-cents quantization). */
  def qDimCorr(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Similarity.dimCorrelations(Tables(spark, dir).embeddings)
      .orderBy(col("i"), col("j"))

  val qDimCorrSql: String =
    """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |q AS (SELECT list_transform(v, x -> CAST(floor(x * 1000.0) AS BIGINT)) AS qs
      |      FROM e),
      |pr AS (SELECT unnest(flatten(list_transform(qs, (qi, i) ->
      |         list_transform(qs[i:], (qj, k) ->
      |           {'i': i - 1, 'j': i + k - 2, 'qi': qi, 'qj': qj})))) AS p
      |       FROM q),
      |m AS (SELECT p.i AS i, p.j AS j, CAST(count(*) AS BIGINT) AS n,
      |        CAST(sum(p.qi) AS BIGINT) AS si, CAST(sum(p.qj) AS BIGINT) AS sj,
      |        CAST(sum(p.qi * p.qj) AS BIGINT) AS sij
      |      FROM pr GROUP BY 1, 2),
      |d AS (SELECT i, sij AS ss FROM m WHERE i = j)
      |SELECT m.i, m.j, m.n,
      |  CASE WHEN sqrt(CAST(m.n * di.ss - m.si * m.si AS DOUBLE))
      |         * sqrt(CAST(m.n * dj.ss - m.sj * m.sj AS DOUBLE)) > 0.0
      |       THEN CAST(m.n * m.sij - m.si * m.sj AS DOUBLE)
      |            / (sqrt(CAST(m.n * di.ss - m.si * m.si AS DOUBLE))
      |               * sqrt(CAST(m.n * dj.ss - m.sj * m.sj AS DOUBLE))) END AS corr
      |FROM m JOIN d di ON m.i = di.i JOIN d dj ON m.j = dj.i
      |WHERE m.i < m.j ORDER BY m.i, m.j""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, Option[String])] = Map(
    "q_split_assign"   -> ((qSplitAssign _, Some(qSplitAssignSql))),
    "q_shuffle_export" -> ((qShuffleExport _, Some(qShuffleExportSql))),
    "q_chunk_docs"     -> ((qChunkDocs _, Some(qChunkDocsSql))),
    "q_quantize_emb"   -> ((qQuantizeEmb _, Some(qQuantizeEmbSql))),
    "q_dim_corr"       -> ((qDimCorr _, Some(qDimCorrSql))),
    "q_emb_drift"      -> ((qEmbDrift _, Some(qEmbDriftSql))),
    "q_source_overlap" -> ((qSourceOverlap _, Some(qSourceOverlapSql))),
    "q_asof_join"      -> ((qAsofJoin _, Some(qAsofJoinSql))),
    "q_asof_forward"   -> ((qAsofForward _, Some(qAsofForwardSql))),
    "q_asof_tolerance" -> ((qAsofTolerance _, Some(qAsofToleranceSql))),
    "q_rolling_range"  -> ((qRollingRange _, Some(qRollingRangeSql))),
    "q_pack_sequences" -> ((qPackSequences _, Some(qPackSequencesSql))),
    "q_stable_ids"     -> ((qStableIds _, Some(qStableIdsSql))),
    "q_sample_per_source" -> ((qSamplePerSource _, Some(qSamplePerSourceSql))),
    "q_token_budget"   -> ((qTokenBudget _, Some(qTokenBudgetSql))),
    "q_shard_tokens"   -> ((qShardTokens _, Some(qShardTokensSql))),
    "q_pareto_front"   -> ((qParetoFront _, Some(qParetoFrontSql))),
    "q_corpus_diff"    -> ((qCorpusDiff _, Some(qCorpusDiffSql))),
    "q_tfidf"          -> ((qTfidf _, Some(qTfidfSql))),
    "q_contamination"  -> ((qContamination _, Some(qContaminationSql))),
    "q_contamination_bloom" -> ((qContaminationBloom _, Some(qContaminationSql))),
    "q_lm_bigram"      -> ((qLmBigram _, Some(qLmBigramSql))),
    "q_ccnet_buckets"  -> ((qCcnetBuckets _, Some(qCcnetBucketsSql))),
    "q_repeated_grams" -> ((qRepeatedGrams _, Some(qRepeatedGramsSql))),
    "q_substring_dedup" -> ((qSubstringDedup _, Some(qSubstringDedupSql))),
    "q_winnow"          -> ((qWinnow _, Some(qWinnowSql))),
    "q_containment"     -> ((qContainment _, Some(qContainmentSql))),
    "q_containment_inc" -> ((qContainmentInc _, Some(qContainmentIncSql))),
    "q_boilerplate"     -> ((qBoilerplate _, Some(qBoilerplateSql))),
    "q_paragraph_dedup" -> ((qParagraphDedup _, Some(qParagraphDedupSql))),
    "q_url_dedup"       -> ((qUrlDedup _, Some(qUrlDedupSql))),
    "q_cap_per_host"    -> ((qCapPerHost _, Some(qCapPerHostSql))),
    "q_html_extract"    -> ((qHtmlExtract _, Some(qHtmlExtractSql))),
    "q_markdown_extract" -> ((qMarkdownExtract _, Some(qMarkdownExtractSql))),
    "q_dict_tag"        -> ((qDictTag _, Some(qDictTagSql))),
    "q_bpe_pairs"       -> ((qBpePairs _, Some(qBpePairsSql))),
    "q_bpe_train"       -> ((qBpeTrain _, None)),
    "q_token_stats"    -> ((qTokenStats _, Some(qTokenStatsSql))),
    "q_zscore_norm"    -> ((qZscoreNorm _, Some(qZscoreNormSql))),
    "q_pagerank"       -> ((qPagerank _, Some(qPagerankSql))),
    "q_random_walks"   -> ((qRandomWalks _, Some(qRandomWalksSql))),
    "q_random_walks_weighted" -> ((qRandomWalksWeighted _, Some(qRandomWalksWeightedSql))),
    "q_random_walks_indexed" -> ((qRandomWalksIndexed _, Some(qRandomWalksSql))),
    "q_random_walks_n2v" -> ((qRandomWalksN2v _, Some(qRandomWalksN2vSql))),
    "q_hits_indexed"   -> ((qHitsIndexed _, Some(qHitsSql))),
    "q_pagerank_weighted" -> ((qPagerankWeighted _, Some(qPagerankWeightedSql))),
    "q_pagerank_indexed"  -> ((qPagerankIndexed _, Some(qPagerankSql))),
    "q_ppr"            -> ((qPpr _, Some(qPprSql))),
    "q_triangle_count" -> ((qTriangleCount _, Some(qTriangleCountSql))),
    "q_clustering_coef" -> ((qClusteringCoef _, Some(qClusteringCoefSql))),
    "q_assortativity"  -> ((qAssortativity _, Some(qAssortativitySql))),
    "q_kcore"          -> ((qKCore _, Some(qKCoreSql))),
    "q_communities"    -> ((qCommunities _, Some(qCommunitiesSql))),
    "q_louvain_step"   -> ((qLouvainStep _, Some(qLouvainStepSql))),
    "q_louvain"        -> ((qLouvain _, Some(qLouvainSql))),
    "q_communities_indexed" -> ((qCommunitiesIndexed _, Some(qCommunitiesIndexedSql))),
    "q_modularity"     -> ((qModularity _, Some(qModularitySql))),
    "q_scc"            -> ((qScc _, Some(qSccSql))),
    "q_sssp"           -> ((qSssp _, Some(qSsspSql))),
    "q_sssp_indexed"   -> ((qSsspIndexed _, Some(qSsspSql))),
    "q_sssp_weighted"  -> ((qSsspWeighted _, Some(qSsspWeightedSql))),
    "q_sssp_weighted_indexed" -> ((qSsspWeightedIndexed _, Some(qSsspWeightedSql))),
    "q_layout_bucketed" -> ((qLayoutBucketed _, Some(qLayoutSql))),
    "q_layout_range"   -> ((qLayoutRange _, Some(qLayoutSql))),
    "q_layout_zorder"  -> ((qLayoutZorder _, Some(qLayoutSql))),
    "q_layout_compact" -> ((qLayoutCompact _, Some(qLayoutSql))),
    "q_hits"           -> ((qHits _, Some(qHitsSql))),
    "q_signal_corr"    -> ((qSignalCorr _, Some(qSignalCorrSql))),
    "q_chi2_terms"     -> ((qChi2Terms _, Some(qChi2TermsSql))),
    "q_group_percentiles" -> ((qGroupPercentiles _, Some(qGroupPercentilesSql))),
    "q_stream_percentiles" -> ((qStreamPercentiles _, Some(qStreamPercentilesSql))),
    "q_stream_sketch_percentiles" -> ((qStreamSketchPercentiles _, Some(qStreamSketchPercentilesSql))),
    "q_sketch_percentiles" -> ((qSketchPercentiles _, Some(qSketchPercentilesSql))),
    "q_event_anomaly"  -> ((qEventAnomaly _, Some(qEventAnomalySql))),
    "q_event_debounce" -> ((qEventDebounce _, Some(qEventDebounceSql))),
    "q_event_dau"      -> ((qEventDau _, Some(qEventDauSql))),
    "q_growth_accounting" -> ((qGrowthAccounting _, Some(qGrowthAccountingSql))),
    "q_attribution"    -> ((qAttribution _, Some(qAttributionSql))),
    "q_corpus_merge"   -> ((qCorpusMerge _, Some(qCorpusMergeSql))),
    "q_line_dedup"     -> ((qLineDedup _, Some(qLineDedupSql))),
    "q_winsorize"      -> ((qWinsorize _, Some(qWinsorizeSql))),
    "q_robust_stats"   -> ((qRobustStats _, Some(qRobustStatsSql))),
    "q_group_mode"     -> ((qGroupMode _, Some(qGroupModeSql))),
    "q_multimodal"     -> ((qMultimodal _, Some(qMultimodalSql))),
    "q_mixture_resample" -> ((qMixtureResample _, Some(qMixtureResampleSql))),
    "q_mixture_temperature" -> ((qMixtureTemperature _, Some(qMixtureTemperatureSql))),
    "q_mixture_temperature_q1" -> ((qMixtureTemperatureQ1 _, Some(qMixtureTemperatureQ1Sql))),
    "q_mixture_temperature_q3" -> ((qMixtureTemperatureQ3 _, Some(qMixtureTemperatureQ3Sql))),
    "q_mixture_temperature_d38" -> ((qMixtureTemperatureD38 _, Some(qMixtureTemperatureD38Sql))),
    "q_mixture_temperature_d58" -> ((qMixtureTemperatureD58 _, Some(qMixtureTemperatureD58Sql))),
    "q_salted_agg"     -> ((qSaltedAgg _, Some(qSaltedAggSql))),
    "q_dedup_exact"    -> ((qDedupExact _, Some(qDedupExactSql))),
    "q_editdist_join"  -> ((qEditdistJoin _, Some(qEditdistJoinSql))),
    "q_jaccard_join"   -> ((qJaccardJoin _, Some(qJaccardJoinSql))),
    "q_jaccard_join_nat" -> ((qJaccardJoinNatural _, Some(qJaccardJoinNaturalSql))),
    "q_dedup_incremental" -> ((qDedupIncremental _, Some(qDedupIncrementalSql))),
    "q_dedup_minhash_inc" -> ((qDedupMinhashInc _, Some(qDedupMinhashIncSql))),
    "q_ngram_jaccard"  -> ((qNgramJaccard _, Some(qNgramJaccardSql))),
    "q_dedup_minhash"  -> ((qDedupMinhash _, Some(qDedupMinhashSql))),
    "q_dedup_corpus"   -> ((qDedupCorpus _, Some(qDedupCorpusSql))),
    "q_dedup_keep_best" -> ((qDedupKeepBest _, Some(qDedupKeepBestSql))),
    "q_dedup_simhash"  -> ((qDedupSimhash _, None)),
    "q_dedup_simhash_exact" -> ((qDedupSimhashExact _, Some(qDedupSimhashExactSql))),
    "q_text_tokens"    -> ((qTextTokens _, Some(qTextTokensSql))),
    "q_text_quality"   -> ((qTextQuality _, Some(qTextQualitySql))),
    "q_char_diversity" -> ((qCharDiversity _, Some(qCharDiversitySql))),
    "q_best_per_source" -> ((qBestPerSource _, Some(qBestPerSourceSql))),
    "q_dsir_select"    -> ((qDsirSelect _, Some(qDsirSelectSql))),
    "q_corpus_overlap" -> ((qCorpusOverlap _, Some(qCorpusOverlapSql))),
    "q_corpus_overlap_inc" -> ((qCorpusOverlapInc _, Some(qCorpusOverlapSql))),
    "q_quality_lr"     -> ((qQualityLr _, Some(qQualityLrSql))),
    "q_gopher_rules"   -> ((qGopherRules _, Some(qGopherRulesSql))),
    "q_lang_id"        -> ((qLangId _, Some(qLangIdSql))),
    "q_fingerprint"    -> ((qFingerprint _, Some(qFingerprintSql))),
    "q_ann_topk"       -> ((qAnnTopk _, Some(qAnnTopkSql))),
    "q_emb_neardup"    -> ((qEmbNeardup _, Some(qEmbNeardupSql))),
    "q_emb_neardup_lsh" -> ((qEmbNeardupLsh _, None)),
    "q_emb_neardup_lsh_fixed" -> ((qEmbNeardupLshFixed _, Some(qEmbNeardupLshFixedSql))),
    "q_semdedup"       -> ((qSemDedup _, Some(qSemDedupSql))),
    "q_semdedup_inc"   -> ((qSemDedupInc _, Some(qSemDedupIncSql))),
    "q_ann_ivf"        -> ((qAnnIvf _, None)),
    "q_rand_proj"      -> ((qRandProj _, Some(qRandProjSql))),
    "q_ann_ivf_exact"  -> ((qAnnIvfExact _, Some(qAnnTopkSql))),
    "q_knn_graph"      -> ((qKnnGraph _, Some(qKnnGraphSql))),
    "q_knn_classify"   -> ((qKnnClassify _, Some(qKnnClassifySql))),
    "q_knn_mutual"     -> ((qKnnMutual _, Some(qKnnMutualSql))),
    "q_knn_clusters"   -> ((qKnnClusters _, Some(qKnnClustersSql))),
    "q_ann_ivf_fixed"  -> ((qAnnIvfFixed _, Some(qAnnIvfFixedSql))),
    "q_cluster_sample" -> ((qClusterSample _, Some(qClusterSampleSql))),
    "q_ann_ivf_indexed" -> ((qAnnIvfIndexed _, Some(qAnnIvfFixedSql))),
    "q_doc_freq_score" -> ((qDocFreqScore _, Some(qDocFreqScoreSql))),
    "q_pii_scrub"      -> ((qPiiScrub _, Some(qPiiScrubSql))),
    "q_repetition"     -> ((qRepetition _, Some(qRepetitionSql))),
    "q_sample_hash"    -> ((qSampleHash _, Some(qSampleHashSql))),
    "q_weighted_sample" -> ((qWeightedSample _, Some(qWeightedSampleSql))),
    "q_top_terms"      -> ((qTopTerms _, Some(qTopTermsSql))),
    "q_heavy_hitters"  -> ((qHeavyHitters _, Some(qHeavyHittersSql))),
    "q_event_join"     -> ((qEventJoin _, Some(qEventJoinSql))),
    "q_range_join"     -> ((qRangeJoin _, Some(qRangeJoinSql))),
    "q_event_window"   -> ((qEventWindow _, Some(qEventWindowSql))),
    "q_event_funnel"   -> ((qEventFunnel _, Some(qEventFunnelSql))),
    "q_event_retention" -> ((qEventRetention _, Some(qEventRetentionSql))),
    "q_event_funnel_gap" -> ((qEventFunnelGap _, Some(qEventFunnelGapSql))),
    "q_event_twap"     -> ((qEventTwap _, Some(qEventTwapSql))),
    "q_event_wow"      -> ((qEventWow _, Some(qEventWowSql))),
    "q_corpus_report"  -> ((qCorpusReport _, Some(qCorpusReportSql))),
    "q_event_transitions" -> ((qEventTransitions _, Some(qEventTransitionsSql))),
    "q_event_sliding"  -> ((qEventSliding _, Some(qEventSlidingSql))),
    "q_sessionize"     -> ((qSessionize _, Some(qSessionizeSql))),
    "q_stream_dedup"   -> ((qStreamDedup _, Some(qStreamDedupSql))),
    "q_stream_funnel"  -> ((qStreamFunnel _, Some(qStreamFunnelSql))),
    "q_stream_dedup_inc" -> ((qStreamDedupInc _, Some(qStreamDedupIncSql))),
    "q_stream_attribution" -> ((qStreamAttribution _, Some(qStreamAttributionSql))),
    "q_stream_anomaly" -> ((qStreamAnomaly _, Some(qStreamAnomalySql))),
    "q_stream_heavy_hitters" -> ((qStreamHeavyHitters _, Some(qStreamHeavyHittersSql))),
  )
}
