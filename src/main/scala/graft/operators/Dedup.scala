package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators (SURVEY §2.5 #44-47): exact, MinHash+LSH,
  * SimHash, n-gram Jaccard verification.
  *
  * Scale contract: pair generation NEVER goes through a cross join. LSH
  * banding turns near-dup discovery into groupBy(band, bucket) — linear in
  * corpus size — and only in-bucket candidates are verified. Buckets are
  * capped (skew guard: a degenerate bucket of s docs would emit s² pairs).
  */
object Dedup {

  // ---- exact -------------------------------------------------------------

  /** Exact dedup on a key expression: one hash-shuffle, keeps min id.
    * Returns (key, keeper, n) groups. */
  def exactGroups(df: DataFrame, id: Column, key: Column): DataFrame =
    df.groupBy(md5(key.cast("binary")).as("fp"))
      .agg(min(id).as("keeper"), count(lit(1)).as("n"))

  /** Input minus exact duplicates (keeps the min-id row per key). */
  def exact(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val keep = df.groupBy(md5(key.cast("binary")).as("__fp"))
      .agg(min(col(idCol)).as(idCol))
      .drop("__fp")
    df.join(keep, Seq(idCol), "leftsemi")
  }

  // ---- incremental (batch-vs-corpus) exact dedup ---------------------------

  /** Persist a fingerprint index for incremental dedup: one (fp, keeper)
    * row per distinct key in `corpus`, written as a table BUCKETED on fp.
    * The 100 TB shape: a daily ingest must not rescan the corpus — the
    * index holds one 32-byte fingerprint per distinct document, and the
    * bucket layout means later batches join against it with NO exchange
    * on the index side (only the batch — orders of magnitude smaller —
    * shuffles to the buckets). */
  def buildFingerprintIndex(corpus: DataFrame, table: String, buckets: Int,
                            idCol: String, key: Column): Unit =
    Bucketing.writeBucketed(
      corpus.groupBy(md5(key.cast("binary")).as("fp"))
        .agg(min(col(idCol)).as("keeper")),
      table, buckets, keys = Seq("fp"))

  /** Dedup a new batch against a [[buildFingerprintIndex]] table: drops
    * batch rows whose key already exists in the index, then exact-dedups
    * within the batch (keep min id). Returns the surviving input rows.
    * The anti-join reads the index bucket-partitioned (exchange-free on
    * the corpus side); at 100 TB the raw corpus is never touched. */
  def dedupAgainstIndex(batch: DataFrame, table: String,
                        idCol: String, key: Column): DataFrame = {
    val idx = Bucketing.readBucketed(batch.sparkSession, table)
    val fresh = batch.withColumn("__fp", md5(key.cast("binary")))
      .join(idx, col("__fp") === idx("fp"), "left_anti")
    val keep = fresh.groupBy(col("__fp")).agg(min(col(idCol)).as(idCol)).drop("__fp")
    fresh.drop("__fp").join(keep, Seq(idCol), "leftsemi")
  }

  /** Fold a deduped batch's fingerprints into the index (append-mode
    * bucketed write — the spec must match [[buildFingerprintIndex]]'s),
    * so the next batch dedups against corpus + this batch. */
  def appendToIndex(newRows: DataFrame, table: String, buckets: Int,
                    idCol: String, key: Column): Unit =
    newRows.groupBy(md5(key.cast("binary")).as("fp"))
      .agg(min(col(idCol)).as("keeper"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .bucketBy(buckets, "fp").saveAsTable(table)

  // ---- incremental near-dup (minhash index) --------------------------------

  /** Persist a MinHash LSH index for incremental NEAR-dup dedup, the fuzzy
    * sibling of [[buildFingerprintIndex]]: two bucketed tables —
    * `<prefix>_bands` holds the corpus's capped LSH bucket membership
    * (band, bucket, id), bucketed on the probe key, and `<prefix>_sets`
    * the per-doc hashed shingle sets for exact verification, bucketed on
    * id. The cap applies at BUILD time (bounded min-k heap, same as
    * [[minhashCandidates]]), so a batch probing a degenerate bucket fans
    * out to at most maxBucket corpus candidates. At 100 TB the raw corpus
    * text is never rescanned: the index is one row per (doc × band) plus
    * one hashed set per doc. */
  def buildMinhashIndex(corpus: DataFrame, tablePrefix: String, buckets: Int,
                        idCol: String, textCol: String, shingleN: Int = 3,
                        k: Int = 64, bands: Int = 16,
                        maxBucket: Int = 64): Unit = {
    val idType = corpus.schema(idCol).dataType
    val base = corpus.select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("toks"))
    val exploded = base
      .select(col("id"), bandHashes(minhashSignature(col("toks"), shingleN, k), bands).as("bh"))
      .select(col("id"), posexplode(col("bh")).as(Seq("band", "bucket")))
    val capped = exploded.groupBy(col("band"), col("bucket"))
      .agg(graft.plans.Native.minKByKey(
        col("id").cast("long"), col("id").cast("long"), maxBucket).as("ks"))
      .select(col("band"), col("bucket"), explode(col("ks")).as("e"))
      .select(col("band"), col("bucket"), col("e.id").cast(idType).as("id"))
    Bucketing.writeBucketed(capped, s"${tablePrefix}_bands", buckets,
      keys = Seq("band", "bucket"))
    Bucketing.writeBucketed(
      base.select(col("id"),
        graft.plans.NativeSets.hashedSet(col("toks"), shingleN).as("sset")),
      s"${tablePrefix}_sets", buckets, keys = Seq("id"))
  }

  /** Verified near-dup pairs between a new batch and a
    * [[buildMinhashIndex]] corpus: the batch's band keys probe the bands
    * table (bucket-layout join — the index side never exchanges), shared
    * buckets become candidates, and the exact shingle-set Jaccard verifies
    * against the sets table. Output: (bid, cid, jaccard) — batch id,
    * corpus id, exact Jaccard ≥ threshold. The batch computes signatures
    * and sets once; corpus text is untouched. */
  def minhashPairsAgainstIndex(batch: DataFrame, tablePrefix: String,
                               threshold: Double, idCol: String, textCol: String,
                               shingleN: Int = 3, k: Int = 64,
                               bands: Int = 16): DataFrame = {
    val spark = batch.sparkSession
    val bandsT = Bucketing.readBucketed(spark, s"${tablePrefix}_bands")
    val setsT = Bucketing.readBucketed(spark, s"${tablePrefix}_sets")
      .select(col("id").as("cid"), col("sset").as("cset"))
    val base = batch.select(col(idCol).as("bid"), split(trim(col(textCol)), "\\s+").as("toks"))
    val probes = base
      .select(col("bid"), bandHashes(minhashSignature(col("toks"), shingleN, k), bands).as("bh"))
      .select(col("bid"), posexplode(col("bh")).as(Seq("band", "bucket")))
    val cands = probes.join(bandsT, Seq("band", "bucket"))
      .select(col("bid"), col("id").as("cid")).distinct()
    val bsets = base.select(col("bid"),
      graft.plans.NativeSets.hashedSet(col("toks"), shingleN).as("bset"))
    cands.join(bsets, "bid").join(setsT, "cid")
      .select(col("bid"), col("cid"),
        graft.plans.NativeSets.jaccardSorted(col("bset"), col("cset")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Batch-vs-corpus near-dup dedup: drops batch docs near-duplicate to
    * the indexed corpus, then resolves intra-batch near-dup groups to
    * their min-id representative ([[minhashPairs]] + [[representatives]]).
    * Returns the surviving input rows. */
  def dedupNearDupAgainstIndex(batch: DataFrame, tablePrefix: String,
                               threshold: Double, idCol: String, textCol: String,
                               shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                               maxBucket: Int = 64): DataFrame = {
    val crossDup = minhashPairsAgainstIndex(batch, tablePrefix, threshold,
        idCol, textCol, shingleN, k, bands)
      .select(col("bid")).distinct()
    val fresh = batch.join(crossDup, batch(idCol) === crossDup("bid"), "left_anti")
    val reps = representatives(
      minhashPairs(fresh, idCol, textCol, threshold, shingleN, k, bands, maxBucket))
    fresh.join(reps, fresh(idCol) === reps("id"), "left")
      .filter(col("id").isNull || col("rep") === fresh(idCol))
      .drop("id", "rep")
  }

  // ---- shingles + minhash ------------------------------------------------

  /** k-permutation MinHash signature — native expression (one tight loop:
    * S shingle hashes + S·k affine mixes per row). The equivalent HOF
    * (`transform`+`array_min`) formulation is interpreted per element and
    * measured ~0.7 s/row at 400 shingles × k=64 — 1000× too slow. */
  def minhashSignature(toks: Column, shingleN: Int = 3, k: Int = 64): Column =
    graft.plans.Native.minhashSig(toks, shingleN, k)

  /** Band hashes: k-length signature → `b` band keys (native expression). */
  def bandHashes(sig: Column, b: Int = 16): Column =
    graft.plans.Native.bandKeys(sig, b)

  /** Candidate pairs from LSH banding.
    * Input df must carry (idCol, textCol). Output: (a, b) with a < b.
    * maxBucket caps degenerate buckets (boilerplate/empty docs) — dropped
    * buckets trade recall for a hard bound on pair blowup; at 100 TB that
    * cap is what keeps the stage from exploding on skew. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int = 3, k: Int = 64, bands: Int = 16,
                        maxBucket: Int = 64): DataFrame = {
    val sig = df.select(col(idCol).as("id"), split(trim(col(textCol)), "\\s+").as("toks"))
      .select(col("id"), minhashSignature(col("toks"), shingleN, k).as("sig"))
      .select(col("id"), bandHashes(col("sig"), bands).as("bh"))
    val exploded = sig.select(col("id"), posexplode(col("bh")).as(Seq("band", "bucket")))
    // bucket members, capped; same (band,bucket) ⇒ candidate. The cap lives
    // INSIDE the aggregation buffer (bounded min-k heap, ≤ maxBucket
    // entries) — a collect-then-slice would buffer a degenerate bucket's
    // whole membership before truncating. Output matches the sorted-slice
    // formulation exactly: the maxBucket smallest ids, ascending.
    val idType = df.schema(idCol).dataType
    val buckets =
      if (Seq("byte", "short", "int", "bigint").contains(idType.simpleString))
        exploded.groupBy(col("band"), col("bucket"))
          .agg(graft.plans.Native.minKByKey(
            col("id").cast("long"), col("id").cast("long"), maxBucket).as("ks"))
          .select(transform(col("ks"), e => e.getField("id").cast(idType)).as("ids"))
          .filter(size(col("ids")) > 1)
      else // non-integral ids (config-driven callers): legacy capped collect
        exploded.groupBy(col("band"), col("bucket"))
          .agg(slice(sort_array(collect_list(col("id"))), 1, maxBucket).as("ids"))
          .filter(size(col("ids")) > 1)
    // in-bucket pairs via index-aware transform: s*(s-1)/2 per bucket
    buckets.select(explode(flatten(transform(col("ids"),
        (a, i) => transform(slice(col("ids"), i + 2, size(col("ids"))),
          b => struct(a.as("a"), b.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()
  }

  /** Exact n-gram Jaccard between two token-set columns. */
  def jaccard(ta: Column, tb: Column): Column =
    size(array_intersect(ta, tb)).cast("double") /
      size(array_union(ta, tb)).cast("double")

  /** EXACT set-similarity self-join: every pair with token-set Jaccard
    * ≥ tNum/tDen, by AllPairs/PPJoin prefix filtering (Chaudhuri 2006,
    * Bayardo et al. WWW'07) — the 100%-recall complement to the MinHash
    * path (which trades recall for candidate volume). The threshold is a
    * RATIONAL so the verify is integer-exact: keep iff
    * tDen·|x∩y| ≥ tNum·|x∪y| — no float ever decides a pair.
    *
    * Prefix principle: under one global token order (ascending document
    * frequency, rarest first, ties lexicographic), if J(x,y) ≥ t then the
    * smallest common token w of x∩y sits within the first
    * |x| − ⌈t·|x|⌉ + 1 tokens of x AND of y (tokens before w are disjoint,
    * so the tail from w must hold the whole ⌈t·|x|⌉-sized intersection).
    * So an ordinary shuffled equi-join on PREFIX tokens is complete, and
    * rarest-first ordering makes prefix buckets the smallest available.
    *
    * Shape: one vocabulary count, one token-rank join, one per-doc
    * re-collect (per-doc bounded state), prefix explode → capped bucket
    * pairs (bounded min-k buffer, the LSH discipline) → verify on the two
    * joined token sets. ⌈t·n⌉ is computed as (tNum·n + tDen − 1) div tDen
    * — all integer, so prefix lengths are reproducible anywhere. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
                  tNum: Int, tDen: Int, maxBucket: Int = 4096): DataFrame = CacheOps.holding { h =>
    require(tNum > 0 && tNum <= tDen, s"threshold must be in (0,1]: $tNum/$tDen")
    // strings never leave the scan: tokens become xxhash64 longs at the
    // explode (the MinHash-family precedent — hashed-set Jaccard equals
    // string-set Jaccard absent 2⁻⁶⁴ collisions), so the frequency join,
    // the per-doc re-collect, the prefix keys, and the verify intersects
    // all run on longs. The global order becomes (df, hash) — any
    // consistent total order satisfies the prefix principle.
    val sets = df.select(col(idCol).cast("long").as("id"),
      array_distinct(split(trim(lower(col(textCol))), "\\s+")).as("stoks"))
    // toks feeds the frequency agg AND the probe side of the rank join,
    // and `sorted` below is referenced three times (prefix keys + both
    // verify joins): left lazy, Catalyst does NOT reuse the common
    // subtrees (no ReusedExchange fires across the differently-aliased
    // branches), so the corpus scan+tokenize ran SIX times per execution.
    // Persist both, materialize in dependency order, release as soon as
    // the last consumer is materialized — 100 TB cost: one tokenize pass
    // + cached (spillable) reads, instead of six corpus scans.
    val toks = h.persist(sets.select(col("id"), explode(col("stoks")).as("stok"))
      .select(col("id"), xxhash64(col("stok")).as("tok")))
    // see cpuWidth below — the re-collect agg is equally CPU-dense
    val cpuWidth = math.max(
      df.sparkSession.sparkContext.defaultParallelism * 2,
      scala.util.Try(df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt).getOrElse(200))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("f"))
    // DETACHED: the toks release right below would otherwise recache
    // (invalidate) this entry the moment it materializes, and all THREE
    // consumers would re-run the tokenize+rank agg
    val sorted = h.detached(toks.join(freq, "tok")
      .repartition(cpuWidth, col("id"))
      .groupBy(col("id"))
      .agg(sort_array(collect_list(struct(col("f"), col("tok")))).as("st"))
      .select(col("id"), transform(col("st"), e => e.getField("tok")).as("toks"),
        size(col("st")).cast("long").as("n")))
    h.release(toks)
    // the set size rides the bucket in the payload's high bits (id < 2^40,
    // n < 2^23) so the LENGTH filter — J ≥ t forces tDen·min(n_a,n_b) ≥
    // tNum·max(n_a,n_b), sets >5% apart in size at t=19/20 can never pair
    // — prunes BEFORE the pair stream shuffles to distinct/verify. Pure
    // pruning: the predicate is implied by the verify, results unchanged.
    val prefix = sorted.select(col("id"),
      (shiftleft(col("n"), 40) + col("id")).as("packed"),
      explode(slice(col("toks"), lit(1),
        (col("n") - expr(s"($tNum * n + ${tDen - 1}) div $tDen") + 1).cast("int")))
        .as("tok"))
    // CPU-DENSE WIDTH PIN (cpuWidth above; used on the re-collect, the
    // bucket agg here, and the verify join below): these stages carry
    // few BYTES but heavy per-row CPU (million-group object aggs; array
    // intersects), so AQE's byte-proportional coalescing squeezes them
    // onto 1-10 tasks while the rest of the machine idles (profiled: an
    // 8-12 s single-task bucket agg and a 46 s-CPU verify on 10 tasks).
    // Pinned to a core-proportional width — at cluster scale the same
    // number is the configured shuffle width, so nothing is under-sized
    // there.
    val buckets = prefix.repartition(cpuWidth, col("tok")).groupBy(col("tok"))
      .agg(graft.plans.Native.minKByKey(col("id"), col("packed"), maxBucket).as("ks"))
      .select(transform(col("ks"), e => e.getField("p")).as("ids"))
      .filter(size(col("ids")) > 1)
    // TWO-LEVEL pair explode (r17): the one-shot flatten emitted a
    // bucket's whole s(s−1)/2 pair set inside its aggregation task — a
    // capped hot bucket (4096 members) is 8.4M pairs in ONE task, and
    // the stage profile showed that straggler as the gate's dominant
    // cost (18.9 s wall on a 0.6 s median). Level 1 emits one row per
    // bucket MEMBER carrying its pair tail (the later members that can
    // still pass the length filter — the same predicate the pair filter
    // applied, decided per element here so pruned pairs never shuffle);
    // a round-robin repartition then spreads the ≤ maxBucket-sized
    // tails across the pinned width, and level 2 explodes each tail in
    // place — per-task work is now O(maxBucket) per row, not
    // O(maxBucket²) per bucket. Output multiset is identical.
    val cands = buckets
      .select(posexplode(col("ids")).as(Seq("__i", "pa")), col("ids"))
      .select(col("pa"), filter(
          slice(col("ids"), col("__i") + lit(2), size(col("ids"))),
          pb => lit(tDen.toLong) * least(shiftright(col("pa"), 40),
              shiftright(pb, 40)) >=
            lit(tNum.toLong) * greatest(shiftright(col("pa"), 40),
              shiftright(pb, 40))).as("tail"))
      .filter(size(col("tail")) > 0)
      .repartition(cpuWidth)
      .select(col("pa"), explode(col("tail")).as("pb"))
      .withColumn("na", shiftright(col("pa"), 40))
      .withColumn("nb", shiftright(col("pb"), 40))
      .select((col("pa") - shiftleft(col("na"), 40)).as("id_a"),
        (col("pb") - shiftleft(col("nb"), 40)).as("id_b"))
      .distinct()
    // pairs-sized; materializing it lets the corpus-sized sorted cache go
    // (DETACHED so that very release cannot invalidate it).
    // The explicit widths on the two verify probes keep AQE from running
    // them at the DISTINCT's byte-proportional width: the pair stream is
    // 16 bytes/row but each probe fetches two token ARRAYS per pair and
    // the intersect walk is the CPU hot loop — profiled at 16 AQE-chosen
    // tasks (63.7 s task time) while the other half of the machine
    // idled. The repartitions sit where the joins need an exchange
    // anyway, so no new shuffle is added.
    h.detached(cands
      .repartition(cpuWidth, col("id_a"))
      .join(sorted.select(col("id").as("id_a"), col("toks").as("__ta")), "id_a")
      .repartition(cpuWidth, col("id_b"))
      .join(sorted.select(col("id").as("id_b"), col("toks").as("__tb")), "id_b")
      // the intersect/union walk is the CPU hot loop — spread it at the
      // pinned width (see cpuWidth above) before computing
      .repartition(cpuWidth, col("id_a"), col("id_b"))
      .withColumn("inter", size(array_intersect(col("__ta"), col("__tb"))).cast("long"))
      .withColumn("uni",
        (size(col("__ta")) + size(col("__tb"))).cast("long") - col("inter"))
      .filter(lit(tDen.toLong) * col("inter") >= lit(tNum.toLong) * col("uni"))
      .select(col("id_a"), col("id_b"), col("inter"), col("uni"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jd")))
  }

  /** Verified near-duplicate pairs: LSH candidates filtered by true
    * shingle-set Jaccard ≥ threshold. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.7, shingleN: Int = 3,
                   k: Int = 64, bands: Int = 16,
                   maxBucket: Int = 64): DataFrame = {
    // k/bands set the hash family's operating point: rows-per-band r=k/bands
    // drives chance collisions as j^r — at billions of docs raise r (e.g.
    // k=128, bands=16) so the candidate stream stays linear; recall at the
    // target threshold is 1-(1-j^r)^bands, so rebalance bands to match.
    val cands = minhashCandidates(df, idCol, textCol, shingleN, k, bands, maxBucket)
    // sorted hashed shingle sets (same hash family the signature sketches);
    // per-pair verify is then an O(|a|+|b|) long merge walk, no string work
    val sets = df
      .select(col(idCol).as("__sid"), split(trim(col(textCol)), "\\s+").as("__toks"))
      .select(col("__sid"),
        graft.plans.NativeSets.hashedSet(col("__toks"), shingleN).as("__sset"))
    cands
      .join(sets.withColumnRenamed("__sid", "a").withColumnRenamed("__sset", "sa"), "a")
      .join(sets.withColumnRenamed("__sid", "b").withColumnRenamed("__sset", "sb"), "b")
      .select(col("a"), col("b"),
        graft.plans.NativeSets.jaccardSorted(col("sa"), col("sb")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Representative assignment: min-id label propagation over the dup
    * graph to true connected components. Each sweep does one edge
    * propagation (labels flow one hop) PLUS one pointer-doubling pass
    * (rep ← label(rep)), so reach grows geometrically — a duplicate chain
    * of length 2^k resolves in ~k sweeps, not 2^k. Sweeps run until no
    * label changes (one driver-side count per sweep, O(log diameter) of
    * them), capped by maxIterations as a runaway guard. No driver
    * iteration over rows — labels stay distributed throughout. */
  def representatives(pairs: DataFrame, maxIterations: Int = 12): DataFrame = {
    // the edge list feeds every propagation sweep — persist it or each
    // lazy iteration re-runs the whole upstream pair-discovery pipeline;
    // partitioned AND sorted on `b` — the key both hops of every sweep
    // join on (SMJ under the loop conf): the edge side is then
    // exchange-free and sort-free for the whole loop
    LoopSession.onEdges(pairs.select(col("a"), col("b"))
        .union(pairs.select(col("b").as("a"), col("a").as("b")))
        .repartition(col("b")).sortWithinPartitions(col("b"))) { g =>
      // the loop runs in the right-sized cloned loop session (see
      // LoopSession for the measured rationale); truncated WITH layout
      // (ADVICE r16): the flat LogicalRDD keeps the cached
      // hashpartitioning(b)+sort metadata, so the sweeps' edge side stays
      // exchange-free and sort-free AND the upstream pair-discovery plan
      // (e.g. a whole kNN pipeline) is not re-embedded into every sweep's
      // logical plan
      val edges = org.apache.spark.sql.graftbridge.Bridge.rebind(
        org.apache.spark.sql.graftbridge.Bridge.truncatePlanKeepLayout(g.frame),
        g.loop)
      // hop: take the min label among neighbours AND self in ONE join + ONE
      // aggregation — the node's own label enters the contribution stream
      // as a self-loop row, so min(rep) covers self without a second join
      // back (every sequential stage a sweep schedules costs more than the
      // nodes-sized data it moves). prev rides the self-loop row (max
      // ignores the edge rows' nulls).
      def hop(l: DataFrame): DataFrame =
        edges.join(l, edges("b") === l("id"))
          .select(edges("a").as("id"), col("rep"), lit(null).cast("long").as("prev"))
          .unionByName(l.select(col("id"), col("rep"), col("prev")))
          .groupBy(col("id"))
          .agg(min(col("rep")).as("rep"), max(col("prev")).as("prev"))
      // the convergence count is a raw RDD fold over the persisted state's
      // execution RDD: one full-scan action both fills the cache and yields
      // the signal, with no second QueryExecution (analyze + optimize an
      // aggregate plan) per sweep — on a small graph that plan work, not
      // the data, dominated sweeps. It runs under the loop session's confs
      // (Bridge.onRdd). Row layout is (id, prev, rep).
      val unchanged: DataFrame => Boolean = state =>
        LoopSession.fold(state)(0L)((c, r) =>
          if (r.isNullAt(1) || r.getLong(1) != r.getLong(2)) c + 1L else c)(_ + _) == 0L
      LoopSession.sweep(g.caller,
        edges.groupBy(col("a").as("id"))
          .agg(least(min(col("b")), first(col("a"))).as("rep")),
        maxIterations - 1,
        finish = states => states.last.select(col("id"), col("rep"))) {
        (_, labels, _) =>
          // hop twice: label FLOODING is the convergence limiter on
          // chain-shaped components (a pointer jump only shortcuts
          // already-discovered label trees), so a second edge hop halves
          // the sweep count where a second jump measurably does not
          val hopped = hop(hop(labels.select(col("id"), col("rep"),
            col("rep").as("prev"))))
          // double: follow the label's own label (path-halving)
          val reps = hopped.select(col("id").as("rid"), col("rep").as("rrep"))
          LoopSession.Sweep(hopped.join(reps, hopped("rep") === reps("rid"), "left")
            .select(hopped("id"), hopped("prev"), least(hopped("rep"),
              coalesce(col("rrep"), hopped("rep"))).as("rep")), unchanged)
      }._1
    }
  }

  // ---- exact repeated-substring removal -----------------------------------

  /** Exact repeated-substring removal (Lee et al. 2022, arXiv:2107.06499 —
    * the RefinedWeb/SlimPajama pass): every n-token run that occurs more
    * than once in the corpus is removed from every document EXCEPT its
    * globally-first occurrence (min (id, pos)). Returns
    * (idCol, clean_text, n_removed).
    *
    * Shape at scale: gram explode is map-side linear; the occurrence
    * ranking is ONE two-phase groupBy on the gram key (count + min-struct
    * partial-aggregate map-side — no window over the gram stream); dup
    * positions collect per doc (bounded by doc length); the final mask is
    * a per-row HOF over (tokens × dup positions). Null text propagates.
    *
    * Shuffle width: the gram key travels as a 128-bit DOUBLE HASH (two
    * independently-seeded xxhash64 values), never as the n-token string —
    * at n=8 that cuts the groupBy/join key from ~50-80 bytes to 16, a
    * 3-5× shuffle-byte reduction on the dominant stages at corpus scale.
    * Exactness: two distinct grams must collide on BOTH hashes to merge
    * groups; by the birthday bound, even 10^13 distinct grams (a ~100 TB
    * corpus) give P(any collision) ≈ (10^13)²/2^129 < 2e-13 — far below
    * hardware-error rates, so the operator is exact for every physically
    * realizable input. (A spec pins output equality against the
    * string-keyed formulation plus the shuffle-byte reduction.) */
  def removeRepeatedRuns(docs: DataFrame, idCol: String, textCol: String,
                         n: Int = 8): DataFrame = {
    val toks = docs.select(col(idCol), split(trim(col(textCol)), "\\s+").as("toks"))
    val grams = toks.select(col(idCol), posexplode(
        when(size(col("toks")) >= n,
          transform(sequence(lit(0), size(col("toks")) - n),
            i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))
          .otherwise(array().cast("array<string>")))
        .as(Seq("pos", "gram")))
      .select(col(idCol), col("pos"),
        xxhash64(col("gram")).as("g1"),
        xxhash64(lit("graft-rrr"), col("gram")).as("g2"))
    // keeper = globally-first occurrence; every other occurrence of the
    // same gram is a dup (grams occurring once keep their only occurrence)
    val keepers = grams.groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("c"), min(struct(col(idCol).as("kid"), col("pos").as("kpos"))).as("keep"))
      .filter(col("c") > 1)
    val dups = grams.join(keepers, Seq("g1", "g2"))
      .filter(!(col(idCol) === col("keep.kid") && col("pos") === col("keep.kpos")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("dups"))
    toks.join(dups, Seq(idCol), "left")
      .select(col(idCol), col("toks"),
        coalesce(col("dups"), array().cast("array<int>")).as("dups"))
      .select(col(idCol),
        filter(col("toks"), (t, i) =>
          !exists(col("dups"), p => p <= i && i < p + n)).as("kept"),
        col("toks"))
      .select(col(idCol),
        when(col("toks").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ", col("kept"))).as("clean_text"),
        when(col("toks").isNull, lit(null).cast("bigint"))
          .otherwise((size(col("toks")) - size(col("kept"))).cast("bigint")).as("n_removed"))
  }

  /** Corpus-level boilerplate line removal (CCNet, Wenzek et al. 2020,
    * arXiv:1911.00359 — paragraph-hash dedup; RefinedWeb runs the same
    * pass line-wise): a newline-delimited line occurring in at least
    * `minDocs` DISTINCT documents is boilerplate (nav menus, cookie
    * banners, license headers) and is removed from EVERY document —
    * unlike [[removeRepeatedRuns]]' keep-first policy, because a line
    * that common is template chrome, not content. Returns
    * (idCol, clean_text, n_removed). Line order is preserved; null text
    * propagates; empty lines count like any other line.
    *
    * Shape at scale: line explode is map-side linear; the document
    * frequency is ONE two-phase groupBy; lines travel as the same
    * 128-bit double hash as [[removeRepeatedRuns]]' grams (the line
    * string is never a shuffle key), with the same ≪2^-64 collision
    * bound; removed positions collect per doc (bounded by line count). */
  def removeCommonLines(docs: DataFrame, idCol: String, textCol: String,
                        minDocs: Int = 2): DataFrame = {
    val toks = docs.select(col(idCol), split(col(textCol), "\n").as("lines"))
    val lines = toks.select(col(idCol), posexplode(col("lines")).as(Seq("pos", "line")))
      .select(col(idCol), col("pos"),
        xxhash64(col("line")).as("l1"),
        xxhash64(lit("graft-bp"), col("line")).as("l2"))
    val common = lines.groupBy(col("l1"), col("l2"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("l1"), col("l2"))
    val removed = lines.join(common, Seq("l1", "l2"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("rm"))
    toks.join(removed, Seq(idCol), "left")
      .select(col(idCol), col("lines"),
        coalesce(col("rm"), array().cast("array<int>")).as("rm"))
      .select(col(idCol), col("lines"),
        filter(col("lines"), (_, i) => !array_contains(col("rm"), i)).as("kept"))
      .select(col(idCol),
        when(col("lines").isNull, lit(null).cast("string"))
          .otherwise(concat_ws("\n", col("kept"))).as("clean_text"),
        when(col("lines").isNull, lit(null).cast("bigint"))
          .otherwise((size(col("lines")) - size(col("kept"))).cast("bigint")).as("n_removed"))
  }

  /** Paragraph-level keep-first dedup (the Dolma pass — Soldaini et al.
    * 2024 dedups at paragraph granularity; CCNet's paragraph-hash pass is
    * the same shape): a newline-delimited paragraph survives ONLY at its
    * globally first occurrence (smallest (doc, position) in struct
    * order); every later copy — in other docs or later in the same doc —
    * is removed. Complements [[removeCommonLines]]: that strips template
    * chrome from every doc once it clears `minDocs`; this keeps one copy
    * of ANY repeated paragraph, the right policy for content passages
    * syndicated across a crawl. Returns (idCol, clean_text, n_removed);
    * paragraph order is preserved; null text propagates.
    *
    * Shape at scale: paragraph explode is map-side linear; the keeper is
    * ONE two-phase groupBy on the hashed paragraph key (min-struct +
    * count, partial map-side, no window over the paragraph stream — the
    * [[removeRepeatedRuns]] discipline); singleton paragraphs (the vast
    * majority of a real corpus) are pruned BEFORE the drop join, so the
    * join touches only the duplicated sliver; paragraphs travel as the
    * 128-bit double hash, never the string (≪2^-64 collision bound). */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs.select(col(idCol), split(col(textCol), "\n").as("lines"))
    val lines = toks.select(col(idCol), posexplode(col("lines")).as(Seq("pos", "line")))
      .select(col(idCol), col("pos"),
        xxhash64(col("line")).as("l1"),
        xxhash64(lit("graft-par"), col("line")).as("l2"))
    val firsts = lines.groupBy(col("l1"), col("l2"))
      .agg(min(struct(col(idCol).as("d"), col("pos").as("p"))).as("first"),
        count(lit(1)).as("n"))
      .filter(col("n") > 1)
      .select(col("l1"), col("l2"), col("first"))
    val removed = lines.join(firsts, Seq("l1", "l2"))
      .filter(!(col(idCol) === col("first.d") && col("pos") === col("first.p")))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("pos"))).as("rm"))
    toks.join(removed, Seq(idCol), "left")
      .select(col(idCol), col("lines"),
        coalesce(col("rm"), array().cast("array<int>")).as("rm"))
      .select(col(idCol), col("lines"),
        filter(col("lines"), (_, i) => !array_contains(col("rm"), i)).as("kept"))
      .select(col(idCol),
        when(col("lines").isNull, lit(null).cast("string"))
          .otherwise(concat_ws("\n", col("kept"))).as("clean_text"),
        when(col("lines").isNull, lit(null).cast("bigint"))
          .otherwise((size(col("lines")) - size(col("kept"))).cast("bigint")).as("n_removed"))
  }

  // ---- winnowing fingerprints ---------------------------------------------

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken 2003,
    * SIGMOD — the MOSS local fingerprinting algorithm; complements the
    * whole-document rolling hash of q_fingerprint with POSITION-robust
    * sketches). Word `k`-grams are hashed; in every window of `w`
    * consecutive gram hashes the minimum is selected (rightmost on ties —
    * the paper's robust winnowing rule). The selected set has expected
    * density 2/(w+1) and the winnowing guarantee: any token run of length
    * ≥ w+k-1 shared by two documents contributes at least one SHARED
    * fingerprint — unlike MinHash, a local match cannot be sketched away.
    * Documents with < k tokens have no grams and no fingerprints; k ≤
    * grams < w collapse to one whole-document window.
    *
    * Shape at scale: winnowing is a PER-DOCUMENT algorithm, so the whole
    * selection runs in the map stage — one native WinnowSelect pass per
    * row (monotonic deque, O(grams)) and an explode of the selected set.
    * Zero shuffle until cross-document matching. The gram hash is the
    * portable 60-bit md5 form (15 hex chars — the q_dedup_simhash_exact
    * convention), so a SQL oracle replicates the selection bit-exactly.
    * Returns distinct (idCol, h, pos) fingerprints. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 4): DataFrame =
    docs.select(col(idCol), split(trim(col(textCol)), "\\s+").as("toks"))
      .select(col(idCol),
        explode(graft.plans.Native.winnowSelect(col("toks"), k, w)).as("fp"))
      .select(col(idCol), col("fp.h").as("h"), col("fp.pos").as("pos"))

  /** The same selection as a groupBy-over-exploded-windows plan — kept as
    * the independent formulation the equality spec checks the native
    * deque against (never the production path: it shuffles one row per
    * token into the per-window min). */
  private[graft] def winnowFingerprintsViaGroupBy(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 4): DataFrame = {
    val toks = docs.select(col(idCol), split(trim(col(textCol)), "\\s+").as("toks"))
    val grams = toks.select(col(idCol),
        (size(col("toks")) - k + 1).as("gcnt"),
        posexplode(when(size(col("toks")) >= k,
          transform(sequence(lit(0), size(col("toks")) - k),
            i => conv(substring(md5(
                concat_ws(" ", slice(col("toks"), i + 1, lit(k)))), 1, 15), 16, 10)
              .cast("long")))
          .otherwise(array().cast("array<long>")))
          .as(Seq("pos", "h")))
    // gram at pos p is a member of windows [p-w+1, p] ∩ [0, gcnt-w]
    val wins = grams.select(col(idCol), col("h"), col("pos"),
      explode(sequence(greatest(col("pos") - (w - 1), lit(0)),
        least(col("pos"), greatest(col("gcnt") - w, lit(0))))).as("s"))
    wins.groupBy(col(idCol), col("s"))
      .agg(min(struct(col("h"), (-col("pos")).as("np"))).as("m"))
      .select(col(idCol), col("m.h").as("h"), (-col("m.np")).as("pos"))
      .distinct()
  }

  /** Candidate near-dup/containment pairs from shared winnowing
    * fingerprints: documents sharing ≥ `minShared` selected hashes, with
    * the exact shared-fingerprint count (the MOSS match score's
    * numerator). Fingerprint buckets are capped at `maxBucket` members
    * INSIDE the aggregation buffer (bounded min-k heap — the LSH bucket
    * discipline, ≤ maxBucket 16-byte entries no matter how hot a
    * boilerplate fingerprint runs); pair fan-out is therefore ≤
    * maxBucket²/2 per distinct hash. Output: (a, b, shared), a < b. */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 4, maxBucket: Int = 64,
                  minShared: Int = 2): DataFrame = {
    val dh = winnowFingerprints(docs, idCol, textCol, k, w)
      .select(col(idCol).cast("long").as("id"), col("h")).distinct()
    val buckets = dh.groupBy(col("h"))
      .agg(graft.plans.Native.minKByKey(col("id"), col("id"), maxBucket).as("ks"))
      .select(transform(col("ks"), e => e.getField("id")).as("ids"))
      .filter(size(col("ids")) > 1)
    buckets.select(explode(flatten(transform(col("ids"),
        (a, i) => transform(slice(col("ids"), i + 2, size(col("ids"))),
          b => struct(a.as("a"), b.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Asymmetric containment report over winnowing candidates: for every
    * pair sharing ≥ `minShared` fingerprints, the exact distinct-token
    * overlap (inter, n_a, n_b) — containment(a in b) = inter/n_a, the
    * signal Jaccard structurally misses when a small document lives
    * inside a much larger one (|A∩B|/|A∪B| stays low however completely
    * A is swallowed; Broder 1997 separates resemblance from containment
    * for exactly this reason). Quote/boilerplate-inclusion detection in
    * curation pipelines. Integer outputs only — division is the
    * caller's policy choice. Token sets travel as portable 60-bit md5
    * hashes (SQL-replicable, and the pair join carries fixed-width
    * longs, not token strings). Candidate generation is [[winnowPairs]]
    * (local matches are guaranteed surfaced); the set join touches only
    * the candidate sliver. */
  /** Distinct portable-md5 token hashes of a text column (the
    * containment-verification set — SQL-replicable). */
  private def tokenHashSet(text: Column): Column =
    array_distinct(transform(split(trim(text), "\\s+"),
      t => conv(substring(md5(t), 1, 15), 16, 10).cast("long")))

  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       k: Int = 4, w: Int = 4, maxBucket: Int = 64,
                       minShared: Int = 1): DataFrame = {
    val cands = winnowPairs(docs, idCol, textCol, k, w, maxBucket, minShared)
      .select(col("a"), col("b"))
    val sets = docs.select(col(idCol).cast("long").as("__sid"),
      tokenHashSet(col(textCol)).as("__set"))
    cands
      .join(sets.select(col("__sid").as("a"), col("__set").as("__sa")), "a")
      .join(sets.select(col("__sid").as("b"), col("__set").as("__sb")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("__sa"), col("__sb"))).cast("bigint").as("inter"),
        size(col("__sa")).cast("bigint").as("n_a"),
        size(col("__sb")).cast("bigint").as("n_b"))
  }

  /** Persisted winnowing index — the incremental sibling of
    * [[buildMinhashIndex]] for the LOCAL-match family: `_fps` holds the
    * corpus's selected (h, id) fingerprints BUCKETED on h (capped at
    * `maxBucket` ids per fingerprint inside the aggregation buffer), and
    * `_sets` the md5 token sets bucketed on id for exact containment
    * verification. Build cost is the one corpus pass winnowing needs
    * (map-only selection + the two bucketed writes); after that a daily
    * batch probes for swallowed/boilerplate-sharing documents WITHOUT
    * rescanning corpus text, and both index joins are exchange-free by
    * bucket layout. */
  def buildWinnowIndex(corpus: DataFrame, tablePrefix: String, buckets: Int,
                       idCol: String, textCol: String,
                       k: Int = 4, w: Int = 4, maxBucket: Int = 64): Unit = {
    val fp = winnowFingerprints(corpus, idCol, textCol, k, w)
      .select(col(idCol).cast("long").as("id"), col("h")).distinct()
    val capped = fp.groupBy(col("h"))
      .agg(graft.plans.Native.minKByKey(col("id"), col("id"), maxBucket).as("ks"))
      .select(col("h"), explode(col("ks")).as("e"))
      .select(col("h"), col("e.id").as("id"))
    Bucketing.writeBucketed(capped, s"${tablePrefix}_fps", buckets, keys = Seq("h"))
    Bucketing.writeBucketed(
      corpus.select(col(idCol).cast("long").as("id"),
        tokenHashSet(col(textCol)).as("hset")),
      s"${tablePrefix}_sets", buckets, keys = Seq("id"))
  }

  /** Containment matches between a new batch and a [[buildWinnowIndex]]
    * corpus: the batch's fingerprints probe `_fps` (index side never
    * exchanges), pairs sharing ≥ `minShared` fingerprints verify their
    * exact token overlap against `_sets`. Output (bid, cid, inter, n_b,
    * n_c) — integer-exact, division is the caller's policy. The batch
    * tokenizes once; corpus text is untouched. */
  def containmentAgainstIndex(batch: DataFrame, tablePrefix: String,
                              idCol: String, textCol: String,
                              k: Int = 4, w: Int = 4,
                              minShared: Int = 1): DataFrame = {
    val spark = batch.sparkSession
    val fpsT = Bucketing.readBucketed(spark, s"${tablePrefix}_fps")
    val setsT = Bucketing.readBucketed(spark, s"${tablePrefix}_sets")
      .select(col("id").as("cid"), col("hset").as("cset"))
    val bfp = winnowFingerprints(batch, idCol, textCol, k, w)
      .select(col(idCol).cast("long").as("bid"), col("h")).distinct()
    val cands = bfp.join(fpsT, "h")
      .groupBy(col("bid"), col("id")).agg(count(lit(1)).as("__shared"))
      .filter(col("__shared") >= minShared)
      .select(col("bid"), col("id").as("cid"))
    val bsets = batch.select(col(idCol).cast("long").as("bid"),
      tokenHashSet(col(textCol)).as("bset"))
    cands.join(bsets, "bid").join(setsT, "cid")
      .select(col("bid"), col("cid"),
        size(array_intersect(col("bset"), col("cset"))).cast("bigint").as("inter"),
        size(col("bset")).cast("bigint").as("n_b"),
        size(col("cset")).cast("bigint").as("n_c"))
  }

  // ---- simhash -----------------------------------------------------------

  /** 64-bit SimHash as a 0/1 bit array: per-token xxhash64, sign-vote per
    * bit. Pure HOF expressions (aggregate + zip_with). */
  /** 64-bit SimHash of a text column — native expression (distinct-token
    * sign votes in one loop per row). */
  def simhash(text: Column): Column =
    graft.plans.Native.simhash64(split(trim(text), "\\s+"))

  /** Hamming distance between two simhash longs (native popcount). */
  def hamming(a: Column, b: Column): Column = graft.plans.Native.hamming(a, b)

  /** SimHash near-dup pairs: block on 16-bit sub-bands (any doc pair within
    * hamming ≤ 3 of a 64-bit simhash shares at least one of 4 bands), then
    * verify true hamming ≤ maxHamming. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, maxBucket: Int = 64): DataFrame =
    simhashPairsFromSig(
      df.select(col(idCol).as("id"), simhash(col(textCol)).as("sim")),
      maxHamming, maxBucket, bandBits = 16)

  /** Banded blocking + hamming verify over a PRECOMPUTED signature column
    * (`(id, sim)` frame). 4 bands of `bandBits` each; by pigeonhole any
    * pair within hamming ≤ 3 shares an intact band, so for maxHamming ≤ 3
    * the blocking is COMPLETE (modulo the maxBucket skew cap) — the
    * property the oracle-checked portable-signature gate leans on. */
  def simhashPairsFromSig(withSim: DataFrame, maxHamming: Int,
                          maxBucket: Int = 64, bandBits: Int = 16): DataFrame = {
    val mask = (1L << bandBits) - 1
    val banded = withSim.select(col("id"), col("sim"),
      posexplode(array((0 until 4).map(b =>
        shiftrightunsigned(col("sim"), b * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bucket")))
    // cap inside the aggregation buffer (bounded min-k heap keyed on id,
    // the 64-bit signature riding as payload — ≤ maxBucket 16-byte entries
    // even on a degenerate bucket); identical output to the sorted-slice
    // collect since ids are unique per frame
    val idType = withSim.schema("id").dataType
    val buckets =
      if (Seq("byte", "short", "int", "bigint").contains(idType.simpleString))
        banded.groupBy(col("band"), col("bucket"))
          .agg(graft.plans.Native.minKByKey(
            col("id").cast("long"), col("sim"), maxBucket).as("ks"))
          .select(transform(col("ks"), e => struct(
            e.getField("id").cast(idType).as("id"), e.getField("p").as("sim"))).as("ms"))
          .filter(size(col("ms")) > 1)
      else // non-integral ids (config-driven callers): legacy capped collect
        banded.groupBy(col("band"), col("bucket"))
          .agg(slice(sort_array(collect_list(struct(col("id"), col("sim")))), 1, maxBucket).as("ms"))
          .filter(size(col("ms")) > 1)
    buckets.select(explode(flatten(transform(col("ms"),
        (a, i) => transform(slice(col("ms"), i + 2, size(col("ms"))),
          b => struct(a.getField("id").as("a"), b.getField("id").as("b"),
            hamming(a.getField("sim"), b.getField("sim")).as("dist")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"), col("p.dist").as("dist"))
      .filter(col("dist") <= maxHamming)
      .distinct()
  }
}
