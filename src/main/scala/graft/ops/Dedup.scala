package graft.ops

import graft.functions.Udf
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Deduplication operators for training-data pipelines — exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard.
 *
 * == Scale design (100 TB) ==
 *
 *  - '''Exact''': one hash-shuffle on a 60-bit content fingerprint (NOT the
 *    raw text — the shuffle moves 8 bytes/doc plus the kept key). At 1000
 *    executors this is a standard aggregate; AQE coalesces the post-shuffle
 *    partitions.
 *  - '''MinHash+LSH''': the O(n²) pair space is never materialized. Each doc
 *    emits `bands` rows (band-id, band-hash) — a fixed small blowup — and
 *    candidate pairs appear only within identical (band-id, band-hash)
 *    buckets, via a self-equi-join ON the bucket key. That join shuffles on
 *    the bucket hash, so co-candidates co-locate; true-Jaccard verification
 *    runs inside each bucket only. Skewed buckets (boilerplate docs) are
 *    handled by AQE skew-join splitting.
 *  - '''SimHash''': per-doc 60-bit signature; near-dup = small Hamming
 *    distance. We block on k rotations/prefixes so comparisons stay local.
 *  - All signatures are computed per-row (no shuffle) from md5, which the
 *    DuckDB oracle reproduces bit-for-bit.
 */
object Dedup {

  /** Register scalar signature functions (per-row tier). */
  def registerAll(): Unit = {
    // MinHash signature over word-3-gram shingles: ONE md5 per shingle, then
    // k universal-hash transforms h_i(x) = (a_i·x + b_i) mod P — k× cheaper
    // than k independent hashes and still pairwise-independent enough for
    // banding. P is a 30-bit prime so a_i·x stays inside Int64 (and inside
    // DuckDB's BIGINT for the oracle replica). Returns bigint[k].
    Udf.scalar2[String, Int, Seq[Long]]("minhash_sig(string, int) -> bigint[]") { (s, k) =>
      // duplicates don't affect a min, so shingles stream straight into the
      // hash (no Set materialization, no per-call regex compile). Shingle
      // bytes are packed straight into one reusable buffer and digested in
      // place (r15): the previous StringBuilder → String → getBytes chain
      // cost two allocations plus a UTF-8 re-encode per shingle, on the
      // hottest per-row path of the dedup tier. Bytes are identical (UTF-8
      // of "w1 w2 w3"), so every signature — and the oracle replica — is
      // bit-for-bit unchanged.
      val ws = Tokens.split(s)
      val bases: Array[Long] =
        if (ws.length < 3) Array(Hashing.md5_60(ws.mkString(" ")) % MinhashP)
        else {
          val wb = new Array[Array[Byte]](ws.length)
          var i = 0
          while (i < ws.length) { wb(i) = ws(i).getBytes("UTF-8"); i += 1 }
          var maxShingle = 0
          i = 0
          while (i < ws.length - 2) {
            val len = wb(i).length + wb(i + 1).length + wb(i + 2).length + 2
            if (len > maxShingle) maxShingle = len
            i += 1
          }
          val buf = new Array[Byte](maxShingle)
          val out = new Array[Long](ws.length - 2)
          i = 0
          while (i < ws.length - 2) {
            var p = 0
            val b0 = wb(i); val b1 = wb(i + 1); val b2 = wb(i + 2)
            System.arraycopy(b0, 0, buf, p, b0.length); p += b0.length
            buf(p) = ' '; p += 1
            System.arraycopy(b1, 0, buf, p, b1.length); p += b1.length
            buf(p) = ' '; p += 1
            System.arraycopy(b2, 0, buf, p, b2.length); p += b2.length
            out(i) = Hashing.md5_60b(buf, 0, p) % MinhashP
            i += 1
          }
          out
        }
      val sig = new Array[Long](k)
      var seed = 0
      while (seed < k) {
        val a = minhashA(seed); val b = minhashB(seed)
        var mn = Long.MaxValue
        var i = 0
        while (i < bases.length) {
          val h = (a * bases(i) + b) % MinhashP
          if (h < mn) mn = h
          i += 1
        }
        sig(seed) = if (mn == Long.MaxValue) 0L else mn
        seed += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(sig)
    }

    // SimHash: 60-bit signature over whitespace tokens (md5-hashed).
    Udf.scalar1[String, Long]("simhash(string) -> bigint") { s =>
      val counts = new java.util.HashMap[String, Integer]()
      s.split("\\s+").foreach { t =>
        if (t.nonEmpty) counts.merge(t, 1, (a, b) => a + b)
      }
      val acc = new Array[Int](60)
      counts.forEach { (tok, w) =>
        val h = Hashing.md5_60Cached(tok)
        var i = 0
        while (i < 60) {
          if (((h >> i) & 1L) == 1L) acc(i) += w else acc(i) -= w
          i += 1
        }
      }
      var sig = 0L
      var i = 0
      while (i < 60) { if (acc(i) > 0) sig |= (1L << i); i += 1 }
      sig
    }

    // Hamming distance between two signatures.
    Udf.scalar2[Long, Long, Int]("hamming64(bigint, bigint) -> int") { (a, b) =>
      java.lang.Long.bitCount(a ^ b)
    }

    // Jaccard similarity of two docs' word-n-gram sets.
    val jaccardImpl: (String, String, Int) => Double = { (a, b, n) =>
      // r16 fast path (guide §1.2): identical inputs have identical shingle
      // sets and the general formula below yields 1.0 for them in EVERY
      // case (both-empty included) — and exact-duplicate pairs are the BULK
      // of LSH candidates on dedup-shaped corpora, so most verifications
      // skip both shingle builds for one O(len) compare.
      if (a == b) 1.0
      else {
        val sa = shingleSet(a, n)
        val sb = shingleSet(b, n)
        if (sa.isEmpty && sb.isEmpty) 1.0
        else {
          val inter = sa.count(sb.contains)
          inter.toDouble / (sa.size + sb.size - inter).toDouble
        }
      }
    }
    Udf.scalar3[String, String, Int, Double](
      "ngram_jaccard(string, string, int) -> double")(jaccardImpl)
    // The SAME function registered non-deterministic (r15, guide §4.4): the
    // LSH verification filter `jaccard >= t` otherwise gets pushed into the
    // candidate join as its condition while the projection above re-emits
    // the column — every surviving pair paid the two shingle-set builds
    // TWICE. Marking the verification call-site non-deterministic pins one
    // evaluation per candidate (values are identical — it IS deterministic;
    // the flag only stops the optimizer duplicating it).
    Udf.scalar3[String, String, Int, Double](
      "ngram_jaccard_nd(string, string, int) -> double",
      deterministic = false)(jaccardImpl)
  }

  /** Shared whitespace tokenizer with a precompiled pattern. */
  object Tokens {
    private val ws = java.util.regex.Pattern.compile("\\s+")
    def split(s: String): Array[String] = ws.split(s).filter(_.nonEmpty)
  }

  /** 30-bit prime modulus for the minhash universal-hash family. */
  val MinhashP = 1073741789L
  /** Deterministic per-seed coefficients, md5-derived (oracle-replicable).
    * Memoized (r15): these were recomputed per (row × seed) inside the
    * signature loop — k extra md5 digests per document for constants. */
  private val minhashACache = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val minhashBCache = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  def minhashA(seed: Int): Long = minhashACache.computeIfAbsent(seed,
    s => Hashing.md5_60(s + "a") % MinhashP).longValue()
  def minhashB(seed: Int): Long = minhashBCache.computeIfAbsent(seed,
    s => Hashing.md5_60(s + "b") % MinhashP).longValue()

  def shingleSet(s: String, n: Int): Set[String] = {
    // precompiled-pattern tokenizer (r16): the literal "\\s+" split
    // recompiled the regex on every call — this runs twice per verified
    // candidate pair
    val ws = Tokens.split(s)
    if (ws.length < n) Set(ws.mkString(" "))
    else ws.sliding(n).map(_.mkString(" ")).toSet
  }

  // ---- DataFrame-level operators ------------------------------------------

  /** Exact dedup: keep the lowest-id row per identical content fingerprint.
    * Shuffles only (fingerprint, id) pairs, then semi-joins the winners back —
    * at scale prefer this over `Window.partitionBy(fp)` which would shuffle
    * whole rows. */
  /** Shared guard for operators that cast ids to long: a non-integral id
    * column would cast to null and silently corrupt the result. */
  private[ops] def requireIntegralIds(df: DataFrame, cols: Seq[String], op: String): Unit =
    cols.foreach { c =>
      val dt = df.schema(c).dataType
      require(Seq("byte", "short", "integer", "long").contains(dt.typeName),
        s"$op: id column '$c' must be integral, got $dt")
    }

  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val withFp = df.withColumn("fp", expr(s"doc_fingerprint($textCol)"))
    val keep = withFp.groupBy("fp").agg(min(col(idCol)).as(idCol)).drop("fp")
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash-LSH candidate pairs: signature → bands → bucket join.
    * `k` hashes split into `bands` bands of `k/bands` rows each; docs sharing
    * any band bucket become a candidate pair, then true Jaccard filters. */
  def minhashPairs(df: DataFrame, textCol: String, idCol: String,
                   k: Int = 16, bands: Int = 4, threshold: Double = 0.5): DataFrame = {
    val (docs, cand, _) = minhashCandidates(df, textCol, idCol, k, bands)
    verifyPairs(cand, docs, threshold)
  }

  /** Candidate generation half of the LSH pipeline: the (id, text)
    * projection, the DISTINCT candidate id-pair relation, and the persisted
    * banded-signature intermediate (returned so callers that materialize
    * results can unpersist it — a lazy public result keeps the cache
    * alive). */
  private def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                                k: Int, bands: Int): (DataFrame, DataFrame, DataFrame) = {
    val rows = k / bands
    val docs = df.select(col(idCol).as("id"), col(textCol).as("text"))
    // band-hash: fingerprint of the band's slice of the signature. Text is
    // dropped BEFORE the exchange — the band self-join and the distinct
    // shuffle only (band, bh, id) triples (~24 bytes/row), never document
    // bodies. persist: the banded rows feed both sides of the self-join (at
    // 100 TB, write the signature table out once and join from that instead).
    val banded = docs
      .withColumn("sig", expr(s"minhash_sig(text, $k)"))
      .select(col("id"), posexplode(expr(bandHashExpr("sig", bands, rows)))
        .as(Seq("band", "bh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = banded.select(col("band"), col("bh"), col("id").as("id_a"))
    val r = banded.select(col("band"), col("bh"), col("id").as("id_b"))
    val cand = l.join(r, Seq("band", "bh"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    (docs, cand, banded)
  }

  /** True-Jaccard verification of candidate pairs: texts rejoin exactly
    * once, only for candidate ids (a tiny fraction of the corpus); the _nd
    * variant stops the threshold filter being pushed into the join and the
    * jaccard being computed twice per pair (registerAll has the rationale).
    *
    * `shuffleHash=true` (the large-scale Bloom branch of nearDedupCorpus
    * only) pins both text attachments to shuffled-HASH joins: sort-merge
    * would SORT the candidate side twice, and after the first attachment
    * that side is text-wide (29M × ~270 B at the 10M funnel — a spilling
    * sort). Hash-building the slim doc side streams the wide side unsorted.
    * Small-scale callers keep the default planner choice (broadcast). */
  private def verifyPairs(cand: DataFrame, docs: DataFrame, threshold: Double,
                          shuffleHash: Boolean = false): DataFrame = {
    def side(idAlias: String, textAlias: String) = {
      val s = docs.select(col("id").as(idAlias), col("text").as(textAlias))
      if (shuffleHash) s.hint("SHUFFLE_HASH") else s
    }
    cand
      .join(side("id_a", "text_a"), Seq("id_a"))
      .join(side("id_b", "text_b"), Seq("id_b"))
      .withColumn("jaccard", expr("ngram_jaccard_nd(text_a, text_b, 3)"))
      .where(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /**
   * Full fuzzy-dedup pipeline: minhash-LSH candidate pairs → connected
   * components (min-label propagation + pointer jumping) → keep the lowest-id
   * document per component. The canonical corpus-dedup shape at 100 TB: pair
   * generation never materializes O(n²); each iteration combines one
   * propagation step (labels flow across edges) with one pointer-jump step
   * (`comp := label(comp)`, halving chain lengths), so convergence is
   * O(log diameter) — a 1M-doc boilerplate chain needs ~20 iterations, not 1M.
   * Lineage is truncated with `localCheckpoint` every few iterations and the
   * previous iteration's cache is dropped, so plan depth and block usage stay
   * bounded. Throws if the component structure has not converged after
   * `maxIter` iterations (silent under-deduplication is worse than failing).
   */
  def nearDedupCorpus(df: DataFrame, textCol: String, idCol: String,
                      k: Int = 16, bands: Int = 4, threshold: Double = 0.5,
                      maxIter: Int = 50): DataFrame = {
    // Materialize the candidate subgraph ONCE. localCheckpoint (not persist):
    // it truncates the whole signature/band/Jaccard subtree out of every
    // iteration's logical plan — otherwise each iteration's Catalyst
    // analysis/optimization pass re-walks the full LSH pipeline and planning
    // time dwarfs the (tiny) joins. Candidates are a small fraction of the
    // corpus; on a multi-node cluster prefer a reliable checkpoint dir.
    // Labels propagate as longs; a non-integral id column would cast to null
    // in the final anti-join and silently return the corpus un-deduplicated.
    requireIntegralIds(df, Seq(idCol), "nearDedupCorpus")
    val (docs, rawCand, banded) = minhashCandidates(df, textCol, idCol, k, bands)
    // r16 (guide §3.2 — measured at the 10M funnel): verifying straight off
    // the lazy plan exchanged AND sort-merge-sorted the FULL (id, text)
    // corpus for the text attachments (AQE rescued only the first join with
    // a broadcast; the second stayed SMJ over the whole corpus — 580 s of
    // the 729 s 10M funnel, superlinear from sort spill). This operator is
    // already eager (it checkpoints pairs), so: materialize the SMALL
    // candidate id-pair relation first, build a Bloom filter over the
    // candidate ids (~1.2 MB per million ids at 1% fpp — broadcastable at
    // any corpus scale, unlike an exact id set), and give the verification
    // a corpus pre-filtered MAP-SIDE. No corpus-sized exchange or sort
    // remains; false positives only let a few extra text rows through to
    // the exact id equi-joins, so the result is bit-identical.
    val cand = rawCand.localCheckpoint()
    // the checkpoint above materialized the candidates — the banded-
    // signature cache is dead weight from here on
    banded.unpersist(false)
    val nCand = cand.count()
    // Below the floor the corpus text relations broadcast into the verify
    // joins anyway (AQE sees a tiny candidate side), so the Bloom build +
    // broadcast jobs cost more than they save — measured +0.6 s on the sf0.1
    // q_near_dedup (nCand=255 there vs 50k+ at the 1M funnel, the smallest
    // scale where the corpus text stops broadcasting). Conf-overridable so
    // cluster deployments can retune the crossover without a rebuild.
    val bloomFloor = df.sparkSession.conf
      .get("spark.graft.nearDedup.bloomFloor", "16384").toLong
    val pairs = if (nCand < bloomFloor) {
      verifyPairs(cand, docs, threshold)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
    } else {
      val spark = df.sparkSession
      val ids = cand.select(col("id_a").as("id"))
        .union(cand.select(col("id_b").as("id")))
      // size the filter on the (approximate) DISTINCT id count, not
      // 2×nCand: candidate ids repeat heavily (29M pairs over ≤10M docs
      // at the 10M funnel), and a 2×nCand-sized bloom is a ~70 MB
      // broadcast where ~10 MB suffices. An underestimate only raises
      // the fpp (more rows pass to the exact equi-joins) — never
      // correctness. The ×1.3 covers approx_count_distinct's 5% rsd.
      val nIds = ids.agg(approx_count_distinct(col("id")))
        .head.getLong(0)
      val bf = ids.stat.bloomFilter("id",
        math.max((nIds * 1.3).toLong, 1000L), 0.01)
      val bfB = spark.sparkContext.broadcast(bf)
      val mightMatch = udf { (id: Long) => bfB.value.mightContainLong(id) }
      // materialize the bloom-filtered candidate texts ONCE: without the
      // checkpoint each verify-join hash build rescans the FULL corpus
      // (scan + bloom UDF over every doc, twice); with it one corpus pass
      // feeds both builds from local blocks. Also gives the EXACT byte
      // size for the broadcast decision below.
      val texts = docs.where(mightMatch(col("id"))).localCheckpoint()
      val ts = texts.agg(count(lit(1)), sum(length(col("text")))).head
      val (nTxt, txtBytes) =
        (ts.getLong(0), if (ts.isNullAt(1)) 0L else ts.getLong(1))
      // Broadcast the candidate texts when (a) they fit a byte budget
      // (exact, from the checkpoint — never an estimate) AND (b) the
      // candidate side is big enough to pay for it: the verify then runs
      // MAP-SIDE over the checkpointed candidate partitions, removing both
      // 16-byte candidate exchanges AND the shuffle of the text-wide
      // (cand ⋈ text_a) intermediate (~8 GB at the 10M funnel: nCand=29M).
      // Cost model, measured both ways on this host: broadcast saves
      // ~nCand × (48 + avgTextLen) shuffled bytes but pays two serial
      // driver collects + relation builds of txtBytes each, so it only
      // wins when the candidate relation dwarfs the text relation (10M
      // funnel: 8.7 GB vs 0.26 GB → broadcast; 2M probe: 16 MB vs 22 MB →
      // SHUFFLE_HASH, which measured faster there). Budget is per-executor
      // memory (one copy per executor on a cluster); 64 B/row covers row
      // object + hash-relation overhead.
      val bcMax = df.sparkSession.conf
        .get("spark.graft.nearDedup.broadcastTextBytes", "268435456").toLong
      val avgLen = if (nTxt == 0) 0L else txtBytes / nTxt
      val useBc = txtBytes + 64L * nTxt <= bcMax &&
        nCand * (48L + avgLen) > 4L * txtBytes
      val docsSide = if (useBc) broadcast(texts) else texts
      val v = verifyPairs(cand, docsSide, threshold, shuffleHash = !useBc)
        .select(col("id_a"), col("id_b"))
        .localCheckpoint()
      texts.unpersist(false)
      v
    }
    val labels = connectedComponents(pairs, "id_a", "id_b", maxIter)
    // Drop non-root endpoints; every other document (including the untouched
    // majority) survives — an anti join against the small loser set. labels
    // is already materialized (connectedComponents localCheckpoints its
    // result), so the filter here is a cheap scan, not a recompute.
    val losers = labels.where(col("comp") =!= col("id")).select(col("id"))
    df.join(losers, df(idCol).cast("long") === losers("id"), "left_anti")
  }

  /** Connected components over an (undirected) edge list by min-label
    * propagation with alternating pointer-jumping — the subroutine behind
    * [[nearDedupCorpus]], exposed as a first-class graph operator.
    *
    * Input edges need NOT be symmetrized (each row is treated as an
    * undirected edge); ids must be integral (cast to long internally).
    * Returns one row per edge ENDPOINT: `(id, comp)` where `comp` is the
    * smallest id reachable from `id`. Vertices with no edges are the
    * caller's to union in (they are trivially their own component) — at
    * corpus scale the untouched majority never enters the iteration.
    *
    * Scale: each iteration is one shuffle over the edge set + one over the
    * label set; pointer jumping on odd iterations keeps convergence
    * O(log diameter). Lineage is truncated with localCheckpoint (swap for a
    * reliable checkpoint dir on a multi-node cluster). */
  def connectedComponents(edges0: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 50): DataFrame = {
    // a non-integral id would cast to null and silently collapse the label
    // table — same guard as nearDedupCorpus
    requireIntegralIds(edges0, Seq(srcCol, dstCol), "connectedComponents")
    val pairs = edges0.select(col(srcCol).cast("long").as("id_a"),
      col(dstCol).cast("long").as("id_b"))
    // The symmetrized edge set is the loop invariant and the BIG side of
    // every iteration's propagation join: materialize it ONCE (r15) — the
    // lazy union was previously re-generated and re-shuffled every
    // iteration. Measured note (r15): pinning a hash layout on top of the
    // checkpoint does NOT help — localCheckpoint loses partitioning
    // metadata under AQE, and advertising it via a fixed-partition
    // LogicalRDD wrap blocked AQE coalescing for every downstream stage and
    // ran 7x SLOWER at the 1M-edge probe; plain materialization is the
    // measured optimum. Cost: one up-front materialization of 2×|E| slim
    // rows — the candidate subgraph, never the corpus.
    val edges = pairs
      .union(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint()
    // Only edge ENDPOINTS participate in label propagation — the iteration
    // working set is the candidate subgraph (a tiny fraction of the corpus
    // at 100 TB), never the corpus.
    var labels = edges.select(col("id_a").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var prev: Option[DataFrame] = None
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      // candidate label for dst = min over neighbors' current labels
      val proposals = edges.join(labels, edges("id_a") === labels("id"))
        .groupBy(col("id_b").as("id")).agg(min(col("comp")).as("ncomp"))
      val propBase = labels.join(proposals, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("ncomp"), col("comp"))).as("comp"),
          col("comp").as("old"))
      // Pointer jump (comp := label(comp)) halves chain lengths but costs an
      // extra self-join; min-label propagation alone already converges, so
      // alternating propagate-only / propagate+jump iterations keeps the
      // O(log diameter) bound at roughly half the per-iteration join count.
      // prop is persisted only on jump iterations (it feeds both join sides).
      var propCache: Option[DataFrame] = None
      val jumped =
        if (iter % 2 == 0) propBase
        else {
          val prop = propBase.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          propCache = Some(prop)
          val m = prop.select(col("id").as("jid"), col("comp").as("jcomp"))
          prop.join(m, prop("comp") === m("jid"), "left")
            .select(prop("id"), coalesce(col("jcomp"), prop("comp")).as("comp"), col("old"))
        }
      // localCheckpoint every 4th iteration truncates lineage (plan depth
      // would otherwise grow linearly in iterations); persist otherwise.
      val updated =
        if (iter % 4 == 3) jumped.localCheckpoint()
        else jumped.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      changed = updated.where(col("comp") =!= col("old")).count()
      propCache.foreach(_.unpersist(false))
      prev.foreach(_.unpersist(false))
      prev = Some(updated)
      labels = updated.select(col("id"), col("comp"))
      iter += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"connectedComponents did not converge after $maxIter iterations")
    // Materialize the (small) label table so the last iteration's cached
    // blocks can be released before returning.
    val out = labels.localCheckpoint()
    prev.foreach(_.unpersist(false))
    out
  }

  /** Triangle enumeration over an undirected edge list: edges are oriented
    * small→large and deduped, wedges form by joining on the middle vertex,
    * and a closing-edge join keeps the closed ones — each triangle
    * `(a < b < c)` is emitted exactly once.
    *
    * Scale: two equi-joins; the wedge join is keyed on the middle vertex,
    * so hot (high-degree) vertices produce the classic d² wedge blowup —
    * AQE splits those partitions, and the orientation (only smaller→larger
    * edges) already halves wedge counts. For power-law graphs add a degree
    * threshold upstream. */
  def triangles(edges0: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    requireIntegralIds(edges0, Seq(srcCol, dstCol), "triangles")
    val s0 = col(srcCol).cast("long")
    val d0 = col(dstCol).cast("long")
    val e = edges0.select(least(s0, d0).as("a"), greatest(s0, d0).as("b"))
      .where(col("a") =!= col("b")).distinct()
    val e1 = e.select(col("a").as("x"), col("b").as("y"))
    val e2 = e.select(col("a").as("y2"), col("b").as("z"))
    val e3 = e.select(col("a").as("x3"), col("b").as("z3"))
    e1.join(e2, col("y") === col("y2"))
      .join(e3, col("x") === col("x3") && col("z") === col("z3"))
      .select(col("x").as("a"), col("y").as("b"), col("z").as("c"))
  }

  /** Local clustering-coefficient PIECES per node: `(id, tri, deg)` with
    * `tri` = triangles through the node and `deg` its degree in the
    * deduped undirected graph — the coefficient `2·tri / (deg·(deg−1))`
    * is one division away; the integer pieces keep it oracle-exact.
    * Scale: the oriented wedge join of [[triangles]] (each triangle
    * enumerated once) + two counted aggregates; the checkpointed edge set
    * feeds both. */
  def clusteringPieces(edges0: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    requireIntegralIds(edges0, Seq(srcCol, dstCol), "clusteringPieces")
    val s0 = col(srcCol).cast("long")
    val d0 = col(dstCol).cast("long")
    val e = edges0.select(least(s0, d0).as("a"), greatest(s0, d0).as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint()
    val triCounts = triangles(e, "a", "b")
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("tri"))
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.join(triCounts, Seq("id"), "left")
      .select(col("id"), coalesce(col("tri"), lit(0L)).as("tri"), col("deg"))
  }

  /** PageRank over an undirected edge list in EXACT integer arithmetic
    * (ranks scaled by 10^6): edges are symmetrized and deduped, every
    * endpoint starts at 1.0, and each of the `iters` rounds computes
    *
    *   r'(v) = 0.15 + 0.85 · Σ_{u→v} floor(r(u) / outdeg(u))
    *
    * entirely in integer division — order-free sums, no floats — so the
    * scores replay bit-for-bit in the oracle's chained CTEs. Symmetrized
    * graphs have no dangling nodes (every endpoint has outdeg ≥ 1), so no
    * dangling-mass redistribution is needed.
    *
    * Scale: each round is one edge-keyed join + one target-keyed counted
    * aggregate — the same shuffle shape as one label-propagation round;
    * the rank table is endpoints-only, never the corpus. Fixed iteration
    * count (no convergence scan) keeps the plan depth bounded; lineage is
    * truncated every round via persist. */
  def pageRank(edges0: DataFrame, srcCol: String, dstCol: String,
               iters: Int = 6): DataFrame = {
    requireIntegralIds(edges0, Seq(srcCol, dstCol), "pageRank")
    val p = edges0.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    // materialized once — the loop invariant (see connectedComponents'
    // measured note on why a pinned layout is NOT added on top)
    val e = p.union(p.select(col("b").as("a"), col("a").as("b"))).distinct()
      .localCheckpoint()
    // loop-invariant: persisted once so the per-round materializations don't
    // re-run the degree and distinct shuffles every iteration
    val deg = e.groupBy("a").agg(count(lit(1)).as("d"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = e.select(col("a").as("id")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var r = nodes.withColumn("r", lit(1000000L)).persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val contrib = e.join(r, e("a") === r("id")).join(deg, "a")
        .select(col("b").as("id"), expr("r DIV d").as("c"))
        .groupBy("id").agg(sum("c").as("s"))
      val next = nodes.join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(150000L) + expr("850 * coalesce(s, 0) DIV 1000")).as("r"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      next.count() // materialize before releasing the previous round
      prev.foreach(_.unpersist(false))
      prev = Some(r)
      r = next
    }
    val out = r.localCheckpoint()
    prev.foreach(_.unpersist(false))
    r.unpersist(false)
    deg.unpersist(false)
    nodes.unpersist(false)
    out
  }

  /** k-hop BFS distances from a seed set over an undirected edge list:
    * `(id, dist)` = the minimum number of edges from any seed, for every
    * seed (dist = 0) and every node reachable within `maxHops` hops;
    * unreached nodes are absent. Deterministic — each round is a
    * min-aggregate, so the result is independent of execution order, and a
    * FIXED `maxHops` rounds replays exactly in the oracle's chained CTEs
    * (extra rounds past the fixed point are the identity).
    *
    * Scale: each hop is one frontier×edges equi-join (frontier = nodes
    * first reached last hop, which only shrinks the join) + a min
    * aggregate over (reached ∪ neighbors); the working set is the reached
    * subgraph, never the corpus. Lineage is truncated per hop with
    * localCheckpoint (swap for a reliable checkpoint dir multi-node). */
  def bfsDistances(edges0: DataFrame, srcCol: String, dstCol: String,
                   seeds0: DataFrame, seedCol: String, maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 64, "maxHops in 1..64")
    requireIntegralIds(edges0, Seq(srcCol, dstCol), "bfsDistances")
    requireIntegralIds(seeds0, Seq(seedCol), "bfsDistances")
    val p = edges0.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    // materialized once — the loop invariant (see connectedComponents'
    // measured note on why a pinned layout is NOT added on top)
    val e = p.union(p.select(col("b").as("a"), col("a").as("b"))).distinct()
      .localCheckpoint()
    var dist = seeds0.select(col(seedCol).cast("long").as("id")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    for (hop <- 1 to maxHops) {
      val frontier = dist.where(col("dist") === (hop - 1).toLong)
      val nbrs = e.join(frontier, e("a") === frontier("id"))
        .select(col("b").as("id")).distinct()
        .withColumn("dist", lit(hop.toLong))
      dist = dist.union(nbrs).groupBy("id").agg(min("dist").as("dist"))
        .localCheckpoint()
    }
    dist
  }

  /** k-core decomposition by iterative peeling: repeatedly delete nodes of
    * degree < k (and their edges) until stable; returns the surviving
    * nodes with their within-core degree — the standard dense-subgraph
    * filter (spam/bot cliques, strongly-duplicated clusters).
    *
    * Exactness: peeling is confluent — the fixed point is unique whatever
    * the removal order — and once a round deletes nothing every further
    * round is the identity, so running a FIXED `iters` rounds (the oracle's
    * chained CTEs) equals the engine's converge-and-stop result whenever
    * convergence happens within `iters`; the engine verifies that and
    * fails loudly otherwise rather than returning a half-peeled graph.
    *
    * Scale: each round is one counted degree aggregate + two semi-joins —
    * no row ever carries more than an edge; lineage is truncated per round. */
  def kCore(edges0: DataFrame, srcCol: String, dstCol: String, k: Int,
            iters: Int = 10): DataFrame = {
    requireIntegralIds(edges0, Seq(srcCol, dstCol), "kCore")
    require(k >= 1 && iters >= 1, "k >= 1, iters >= 1")
    val p = edges0.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .where(col("a") =!= col("b"))
    val repart = (d: DataFrame) => d.localCheckpoint()
    var cur = repart(p.union(p.select(col("b").as("a"), col("a").as("b"))).distinct())
    var curCount = cur.count()
    var converged = false
    var round = 0
    while (round < iters && !converged) {
      round += 1
      val keep = cur.groupBy("a").agg(count(lit(1)).as("d"))
        .where(col("d") >= k).select(col("a").as("kid"))
      val next = repart(cur
        .join(keep, cur("a") === col("kid"), "left_semi")
        .join(keep.select(col("kid").as("kid2")), cur("b") === col("kid2"), "left_semi"))
      val nextCount = next.count()
      converged = nextCount == curCount
      cur = next
      curCount = nextCount
    }
    require(converged || curCount == 0,
      s"kCore did not converge within $iters rounds — raise iters")
    cur.groupBy("a").agg(count(lit(1)).as("deg"))
      .select(col("a").as("id"), col("deg"))
  }

  /** Semantic dedup over an embedding column (the SemDeDup shape with
    * deterministic LSH cells): vectors land in hyperplane buckets, and every
    * vector with a same-bucket neighbor of smaller id at cosine ≥ `tau` is
    * marked a duplicate of its SMALLEST such neighbor. Returns every corpus
    * row as `(idCol, dup_of)` — `dup_of` NULL for survivors; filter
    * `dup_of IS NULL` for the kept set.
    *
    * The rule is ONE-PASS by design: "has any smaller-id near neighbor",
    * not the sequential greedy "has a smaller-id near neighbor that itself
    * survived". Near-dup chains (a~b, b~c, but a!~c) therefore delete the
    * whole tail and `dup_of` may point at a row that was itself removed —
    * follow the `dup_of` chain for the surviving representative. This is
    * the standard scalable approximation: the sequential rule is inherently
    * iterative (each verdict depends on earlier survivors), while this one
    * is a single join + aggregate.
    *
    * Buckets are a pure function of the embedding (`hyperplane_bucket`), so
    * the result is reproducible across runs/engines and the oracle replays
    * it exactly. Candidate generation is the LSH equi-join shape: pairwise
    * work is bounded per bucket (AQE splits hot buckets), never O(corpus²);
    * the greedy winner is one `min` aggregate per duplicate — no iteration,
    * no connected components. More planes → smaller buckets → cheaper and
    * stricter (near-dup pairs must agree on every plane to be compared).
    *
    * Requires [[graft.Graft.install]] (uses `hyperplane_bucket`/`cosine_sim`).
    */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
      nPlanes: Int, tau: Double): DataFrame = {
    val e = corpus.selectExpr(idCol, embCol,
      s"hyperplane_bucket($embCol, $nPlanes) AS bucket")
    val l = e.selectExpr("bucket", s"$idCol AS id_a", s"$embCol AS ea")
    val r = e.selectExpr("bucket", s"$idCol AS id_b", s"$embCol AS eb")
    val dups = l.join(r, "bucket")
      .where(col("id_a") < col("id_b"))
      .where(expr(s"cosine_sim(ea, eb) >= $tau"))
      .groupBy(col("id_b").as(idCol))
      .agg(min(col("id_a")).as("dup_of"))
    corpus.select(col(idCol)).join(dups, Seq(idCol), "left")
  }

  /** Band-hash array expression over a signature column: bands of `rows`
    * consecutive signature slots, each fingerprinted — shared by the
    * self-join pipeline and the persisted index so the two can never use
    * different bucketing. */
  private def bandHashExpr(sigCol: String, bands: Int, rows: Int): String =
    (0 until bands).map(b =>
      s"doc_fingerprint(concat_ws(',', transform(slice($sigCol, ${b * rows + 1}, $rows), x -> CAST(x AS STRING))))")
      .mkString("array(", ", ", ")")

  /** Persist a dedup index for `df`: content fingerprints + full minhash
    * signatures (`path/sigs`) and the banded bucket table
    * (`path/bands`, partitioned by band). The production shape for
    * incremental pipelines: the historical corpus is indexed ONCE (~k
    * longs + one fingerprint per document — thousands of times smaller
    * than the text), and each day's increment dedups against the index
    * without ever re-reading corpus text ([[dedupAgainstIndex]]). */
  def saveDedupIndex(df: DataFrame, textCol: String, idCol: String,
      path: String, k: Int = 16, bands: Int = 4): Unit = {
    val spark = df.sparkSession
    val rows = k / bands
    // (k, bands) are INDEX properties: persisted alongside the data so
    // probe/append can never silently use mismatched bucketing
    import spark.implicits._
    Seq((k, bands)).toDF("k", "bands").write.mode("overwrite").parquet(s"$path/meta")
    sigsOf(df, textCol, idCol, k).write.mode("overwrite").parquet(s"$path/sigs")
    // banded view derived from the WRITTEN sigs (no second text scan)
    spark.read.parquet(s"$path/sigs")
      .select(col("id"),
        posexplode(expr(bandHashExpr("sig", bands, rows))).as(Seq("band", "bh")))
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
  }

  /** Fingerprint + signature rows for an id'd text frame — the index's
    * storage schema, shared by save/append/probe so the three can never
    * compute signatures differently. */
  private[graft] def sigsOf(df: DataFrame, textCol: String, idCol: String,
      k: Int): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      expr(s"doc_fingerprint($textCol)").as("fp"),
      expr(s"minhash_sig($textCol, $k)").as("sig"))

  /** (k, bands) as stored by [[saveDedupIndex]]. */
  private def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Int) = {
    val r = spark.read.parquet(s"$path/meta").head()
    (r.getInt(0), r.getInt(1))
  }

  /** Rebuild the banded bucket table from the sigs table — the repair path
    * when an [[appendDedupIndex]] died between its two writes (sigs are the
    * source of truth; bands are always derivable). */
  def repairDedupIndex(spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val (k, bands) = readIndexMeta(spark, path)
    spark.read.parquet(s"$path/sigs")
      .select(col("id"),
        posexplode(expr(bandHashExpr("sig", bands, k / bands))).as(Seq("band", "bh")))
      .write.mode("overwrite").partitionBy("band").parquet(s"$path/bands")
  }

  /** Append an increment's fingerprints/signatures/bands to a saved index —
    * the write half of the daily loop ([[dedupAgainstIndex]] then append the
    * survivors). One pass over the increment; existing index files are
    * untouched (parquet append), so the index grows by the increment's
    * footprint only. */
  def appendDedupIndex(increment: DataFrame, textCol: String, idCol: String,
      path: String): Unit = {
    val (k, _) = readIndexMeta(increment.sparkSession, path)
    val sigs = sigsOf(increment, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try appendSigsToIndex(sigs, path)
    finally sigs.unpersist()
  }

  /** Append PRECOMPUTED (id, fp, sig) rows — for callers that already hold
    * the signatures ([[graft.streaming.Streaming.dedupStream]] probes and
    * appends the same batch; recomputing would double the signature work). */
  private[graft] def appendSigsToIndex(sigs: DataFrame, path: String): Unit = {
    val (k, bands) = readIndexMeta(sigs.sparkSession, path)
    sigs.write.mode("append").parquet(s"$path/sigs")
    sigs.select(col("id"),
        posexplode(expr(bandHashExpr("sig", bands, k / bands))).as(Seq("band", "bh")))
      .write.mode("append").partitionBy("band").parquet(s"$path/bands")
  }

  /** Dedup an increment against a saved index: emits one row per increment
    * document — `dup_of` = the smallest corpus id it duplicates (NULL for
    * novel content) and `kind` = 'exact' (identical fingerprint) or 'near'
    * (band-bucket candidate whose signatures agree on at least
    * `ceil(threshold·k)` of the k minhash slots — the standard MinHash
    * Jaccard estimate, so NO corpus text is needed for verification).
    * Exact wins when both rules match.
    *
    * Scale: the increment's signatures compute in one map pass; the exact
    * probe and the band join shuffle only (hash, id) pairs against the
    * bounded index tables; candidate verification joins k-long signature
    * arrays for the candidate subset only. */
  def dedupAgainstIndex(increment: DataFrame, textCol: String, idCol: String,
      path: String, threshold: Double = 0.5): DataFrame = {
    val (k, _) = readIndexMeta(increment.sparkSession, path)
    val sigs = sigsOf(increment, textCol, idCol, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = dedupSigsAgainstIndex(sigs, idCol, path, threshold)
    sigs.unpersist()
    out
  }

  /** [[dedupAgainstIndex]] over PRECOMPUTED (id, fp, sig) rows. Matches
    * against the increment's OWN ids are excluded, so a replay that probes
    * an index holding a torn append of this very batch self-heals instead
    * of flagging every document as a duplicate of itself. */
  private[graft] def dedupSigsAgainstIndex(sigs: DataFrame, idCol: String,
      path: String, threshold: Double = 0.5): DataFrame = {
    val spark = sigs.sparkSession
    val (k, bands) = readIndexMeta(spark, path)
    val rows = k / bands
    val minMatch = math.ceil(threshold * k).toLong
    val idx = spark.read.parquet(s"$path/sigs")
    val idxBands = spark.read.parquet(s"$path/bands")
    val inc = sigs.select(col("id").as("iid"), col("fp").as("ifp"),
      col("sig").as("isig"))
    val exact = inc.join(idx.select(col("fp").as("ifp"), col("id").as("cid")), Seq("ifp"))
      .where(col("cid") =!= col("iid"))
      .groupBy("iid").agg(min("cid").as("exact_dup"))
    val incBands = inc.select(col("iid"),
      posexplode(expr(bandHashExpr("isig", bands, rows))).as(Seq("band", "bh")))
    val cand = incBands
      .join(idxBands.select(col("band"), col("bh"), col("id").as("cid")), Seq("band", "bh"))
      .where(col("cid") =!= col("iid"))
      .select("iid", "cid").distinct()
    val near = cand
      .join(inc.select(col("iid"), col("isig")), Seq("iid"))
      .join(idx.select(col("id").as("cid"), col("sig").as("csig")), Seq("cid"))
      .withColumn("n_match",
        expr("size(filter(zip_with(isig, csig, (x, y) -> x = y), b -> b))").cast("long"))
      .where(col("n_match") >= lit(minMatch))
      .groupBy("iid").agg(min("cid").as("near_dup"))
    val result = sigs.select(col("id").as("iid"))
      .join(exact, Seq("iid"), "left")
      .join(near, Seq("iid"), "left")
      .select(col("iid").as(idCol),
        coalesce(col("exact_dup"), col("near_dup")).as("dup_of"),
        when(col("exact_dup").isNotNull, lit("exact"))
          .when(col("near_dup").isNotNull, lit("near")).as("kind"))
      // eager materialization (one small row per increment doc) lets the
      // caller's signature cache release immediately instead of leaking
      .localCheckpoint(true)
    result
  }

  /** SimHash near-dup pairs: block on the 4 15-bit quarters of the signature
    * (a pair within Hamming distance 3 shares at least one identical quarter
    * — pigeonhole), then verify the true Hamming distance. */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3): DataFrame = {
    val sig = df.select(col(idCol).as("id"), expr(s"simhash($textCol)").as("sig"))
    val blocked = sig.select(col("id"), col("sig"), posexplode(expr(
      "array(sig & 32767, shiftright(sig, 15) & 32767, shiftright(sig, 30) & 32767, shiftright(sig, 45) & 32767)"))
      .as(Seq("blk", "key")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val l = blocked.select(col("blk"), col("key"), col("id").as("id_a"), col("sig").as("sig_a"))
    val r = blocked.select(col("blk"), col("key"), col("id").as("id_b"), col("sig").as("sig_b"))
    l.join(r, Seq("blk", "key"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("sig_a"), col("sig_b")).distinct()
      .withColumn("dist", expr("hamming64(sig_a, sig_b)"))
      .where(col("dist") <= maxDist)
      .select(col("id_a"), col("id_b"), col("dist"))
  }
}
