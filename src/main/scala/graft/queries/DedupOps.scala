package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.SmallOrdered
import graft.functions.HashOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate dedup — the 100 TB scale paths whose ground truths are
  * the exact operators in TextOps (l1/l2) and SimilarityOps.
  *
  * Signatures are computed in typed maps with primitive loops
  * (graft.functions.HashOps — interpreted HOF lambdas are ~50× slower
  * for O(tokens × bits) inner loops); everything after the signature is
  * declarative Catalyst. The only shuffles touch signature-sized rows
  * (never all pairs), and candidate verification runs exact similarity
  * on the candidate set only — the property that keeps near-dup
  * detection sub-quadratic at scale.
  */
object DedupOps {

  /** MinHash signatures (bands × rowsPerBand hashes) + LSH banding.
    * Returns candidate pairs with their *exact* Jaccard ≥ tau.
    * P(candidate | j=0.8) with 8×4 ≈ 98.5%; recall vs the exact l2
    * output is asserted in PipelineOpsSpec, and at the default τ=0.8
    * the output equals l2's exact pairs (100% recall, exact verify ⇒
    * no false positives), which is what lets d1 share l2's oracle.
    *
    * Layout: ONE typed flatMap emits the 8 band rows per doc, each
    * carrying the doc's sorted shingle-hash set; exact Jaccard runs
    * in-stream on the band-join output (array_intersect on long
    * arrays), and the final distinct dedupes multi-band collisions on
    * finished (ia, ib, j) triples. Shuffle volume is bands × the
    * signature corpus — versus IDs-only banding + two re-attach
    * joins, this trades ~4× on one shuffle for two fewer joins and no
    * cache; at higher band counts the IDs-only form wins back.
    * Shingles are MinHashed from their 64-bit hashes (one string hash
    * per shingle, not one per shingle × seed), and the verify
    * intersects the same hashes — identical Jaccard to the string
    * form absent 2^-64 collisions. */
  /** Band-signature rows (doc_id, sh, b, h) for a (doc_id, text)
    * frame: one typed kernel computes the sorted shingle-hash set,
    * its MinHash signature, and emits `bands` rows each carrying the
    * set (for in-stream exact verification) plus the band hash. */
  /** `spread=false` (r16): the EPOCH folds call this on micro-batch
    * frames inside foreachBatch — fanning a batch to
    * defaultParallelism there (a) shredded every epoch leaf into one
    * tiny parquet file PER CORE (32c wrote 4× the files of 8c — the
    * measured 1.4–1.6× 32c anti-scaling of s25–s28, guide §6 small
    * files), and (b) paid fanOut's RDD-fallback second planning pass
    * per batch (MemoryStream frames have no file leaves). A
    * micro-batch keeps its source partitioning: 1 slice from the test
    * feed, the source's own parallelism at production scale — the
    * file count follows DATA, not core count. */
  private def bandedSigs(docs: DataFrame, bands: Int,
      rowsPerBand: Int, spread: Boolean = true): DataFrame = {
    val n = bands * rowsPerBand
    val projected = docs.select(col("doc_id"), col("text"))
    (if (spread) projected.fanOut else projected)
      .as[(Long, String)](graft.Enc.longStr)
      .flatMap { case (id, text) =>
        val sh = HashOps.shingleHashes(text, 3)
        if (sh.isEmpty) Iterator.empty
        else {
          val bh = HashOps.bandHashes(
            HashOps.minhashSigFromHashes(sh, n), bands, rowsPerBand)
          Iterator.tabulate(bands)(b => (id, sh, b, bh(b)))
        }
      }(graft.Enc.longLongArrIntLong).toDF("doc_id", "sh", "b", "h")
  }

  def minhashPairs(docs: DataFrame, bands: Int = 8, rowsPerBand: Int = 4,
      tau: Double = 0.8, saltGroups: Int = 1): DataFrame = {
    val spark = docs.sparkSession
    val banded = bandedSigs(docs, bands, rowsPerBand)
    // shuffle_hash self-join: canonically identical sides share one
    // exchange (ReuseExchange) — the MinHash flatMap runs once — and
    // the Jaccard verify runs partition-parallel rather than inside
    // the single scan task a broadcast join would pipeline into.
    // Verify via the codegen'd sorted merge walk (SortedIntersectSize):
    // array_intersect builds a per-row hash set; the shingle-hash
    // arrays are already sorted, so a zero-allocation O(|A|+|B|) scan
    // computes the same |A∩B|. (The l2-style positional dedup does not
    // apply here — the collision key is a band, not a set element — so
    // the multi-band distinct below stays.)
    graft.functions.SortedIntersectSize.register(spark)
    import graft.functions.SortedIntersectSize.sorted_intersect_size
    // Candidate join. saltGroups > 1 = TRIANGLE-SALTED form for hot
    // buckets: a band signature shared by n docs (boilerplate,
    // templated pages) makes ONE join key produce n²/2 candidate rows
    // in one task — the skew bomb of any LSH banding at corpus scale,
    // and one AQE cannot defuse alone (skew-join splits partitions;
    // the quadratic OUTPUT of a single key still streams from the
    // tasks that own it). Salting by doc-id hash into g groups and
    // joining the (gl ≤ gr) triangle of group pairs spreads each hot
    // bucket over the g EQUALITY keys (b, h, sr) — the left side
    // replicates triangularly inside each, so the max single-key
    // output drops ~g-fold (NOT g²: the sl dimension rides along as a
    // residual predicate, not a reduce key). Size g from the bucket
    // histogram with that g-fold expectation. Each unordered pair
    // still meets EXACTLY once (its salt pair is a function of the two
    // doc ids), so the output is identical (equality-spec'd). Cost:
    // the left side replicates ×(g+1)/2 on the wire, so it's a knob
    // for skewed corpora, not a default — bench corpora have no hot
    // buckets.
    val candidates =
      if (saltGroups <= 1)
        banded.as("x").join(banded.as("y").hint("shuffle_hash"),
          col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
            col("x.doc_id") < col("y.doc_id"))
      else {
        val g = saltGroups
        val salted = banded.withColumn("s",
          pmod(xxhash64(col("doc_id")), lit(g)).cast("int"))
        // left row with salt s joins every group s..g-1; right row
        // keeps its own salt — key (b, h, sl, sr) meets each pair once
        val lhs = salted
          .withColumn("sr", explode(sequence(col("s"), lit(g - 1))))
          .withColumnRenamed("s", "sl")
        val rhs = salted.withColumnRenamed("s", "sr")
        lhs.as("x").join(rhs.as("y").hint("shuffle_hash"),
          col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
            col("x.sr") === col("y.sr") &&
            // within the diagonal group the usual id order dedupes;
            // across groups the salt order already orients the pair,
            // but the id predicate must then NOT also filter it
            (col("x.sl") =!= col("y.sr") ||
              col("x.doc_id") < col("y.doc_id")) &&
            col("x.doc_id") =!= col("y.doc_id"))
      }
    candidates
      .select(col("x.doc_id").as("ia0"), col("y.doc_id").as("ib0"),
        sorted_intersect_size(col("x.sh"), col("y.sh")).as("inter"),
        (size(col("x.sh")) + size(col("y.sh"))).as("csum"))
      // canonical orientation (salted cross-group pairs can arrive
      // either way; the unsalted join already emits ia < ib)
      .select(least(col("ia0"), col("ib0")).as("ia"),
        greatest(col("ia0"), col("ib0")).as("ib"),
        col("inter"), col("csum"))
      .withColumn("j", col("inter") * lit(1.0) / (col("csum") - col("inter")))
      .filter(col("j") >= tau)
      .select(col("ia"), col("ib"), round(col("j"), 4).as("j"))
      .distinct()
      .orderedRows(col("ia"), col("ib")) // near-dup pairs scale with corpus
  }

  /** Fuzzy (MinHash-Jaccard) benchmark decontamination — the scale
    * sibling of t8's exact n-gram collision check. Exact shingle
    * matching misses near-verbatim contamination (whitespace edits,
    * punctuation drift, small insertions); production pipelines
    * therefore ALSO drop training docs whose shingle-set Jaccard
    * with any eval doc clears a threshold (the GPT-3 appendix-C
    * fuzzy pass). Returns one row per contaminated training doc:
    * (doc_id, n_matches = #eval docs at j ≥ τ, max_j).
    *
    * Scale shape: the eval side is benchmark-suite-sized, never
    * corpus-sized, so its band rows BROADCAST into the training
    * stream — the corpus side computes signatures in one typed
    * kernel and reaches the band join map-side, with no shuffle of
    * training data; exact Jaccard verifies in-stream on band
    * collisions (the codegen sorted merge walk over the shingle-hash
    * sets both rows already carry), so the only exchanges are
    * candidate-sized: the multi-band distinct and the per-doc
    * aggregate. Banding is d1's 8×4 (P(candidate | j=0.8) ≈ 98.5%
    * per pair); at the test SFs it recalls every ≥τ pair (the d1/l2
    * equality property) and the exact verify admits no false
    * positives — which is what lets the oracle be the exact
    * cross-Jaccard SQL. */
  def fuzzyDecontaminate(train: DataFrame, eval: DataFrame,
      bands: Int = 8, rowsPerBand: Int = 4, tau: Double = 0.8): DataFrame = {
    val spark = train.sparkSession
    graft.functions.SortedIntersectSize.register(spark)
    import graft.functions.SortedIntersectSize.sorted_intersect_size
    val tb = bandedSigs(train, bands, rowsPerBand)
    val eb = bandedSigs(eval, bands, rowsPerBand)
    tb.as("x").join(broadcast(eb.as("y")),
        col("x.b") === col("y.b") && col("x.h") === col("y.h"))
      .select(col("x.doc_id").as("doc_id"), col("y.doc_id").as("eval_id"),
        sorted_intersect_size(col("x.sh"), col("y.sh")).as("inter"),
        (size(col("x.sh")) + size(col("y.sh"))).as("csum"))
      .withColumn("j", col("inter") * lit(1.0) / (col("csum") - col("inter")))
      .filter(col("j") >= tau)
      // a pair colliding in several bands must count once
      .select("doc_id", "eval_id", "j").distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), round(max("j"), 4).as("max_j"))
  }

  /** Incremental (delta-vs-base) EXACT dedup with a Bloom prefilter —
    * the daily-ingest shape: `base` = the already-ingested corpus,
    * `delta` = the new batch; emit the delta rows whose `keyCol` is
    * NOT present in base, keeping the first (by `orderCol`) per key
    * within the delta.
    *
    * 100 TB shape — the base NEVER shuffles: pass 1 folds base keys
    * into a fixed-size Bloom bitmap (a tree-aggregated sketch,
    * driver-merged, broadcast back out — `expectedItems`/`fpp` size
    * it; 1 B keys at 3% ≈ 0.9 GB, still broadcastable); pass 2
    * probes delta rows against the bitmap map-side — a
    * bloom-negative key is DEFINITELY absent from base (no false
    * negatives), so only candidate keys (true dups + fpp·|delta|)
    * survive to exact confirmation; pass 3 re-scans base with the
    * candidate keys broadcast (map-side semi join — only actual
    * matches reach the tiny distinct exchange), and the final anti
    * join against the confirmed key set is broadcast too. The
    * Bloom's whole role is making the candidate set broadcastable
    * when the raw delta key set is not; false positives cost only
    * wasted probe work, never a wrong answer. The keep-first window
    * shuffles the delta's survivor set alone. */
  def bloomDeltaDedup(base: DataFrame, delta: DataFrame, keyCol: String,
      orderCol: String, expectedItems: Long = 1L << 20,
      fpp: Double = 0.03): DataFrame = {
    val spark = base.sparkSession
    // an aggregation job at build time (like the IVF sample / langid
    // profiles): bounded by contract — the bitmap, not the corpus
    val bloom = base.stat.bloomFilter(keyCol, expectedItems, fpp)
    val bc = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((k: String) => k != null && bc.value.mightContain(k))
    val candKeys = delta.filter(mightContain(col(keyCol)))
      .select(keyCol).distinct()
    val confirmed = base.select(keyCol)
      .join(broadcast(candKeys), Seq(keyCol), "left_semi")
      .distinct()
    delta.join(broadcast(confirmed), Seq(keyCol), "left_anti")
      .withColumn("rn", row_number().over(
        Window.partitionBy(keyCol).orderBy(orderCol)))
      .filter(col("rn") === 1)
      .drop("rn")
  }

  /** 64-bit SimHash per doc + banded near-dup pairs (Hamming ≤ maxDist
    * requires an exact match on one of 4 16-bit chunks when maxDist ≤ 3).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // One typed flatMap computes the SimHash AND emits its four 16-bit
    // chunk rows as primitive tuples (the HOF explode form interpreted
    // a struct constructor per chunk). No cache: the kernel is cheap
    // to recompute, and the shuffle_hash self-join's canonically
    // identical sides share one exchange (ReuseExchange) anyway.
    val chunked = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 1)
      .fanOut // single-row-group scan: spread the SimHash kernel
      .as[(Long, Array[String])](graft.Enc.longStrArr)
      .flatMap { case (id, toks) =>
        val h = HashOps.simhash64(toks)
        Iterator.tabulate(4)(c => (id, h, c, (h >>> (c * 16)) & 0xFFFFL))
      }(graft.Enc.longLongIntLong)
      .toDF("doc_id", "simhash", "c", "v")
    // first-matching-chunk test (r14): a pair agreeing in c of the 4
    // chunks met the probe c times and was deduped by a distinct over
    // the collision stream; the in-stream test keeps one visit per
    // pair (the simhash IS the packed signature — 4 bands × 16 bits)
    graft.functions.FirstBandMatch.register(docs.sparkSession)
    chunked.as("x").join(chunked.as("y").hint("shuffle_hash"),
        col("x.c") === col("y.c") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id") &&
          graft.functions.FirstBandMatch.first_band_match(
            col("x.simhash"), col("y.simhash"), 16, 4) === col("x.c"))
      .select(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .withColumn("hamming", expr("bit_count(ha ^ hb)"))
      .filter(col("hamming") <= maxDist)
      .select("ia", "ib", "hamming")
      .orderedRows(col("ia"), col("ib")) // near-dup pairs scale with corpus
  }

  /** Embedding-cosine near-dup pairs via hyperplane-LSH banding with
    * exact verification of candidates. The corpus plants no ≥0.9
    * pairs, so the default tau targets the moderate-similarity regime
    * (narrow bands — see SimilarityOps.annLsh scaling note).
    * Geometry: 32 bands × 2 bits (the full 64-bit signature — a2's
    * narrow-band moderate-sim rule at maximum OR-amplification). At
    * cos ≈ 0.45 a bit agrees w.p. ~0.648, a 2-bit band matches w.p.
    * ~0.42, so the per-pair miss rate at the threshold is (1−0.42)³²
    * ≈ 2e-8 (lower above it). The r13 10×-corpus gate MEASURED why
    * the dial matters: the original 20×3-bit geometry (per-pair miss
    * ~2e-3 at τ) recalled every pair at sf0.001/0.01/0.1 but missed
    * 26 of 16,802 exact pairs at sf1 — every miss in [0.450, 0.517],
    * the textbook near-threshold band; 24×2 bits (miss ~2e-6)
    * recovered 25 of them, with one deterministic pair at sim 0.46034
    * still disagreeing in all 24 bands; 32×2 measures EXACT at sf1
    * (16,802/16,802). Wider (3-bit) bands only pay off when tau is
    * high enough that per-band match stays strong — at τ=0.45 they
    * trade recall for fewer bucket collisions, the wrong side of the
    * dial for an entry carrying an exact-pair oracle. Candidate
    * volume rises ~3× over 20×3 (4 buckets per band, 32 bands); the
    * exact verify still admits no false positives at any geometry. */
  /** d7 stage 1 — SemDeDup cluster assignment (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication", arXiv:2303.09540): k-means on the deterministic
    * vec_id-ordered sample (the a3/a6 selection rule — parallelism-
    * independent), every vector assigned to its nearest centroid in
    * one broadcast map pass. Returns (vec_id, v, cluster) with v the
    * RAW widened doubles (assignment normalizes internally; the
    * downstream cosine runs on raw vectors so the oracle's formula
    * matches d3's exactly). */
  def semanticAssignments(emb: DataFrame, k: Int = 16,
      maxTrain: Int = 4096): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val widened = SimilarityOps.unitWidened(emb)
    val sample = widened.orderBy(col("vec_id")).limit(maxTrain)
      .as[(Long, Array[Double])](graft.Enc.longDoubleArr)
      .collect().sortBy(_._1)
      .map { case (_, v) =>
        val s = math.sqrt(v.map(x => x * x).sum)
        if (s > 0) v.map(_ / s) else v
      }
    val centers = graft.functions.VectorOps.kmeansFit(sample, k, iters = 10)
    val bc = spark.sparkContext.broadcast(centers)
    widened.as[(Long, Array[Double])](graft.Enc.longDoubleArr)
      .map { case (id, v) =>
        val cs = bc.value
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        val n = math.sqrt(s)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < cs.length) {
          var d = 0.0; var j = 0
          val ctr = cs(c)
          while (j < v.length) {
            val t = (if (n > 0) v(j) / n else v(j)) - ctr(j)
            d += t * t; j += 1
          }
          if (d < bestD) { bestD = d; best = c } // ties → lowest index
          c += 1
        }
        (id, v, best)
      }(graft.Enc.longDoubleArrInt)
      .toDF("vec_id", "v", "cluster")
  }

  /** d7 stage 2 — survivors after semantic dedup: exact-cosine pairs
    * WITHIN each cluster (the SemDeDup trick: k clusters cut the pair
    * space ~k-fold versus d3's all-pairs banding, because semantic
    * duplicates land in the same cluster), connected components over
    * the pairs, keep min-vec_id per component plus every unpaired
    * vector. The cluster-keyed self-join shares ONE exchange
    * (canonically identical sides), cosine filters in-stream. */
  def semanticDedupSurvivors(assigned: DataFrame, tau: Double = 0.45): DataFrame = {
    graft.functions.CosineSim.register(assigned.sparkSession)
    val rows = assigned.select(col("vec_id"), col("v"), col("cluster"))
    val sim = round(graft.functions.CosineSim.cosine_sim(
      col("x.v"), col("y.v")), 5)
    val pairs = rows.as("x").join(rows.as("y").hint("shuffle_hash"),
        col("x.cluster") === col("y.cluster") &&
          col("x.vec_id") < col("y.vec_id") && sim >= tau)
      .select(col("x.vec_id").as("ia"), col("y.vec_id").as("ib"))
    val comps = clusterPairs(pairs)
    assigned.select(col("vec_id"), col("cluster"))
      .join(comps.filter(col("doc_id") =!= col("cluster_id"))
        .withColumnRenamed("doc_id", "vec_id"),
        Seq("vec_id"), "left_anti")
  }

  def embeddingNearDup(emb: DataFrame, tau: Double = 0.45,
      nBands: Int = 32, bandBits: Int = 2, dim: Int = 64,
      carryVectors: Option[Boolean] = None): DataFrame = {
    import graft.QueryDef.SmallOrdered
    graft.functions.CosineSim.register(emb.sparkSession)
    val carry = carryVectors.getOrElse(nBands.toLong * dim <=
      SimilarityOps.CarryVectorsMaxAmplifiedDoubles)
    if (carry) {
      // Vectors ride THROUGH the band join and cosine runs in-stream
      // on the join output (native CosineSim Expression, fused codegen
      // loop) — the pairs that flow between stages are (ia, ib, sim)
      // triples, never vectors. Multi-band collisions dedupe
      // IN-STREAM (r14): `first_band_match(x.sig, y.sig) === x.b`
      // keeps exactly one visit per colliding pair — the duplicate
      // visits (~8 per random pair at 32×2 bits, the r13 wall) die on
      // a few-ns bit loop BEFORE the cosine evaluates, and the old
      // post-join distinct disappears. The candidate SET is unchanged,
      // so this is a cost reshape, not the recall dial the 10× gate
      // closed.
      graft.functions.FirstBandMatch.register(emb.sparkSession)
      val rows = SimilarityOps.withBands(emb, nBands, bandBits)
        .select(col("vec_id"), col("v"), col("sig"), col("b"), col("h"))
      // shuffle_hash self-join, not broadcast: canonically identical
      // sides share ONE exchange (ReuseExchange), so signatures are
      // computed once, and the probe runs partition-parallel instead
      // of inside the single scan task a broadcast join would pipeline
      // into (the parquet files are single-row-group, so a scan stage
      // is one task). Condition order: id inequality (halves raw
      // collisions) → first-band test (kills duplicate visits) →
      // cosine (once per colliding pair).
      val sim = round(graft.functions.CosineSim.cosine_sim(
        col("x.v"), col("y.v")), 5)
      rows.as("x").join(rows.as("y").hint("shuffle_hash"),
          col("x.b") === col("y.b") && col("x.h") === col("y.h") &&
            col("x.vec_id") < col("y.vec_id") &&
            graft.functions.FirstBandMatch.first_band_match(
              col("x.sig"), col("y.sig"), bandBits, nBands) === col("x.b") &&
            sim >= tau)
        .select(col("x.vec_id").as("ia"), col("y.vec_id").as("ib"), sim.as("sim"))
        .orderedRows(col("ia"), col("ib")) // near-dup pairs scale with corpus
    } else {
      // IDs-only band join above the (bands × dim) crossover
      // (SimilarityOps.CarryVectorsMaxAmplifiedDoubles): the band
      // shuffle ships (id, sig, b, h) rows only — ~bands× less data
      // than amplifying a wide vector — the first-band test dedupes
      // candidates in-stream (one (ia, ib) per colliding pair, no
      // distinct shuffle over the collision stream), and vectors
      // attach once per side for the exact verify. Identical output
      // to the carrying form (same deterministic signatures and
      // scores) — asserted in PipelineOpsSpec.
      graft.functions.FirstBandMatch.register(emb.sparkSession)
      val ids = SimilarityOps.withBandIds(emb, nBands, bandBits)
      val cand = ids.select(col("vec_id").as("ia"), col("sig").as("siga"),
          col("b"), col("h"))
        .join(ids.select(col("vec_id").as("ib"), col("sig").as("sigb"),
          col("b"), col("h")).hint("shuffle_hash"), Seq("b", "h"))
        .filter(col("ia") < col("ib") &&
          graft.functions.FirstBandMatch.first_band_match(
            col("siga"), col("sigb"), bandBits, nBands) === col("b"))
        .select("ia", "ib")
      val vv = SimilarityOps.unitWidened(emb)
      cand
        .join(vv.select(col("vec_id").as("ia"), col("v").as("va")), Seq("ia"))
        .join(vv.select(col("vec_id").as("ib"), col("v").as("vb")), Seq("ib"))
        .withColumn("sim", round(graft.functions.CosineSim.cosine_sim(
          col("va"), col("vb")), 5))
        .filter(col("sim") >= tau)
        .select("ia", "ib", "sim")
        .orderedRows(col("ia"), col("ib")) // near-dup pairs scale with corpus
    }
  }

  /** Per-round lineage cut for the iterative algorithms below.
    * Lineage truncation is the load-bearing part (an uncut plan grows
    * geometrically and hangs the analyzer); WHERE the round's blocks
    * live is a fault-tolerance contract:
    *  - default `localCheckpoint`: blocks on the executors — fastest,
    *    but an executor loss mid-iteration kills the job (acceptable
    *    in local mode and for restartable batch jobs);
    *  - `spark.graft.checkpointDir=<fault-tolerant path>` (session
    *    conf): RELIABLE `checkpoint()` — each round is written to the
    *    shared FS and the job survives executor loss, the contract a
    *    1000-executor cluster run wants for a multi-round components
    *    computation over billions of edges. Labels are identical
    *    either way (spec'd); only durability changes.
    * Storage contract for the reliable mode: every round writes its
    * full frame, and Spark deletes a round's files only when its RDD
    * is garbage-collected AND `spark.cleaner.referenceTracking
    * .cleanCheckpoints=true` (default false — set it at session build
    * alongside the checkpoint dir, or budget rounds × |labels| of FS
    * space for the run; the loop drops each round's reference when it
    * reassigns, so with the cleaner on, old rounds are reclaimed
    * mid-job). */
  private def cutLineage(df: DataFrame, eager: Boolean = true): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.checkpointDir") match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        // Re-apply whenever the CONF value changes. setCheckpointDir
        // stores dir/<uuid>, so sc.getCheckpointDir never equals the
        // conf string — track what we last applied ourselves (one SC
        // per JVM here). The isEmpty arm also claims the dir when
        // other code set a (possibly non-durable) one before us.
        if (appliedCheckpointDir != dir || sc.getCheckpointDir.isEmpty) {
          sc.setCheckpointDir(dir)
          appliedCheckpointDir = dir
        }
        // checkpoint() writes its files in a SECOND job after the
        // materializing action; on an unpersisted frame that job
        // re-runs the round's whole join+agg from scratch — doubling
        // every round's compute. Persist first so the write job reads
        // cached blocks, and force eager so the cache can be dropped
        // before returning (the checkpoint files are the durable
        // copy; honoring eager=false would reintroduce the recompute).
        val cached = df.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cached.checkpoint(eager = true)
        finally cached.unpersist()
      case None => df.localCheckpoint(eager)
    }

  @volatile private var appliedCheckpointDir: String = _

  /** Connected components over a near-dup pair graph: (doc_id,
    * cluster_id = min doc_id in its component) — the step a dedup
    * pipeline runs after candidate pairing to pick one survivor per
    * cluster. Iterative min-label propagation, driver-coordinated
    * rounds like any Pregel-style algorithm on Spark: each round is
    * one join + one aggregation (labels flow along edges), with a
    * convergence check on changed labels. Near-dup graphs have tiny
    * cluster diameters (pairs come from banding over shared content),
    * so rounds ≈ a small constant; if a graph exhausts maxRounds
    * without converging (an adversarial long-chain graph — min-label
    * needs O(diameter) rounds), it FAILS OVER to
    * [[starContractLabels]] rather than silently returning
    * half-propagated labels. Per-round results are cached and the
    * previous round unpersisted, so lineage stays one round deep.
    *
    * SMALL-GRAPH FAST PATH: a verified near-dup pair set is usually
    * MINUSCULE next to the corpus (banding + verify cut it to actual
    * duplicates), and the iterative path pays rounds × (join + agg +
    * checkpoint) in job-scheduling latency for it — the dominant cost
    * at test SFs and the min/median noise amplifier under a busy
    * scheduler. At or below `smallGraphLimit` pairs (counted on the
    * cached frame; default 2²⁰ ≈ 16 MB of edge longs) the components
    * are computed with a driver union-find instead: one collect, zero
    * iterative jobs, and union-by-min-root makes every tree root the
    * component minimum — EXACTLY min-label propagation's answer
    * (equivalence spec'd in SetSimilarityPropSpec). The bound is the
    * broadcast-join-threshold contract: above it, the distributed
    * loop runs — that is the 100 TB path; pass `smallGraphLimit = 0`
    * to force it (the loop/fallback specs do). */
  def clusterPairs(pairs: DataFrame, maxRounds: Int = 25,
      smallGraphLimit: Long = 1L << 20): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    // Cache the pair set BEFORE mirroring it into edges (or counting
    // it): the union's two branches are separate subtrees, so an
    // uncached `pairs` would run its whole upstream (the LSH
    // candidate join) twice.
    val p0 = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    if (p0.count() <= smallGraphLimit) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val es = p0.select(col("ia"), col("ib")).as[(Long, Long)].collect()
      p0.unpersist()
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        // link the LARGER root under the smaller: a root is always the
        // min id ever merged into its tree, so find() = component min
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      return es.iterator.flatMap(e => Iterator(e._1, e._2)).toSeq.distinct
        .map(v => (v, find(v)))
        .toDF("doc_id", "cluster_id")
        .orderedRows(col("doc_id"))
    }
    val edges = p0.select(col("ia").as("u"), col("ib").as("v"))
      .union(p0.select(col("ib").as("u"), col("ia").as("v")))
      .persist(StorageLevel.MEMORY_AND_DISK) // probed every round
    // checkpoint, not persist: the round's result feeds the next
    // round's plan in THREE places (label rows, the propagation join,
    // the convergence columns), so an uncut lineage grows the logical
    // tree geometrically — analysis itself becomes the bottleneck
    // long before maxRounds (measured: a 40-chain graph built a 2 GiB
    // plan string and hung the analyzer). cutLineage pins the data
    // AND resets the plan to a leaf each round (reliable on a cluster
    // via spark.graft.checkpointDir — see its doc).
    var labels = cutLineage(
      edges.select("u").distinct().withColumn("m", col("u")))
    labels.count()
    p0.unpersist()
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val prop = edges.join(
        labels.select(col("u").as("v"), col("m")), Seq("v"))
        .select("u", "m")
      // Convergence folds into the round's ONE action: each u's
      // previous label rides through the aggregation as m0 (label rows
      // carry their own m, propagated rows +inf, min() recovers the
      // old label), so the count below both materializes the (lazy)
      // checkpoint and counts changed labels — no separate label join,
      // and no limit(1) short-circuit leaving the round partial.
      val next = cutLineage(
        labels.select(col("u"), col("m"), col("m").as("m0"))
          .union(prop.select(col("u"), col("m"), lit(Long.MaxValue).as("m0")))
          .groupBy("u").agg(min("m").as("m"), min("m0").as("m0")),
        eager = false)
      val changed = next.filter(col("m") =!= col("m0")).count()
      labels = next // previous round's checkpoint blocks are GC-cleaned
      converged = changed == 0L
      round += 1
    }
    if (!converged) {
      // O(diameter) exceeded the round budget: a correct answer needs
      // the shape-independent algorithm. Labels so far are discarded —
      // restarting star contraction from the raw edge set is simpler
      // than grafting onto a half-propagated forest and obviously
      // correct; the wasted rounds only cost time, never the answer.
      labels.unpersist()
      val out = starContractLabels(edges)
      edges.unpersist()
      return out
    }
    edges.unpersist()
    labels.select(col("u").as("doc_id"), col("m").as("cluster_id"))
      .orderedRows(col("doc_id")) // clustered docs scale with corpus
  }

  /** Alternating large-star/small-star contraction (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", ACM SoCC'14):
    * connected components in O(log² n) rounds on ANY graph shape —
    * diameter-independent, unlike label propagation. Both phases are
    * a groupBy over the (symmetric or parent-oriented) edge list:
    *   large-star: every node attaches its STRICTLY LARGER neighbors
    *     to the minimum of its neighborhood (incl. itself);
    *   small-star: every node re-attaches its smaller parents (and
    *     itself) to the minimum parent.
    * Edges only ever point from a node to a smaller node, and the
    * process fixes exactly when the graph is a union of stars centered
    * at component minima. Input: symmetric or one-sided `u/v` pair
    * frame; output: (doc_id, cluster_id) for every node that appears
    * in an edge, cluster_id = component minimum — the same contract as
    * the min-label path in [[clusterPairs]]. */
  private[queries] def starContractLabels(edges0: DataFrame): DataFrame = {
    // canonical child→parent orientation (c > p), self-loops dropped.
    // Every round cuts its result's lineage: the round's plan
    // references the previous round's edges in FOUR subtrees (the two
    // symmetric branches, the min join, the re-attach union), so an
    // uncut lineage grows the logical tree ~6× per round — see the
    // matching note in clusterPairs (reliable-checkpoint option too).
    var e = cutLineage(edges0
      .select(greatest(col("u"), col("v")).as("c"),
        least(col("u"), col("v")).as("p"))
      .filter(col("c") =!= col("p")).distinct())
    var eCount = e.count()
    var done = eCount == 0L
    var round = 0
    while (!done) {
      // large-star over the symmetric view: m(u) = min(N(u) ∪ {u});
      // emit (v, m(u)) for every neighbor v > u
      val sym = e.union(e.select(col("p").as("c"), col("c").as("p")))
      val mins = sym.groupBy("c")
        .agg(least(min(col("p")), col("c")).as("m"))
        .withColumnRenamed("c", "u")
      val ls = sym.join(mins, sym("c") === mins("u"))
        .filter(col("p") > col("c"))
        .select(col("p").as("c"), col("m").as("p"))
        .filter(col("c") =!= col("p"))
      // small-star on parent-oriented edges: each child re-attaches
      // its parents (and itself) to its minimum parent
      val minP = ls.groupBy("c").agg(min(col("p")).as("m"))
      val ss = cutLineage(
        ls.join(minP.withColumnRenamed("c", "u"), ls("c") === col("u"))
          .select(col("p").as("c"), col("m").as("p"))
          .union(minP.select(col("c"), col("m").as("p")))
          .filter(col("c") =!= col("p")).distinct(),
        eager = false)
      // fixed point: the edge set is distinct on both sides, so equal
      // counts + empty difference ⇔ equal sets. The count materializes
      // the lazy checkpoint; exceptAll then compares two leaf plans.
      val ssCount = ss.count()
      done = ssCount == eCount && ss.exceptAll(e).isEmpty
      e = ss // previous round's checkpoint blocks are GC-cleaned
      eCount = ssCount
      round += 1
      // O(log² n) bound (Kiveris et al., Thm 3.3): for a 64-bit id
      // universe that is 64² = 4096 alternations. Unreachable in
      // practice (observed: single digits), but looping forever is
      // the one failure mode a correctness fallback may not have, so
      // cap at the theoretical bound, not at a guess below it.
      if (round > 4096 && !done)
        throw new IllegalStateException(
          s"star contraction failed to converge after $round rounds")
    }
    val roots = e.select(col("p")).exceptAll(e.select(col("c"))).distinct()
    val out = e.select(col("c").as("doc_id"), col("p").as("cluster_id"))
      .union(roots.select(col("p").as("doc_id"), col("p").as("cluster_id")))
      .orderedRows(col("doc_id"))
    out
  }

  /** Survivor selection by quality over cluster labels: every doc not
    * in `clusters` survives; within a cluster the most-token member
    * wins (doc_id tie-break). See the d5b entry for the scale
    * rationale (the window runs over the clustered subset only). */
  def qualitySurvivors(docs: DataFrame, clusters: DataFrame): DataFrame = {
    val winners = broadcast(clusters)
      .join(docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok")),
        Seq("doc_id"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("cluster_id")
          .orderBy(col("n_tok").desc, col("doc_id"))))
      .filter(col("rn") === 1)
      .select("doc_id")
    docs.select("doc_id")
      .join(broadcast(clusters), Seq("doc_id"), "left_anti")
      .union(winners)
  }

  /** Shared recursive-CTE prefix for the component oracles (d4/d5):
    * exact shingle-Jaccard pairs → undirected edges → min-label
    * reachability walk. */
  private[queries] val ComponentsCte: String =
    """WITH RECURSIVE
      |tok AS (SELECT doc_id, STRING_SPLIT(text,' ') toks FROM documents),
      |shx AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)-2),
      |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle FROM tok),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM shx),
      |card AS (SELECT doc_id, COUNT(*) c FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |          FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2),
      |pairs AS (SELECT ia, ib FROM inter JOIN card ca ON ca.doc_id=ia JOIN card cb ON cb.doc_id=ib
      |          WHERE i*1.0/(ca.c + cb.c - i) >= 0.8),
      |edges AS (SELECT ia AS u, ib AS v FROM pairs UNION SELECT ib, ia FROM pairs),
      |walk(u, m) AS (
      |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      |  UNION
      |  SELECT e.u, w.m FROM edges e JOIN walk w ON w.u = e.v
      |)""".stripMargin

  /** d7's assignment snapshot (SF-agnostic path, CdcQueries pattern:
    * the oracle SQL is static, the engine writes the CURRENT SF's
    * assignments there and rewrites on SF change). */
  private val SemAssignSnapshot =
    System.getProperty("java.io.tmpdir") + "/graft_sem_assign_cur"

  private val semSnapshotSf =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def writeSemSnapshotIfStale(d: String)(write: => Unit): Unit =
    synchronized {
      if (semSnapshotSf.get(SemAssignSnapshot) != d) {
        write; semSnapshotSf.put(SemAssignSnapshot, d)
      }
    }

  /** d2's DuckDB oracle: re-derives the 64-bit SimHash from the raw
    * documents in PURE SQL — including the token hash itself. The
    * engine hashes tokens with xxHash64 seed 0 (HashOps.hash, Spark's
    * own XXH64); DuckDB has no xxhash64, so the oracle IMPLEMENTS it:
    * 64-bit wrapping arithmetic runs in HUGEINT with an explicit
    * mod-2^64 after every multiply (32-bit-split schoolbook product —
    * DuckDB's UBIGINT multiply errors on overflow rather than
    * wrapping), rotates as divide/multiply by powers of two, XOR via
    * UBIGINT. Corpus tokens are ≤ 15 bytes (whitespace-split synthetic
    * words; the 10× corpus's 9-byte words first forced the extension
    * past the original ≤8 unroll), so xxh64's whole sub-16 finalization
    * (one 8-byte chunk, then a 4-byte lane, then ≤3 tail bytes, then
    * avalanche) is emitted FULLY UNROLLED as chained CTE stages —
    * every length 1..15 is validated against Spark's own xxhash64 by
    * `tools/check_xxh64_sql.py`; a ≥16-byte token (needs a second
    * 8-byte chunk) raises error() at evaluation — the oracle fails
    * LOUDLY rather than diverging silently if the corpus ever grows
    * longer words. Bit votes fan out over
    * UNNEST(range(64)),
    * the signature reassembles via BIGINT shifts with bit 63 as the
    * sign value (the m5 technique — `**` would route through DOUBLE
    * and shed low bits), and pairs brute-force with bit_count(xor)
    * ≤ 3, which the engine's chunk-pigeonhole join provably equals. */
  private val SimhashOracleSql: String = {
    val M = "18446744073709551616"
    val (p1, p2, p3, p5) = ("11400714785074694791", "14029467366897019727",
      "1609587929392839161", "2870177450012600261")
    val p4 = "9650029242287828579"
    def mul64(a: String, b: String): String =
      s"((($a)%4294967296)*(($b)%4294967296)" +
        s" + ((((($a)//4294967296)%4294967296)*(($b)%4294967296)" +
        s" + (($a)%4294967296)*(((($b)//4294967296)%4294967296))) % 4294967296)" +
        s" * 4294967296) % $M"
    def rotl(x: String, r: Int): String =
      s"(((($x) % ${BigInt(1) << (64 - r)}) * ${BigInt(1) << r}) + (($x) // ${BigInt(1) << (64 - r)}))"
    def xor64(a: String, b: String): String =
      s"CAST(xor(CAST(($a) AS UBIGINT), CAST(($b) AS UBIGINT)) AS HUGEINT)"
    def shr(x: String, n: Int): String = s"(($x) // ${BigInt(1) << n})"
    val bytes = (1 to 15).map { p =>
      s"CASE WHEN n >= $p THEN CAST(16*(strpos('0123456789ABCDEF', substr(hx,${2 * p - 1},1))-1)" +
        s" + strpos('0123456789ABCDEF', substr(hx,${2 * p},1))-1 AS HUGEINT)" +
        s" ELSE CAST(0 AS HUGEINT) END AS b$p"
    }.mkString(",\n    ")
    val u64 = "(b1 + b2*256 + b3*65536 + b4*16777216 + b5*4294967296" +
      " + b6*1099511627776 + b7*281474976710656 + b8*72057594037927936)"
    s"""WITH tb AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |th AS (
       |  SELECT doc_id, hex(encode(tok)) AS hx,
       |         CAST(octet_length(encode(tok)) AS BIGINT) AS n FROM tb),
       |tbytes AS (
       |  SELECT doc_id, n,
       |    $bytes
       |  FROM th),
       |s0 AS (SELECT doc_id, n, $u64 AS u64,
       |        (b1 + b2*256 + b3*65536 + b4*16777216) AS u32a,
       |        (b9 + b10*256 + b11*65536 + b12*16777216) AS u32b,
       |        b1, b2, b3, b5, b6, b7, b9, b10, b11, b13, b14, b15,
       |        CAST($p5 AS HUGEINT) + n AS h0 FROM tbytes),
       |s1 AS (SELECT *, CASE WHEN n >= 8 THEN
       |          (${mul64(rotl(xor64("h0", mul64(rotl(mul64("u64", p2), 31), p1)), 27), p1)} + $p4) % $M
       |        WHEN n >= 4 THEN
       |          (${mul64(rotl(xor64("h0", mul64("u32a", p1)), 23), p2)} + $p3) % $M
       |        ELSE h0 END AS h1a FROM s0),
       |s1b AS (SELECT *, CASE WHEN n >= 12 THEN
       |          (${mul64(rotl(xor64("h1a", mul64("u32b", p1)), 23), p2)} + $p3) % $M
       |        ELSE h1a END AS h1,
       |        CASE WHEN n >= 12 THEN n - 12 WHEN n >= 8 THEN n - 8
       |             WHEN n >= 4 THEN n - 4 ELSE n END AS tl,
       |        CASE WHEN n >= 12 THEN b13 WHEN n > 8 THEN b9
       |             WHEN n >= 4 AND n < 8 THEN b5 ELSE b1 END AS ta,
       |        CASE WHEN n >= 12 THEN b14 WHEN n > 8 THEN b10
       |             WHEN n >= 4 AND n < 8 THEN b6 ELSE b2 END AS tbb,
       |        CASE WHEN n >= 12 THEN b15 WHEN n > 8 THEN b11
       |             WHEN n >= 4 AND n < 8 THEN b7 ELSE b3 END AS tc
       |       FROM s1),
       |s2 AS (SELECT *, CASE WHEN tl > 0 THEN ${mul64(rotl(xor64("h1", mul64("ta", p5)), 11), p1)} ELSE h1 END AS h2 FROM s1b),
       |s3 AS (SELECT *, CASE WHEN tl > 1 THEN ${mul64(rotl(xor64("h2", mul64("tbb", p5)), 11), p1)} ELSE h2 END AS h3 FROM s2),
       |s4 AS (SELECT *, CASE WHEN tl > 2 THEN ${mul64(rotl(xor64("h3", mul64("tc", p5)), 11), p1)} ELSE h3 END AS h4 FROM s3),
       |a1 AS (SELECT doc_id, n, ${mul64(xor64("h4", shr("h4", 33)), p2)} AS g1 FROM s4),
       |a2 AS (SELECT doc_id, n, ${mul64(xor64("g1", shr("g1", 29)), p3)} AS g2 FROM a1),
       |tokh AS (SELECT doc_id, CASE WHEN n <= 15
       |           THEN xor(CAST((g2) AS UBIGINT), CAST((g2) // 4294967296 AS UBIGINT))
       |           ELSE CAST(error('simhash oracle: token > 15 bytes needs a second xxh64 8-byte chunk') AS UBIGINT)
       |           END AS h FROM a2),
       |votes AS (
       |  SELECT doc_id, b,
       |         SUM(CASE WHEN ((h >> b) & CAST(1 AS UBIGINT)) = CAST(1 AS UBIGINT)
       |                  THEN 1 ELSE -1 END) AS v
       |  FROM tokh, UNNEST(range(64)) AS u(b) GROUP BY doc_id, b),
       |sig AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN v >= 0 AND b < 63 THEN CAST(1 AS BIGINT) << b
       |             ELSE CAST(0 AS BIGINT) END)
       |      + SUM(CASE WHEN b = 63 AND v >= 0
       |            THEN CAST(-9223372036854775808 AS BIGINT)
       |            ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS hash
       |  FROM votes GROUP BY doc_id)
       |SELECT ia, ib, CAST(d AS INT) AS hamming FROM (
       |  SELECT a.doc_id AS ia, b.doc_id AS ib,
       |         bit_count(xor(a.hash, b.hash)) AS d
       |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
       |WHERE d <= 3 ORDER BY ia, ib""".stripMargin
  }

  // ---------------------------------------------------------------
  // d9: persisted LSH band index + incremental delta fold (the a12
  // two-table layout for text): bands(doc_id, b, h) — the small join
  // surface — and sets(doc_id, sh) — the verify payload — both
  // bucketed by doc_id so the candidate→sets attach is shuffle-free
  // on the index side. One generation per ingest tier (base/delta).
  // ---------------------------------------------------------------

  // Process-private root (ADVICE r14): the in-process coherence guard
  // below is JVM-local, so the on-disk generations must be too —
  // concurrent processes on one host each get their own index tree,
  // deleted at exit.
  private lazy val LshWarehouse = graft.TmpDirs.processRoot("graft_lsh_index")
  /** exposed for the base-never-rewritten file-snapshot spec */
  private[graft] def lshWarehousePath: String = LshWarehouse
  private val lshIndexSf =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The d9 corpus split (a12's convention): standing corpus vs the
    * "daily" ingest batch (¼ of docs). */
  private def lshBaseFilter = col("doc_id") % 4 =!= 3

  private def writeLshGeneration(s: org.apache.spark.sql.SparkSession,
      docs: DataFrame, suffix: String): Unit = {
    // persist across the two leaf writes, as foldLshDeltaEpoch does:
    // both leaves read the SAME banded frame, and without the cache the
    // generation build paid the shingle+MinHash kernel twice. A base
    // generation is corpus-sized, so spill rather than drop blocks.
    val banded = bandedSigs(docs, 8, 4)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // repartition BY THE BUCKET KEY before each bucketed write (r16,
    // guide §6): the kernel's 32-task fanOut otherwise leaves one file
    // per (task, bucket) — measured 254–256 micro-files per table,
    // re-opened by every serve. Murmur3 alignment with the bucket
    // assignment yields exactly one file per bucket.
    try {
      banded.select("doc_id", "b", "h")
        .repartition(8, col("doc_id"))
        .write.mode("overwrite")
        .option("path", s"$LshWarehouse/bands_$suffix")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(s"graft_lsh_bands_$suffix")
      banded.filter(col("b") === 0).select("doc_id", "sh")
        .repartition(8, col("doc_id"))
        .write.mode("overwrite")
        .option("path", s"$LshWarehouse/sets_$suffix")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable(s"graft_lsh_sets_$suffix")
    } finally banded.unpersist(blocking = false): Unit
  }

  /** Build the BASE index once per corpus dir. */
  def ensureLshIndexBase(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    synchronized {
      if (lshIndexSf.get("base") == d &&
        s.catalog.tableExists("graft_lsh_bands_base") &&
        s.catalog.tableExists("graft_lsh_sets_base")) return
      lshIndexSf.remove("base")
      writeLshGeneration(s, Tables.documents(s, d).filter(lshBaseFilter), "base")
      lshIndexSf.put("base", d)
    }

  /** Fold one ingest batch into the DELTA generation — reads and
    * writes ONLY delta rows; the base tables stay untouched
    * (spec-pinned by file snapshot). Idempotent per corpus. */
  def foldLshDelta(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    synchronized {
      if (lshIndexSf.get("delta") == d &&
        s.catalog.tableExists("graft_lsh_bands_delta") &&
        s.catalog.tableExists("graft_lsh_sets_delta")) return
      lshIndexSf.remove("delta")
      writeLshGeneration(s, Tables.documents(s, d).filter(!lshBaseFilter), "delta")
      lshIndexSf.put("delta", d)
    }

  /** Serve the incremental near-dup question from the persisted
    * index: DELTA band rows probe base ∪ delta (candidate volume
    * scales with the batch), candidates dedupe at pair grain BEFORE
    * the verify joins, sets attach bucket-aligned, exact Jaccard
    * verify via the codegen'd sorted merge. Output = every ≥0.8 pair
    * with at least one delta endpoint, canonical (ia < ib). */
  def lshServeDelta(s: org.apache.spark.sql.SparkSession,
      tau: Double = 0.8): DataFrame =
    lshServeFrom(s,
      s.table("graft_lsh_bands_base"), s.table("graft_lsh_bands_delta"),
      s.table("graft_lsh_sets_base")
        .unionByName(s.table("graft_lsh_sets_delta")), tau)

  /** The serve kernel over EXPLICIT persisted band/set frames —
    * shared by the batch-delta form (d9) and the streaming
    * epoch-delta form (s26). */
  private def lshServeFrom(s: org.apache.spark.sql.SparkSession,
      bandsBase: DataFrame, bandsDelta: DataFrame, sets: DataFrame,
      tau: Double): DataFrame = {
    graft.functions.SortedIntersectSize.register(s)
    import graft.functions.SortedIntersectSize.sorted_intersect_size
    val bandsAll = bandsBase.unionByName(bandsDelta)
    // fanOut on the PROBE side (r16, VERDICT r15 item 6 — the d8
    // treatment): at bench SF the whole serve chain (candidate join →
    // pair-distinct → two set attaches → Jaccard verify → sort) sat
    // between TinyExchangeElimination Coalesce(1)s and ran as ONE
    // task. Fanning the delta band frame out re-establishes real
    // exchanges (the rule never collapses an exchange whose child is
    // already a shuffle), so the join, the dedup and the verify run
    // partition-parallel. Slice-guarded as always: at real scale the
    // delta scan already splits and fanOut is a no-op decision. Same
    // candidates, same pairs (repartition only).
    val cand = bandsDelta.select(col("doc_id").as("da"), col("b"), col("h"))
      .fanOut
      .join(bandsAll.select(col("doc_id").as("db"), col("b"), col("h"))
        .hint("shuffle_hash"), Seq("b", "h"))
      .filter(col("da") =!= col("db"))
      .select(least(col("da"), col("db")).as("ia"),
        greatest(col("da"), col("db")).as("ib"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("ia"), col("sh").as("sa")), Seq("ia"))
      .join(sets.select(col("doc_id").as("ib"), col("sh").as("sb")), Seq("ib"))
      .withColumn("inter", sorted_intersect_size(col("sa"), col("sb")))
      .withColumn("j", col("inter") * lit(1.0) /
        (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("j") >= tau)
      .select(col("ia"), col("ib"), round(col("j"), 4).as("j"))
      .orderedRows(col("ia"), col("ib"))
  }

  /** The takedown rule for d11 (the ANN a14 rule applied to text):
    * every tenth document is retracted. */
  private def lshTombFilter = col("doc_id") % 10 === 6

  /** Fold the retraction batch into the tombstone generation — a tiny
    * (doc_id) table; base and delta band/set files stay untouched. */
  def foldLshTombstones(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    synchronized {
      if (lshIndexSf.get("tombs") == d &&
        s.catalog.tableExists("graft_lsh_tombs")) return
      lshIndexSf.remove("tombs")
      Tables.documents(s, d).filter(lshTombFilter).select("doc_id")
        .repartition(8, col("doc_id")) // one file per bucket (r16, guide §6)
        .write.mode("overwrite")
        .option("path", s"$LshWarehouse/tombs")
        .bucketBy(8, "doc_id").sortBy("doc_id")
        .saveAsTable("graft_lsh_tombs")
      lshIndexSf.put("tombs", d)
    }

  /** d11: the incremental near-dup question AFTER retractions — a
    * retracted document must stop matching (either endpoint). The
    * tombstone table broadcasts into anti-joins on the band and set
    * frames; no standing generation is rewritten (a14's recipe for
    * text). */
  def lshServeDeltaWithTombstones(s: org.apache.spark.sql.SparkSession,
      tau: Double = 0.8): DataFrame = {
    val tombs = broadcast(s.table("graft_lsh_tombs"))
    lshServeFrom(s,
      s.table("graft_lsh_bands_base").join(tombs, Seq("doc_id"), "left_anti"),
      s.table("graft_lsh_bands_delta").join(tombs, Seq("doc_id"), "left_anti"),
      s.table("graft_lsh_sets_base")
        .unionByName(s.table("graft_lsh_sets_delta"))
        .join(tombs, Seq("doc_id"), "left_anti"), tau)
  }

  /** One micro-batch's epoch fold (s26): band + set rows for THIS
    * batch only, into the epoch's own directory — a replayed epoch
    * OVERWRITES its own directory (c11's exactly-once recipe). */
  private[queries] def foldLshDeltaEpoch(batch: DataFrame, dir: String): Unit = {
    // persist across the two leaf writes (r15): the bands and sets
    // leaves are separate parquet jobs over the SAME banded frame, and
    // without the cache each epoch paid the shingle+MinHash kernel
    // twice; the frame is micro-batch-sized, so MEMORY_ONLY is bounded.
    // spread=false (r16): keep the batch's own partitioning so each
    // epoch leaf is one file per source slice, not one per core.
    val banded = bandedSigs(batch, 8, 4, spread = false)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_ONLY)
    try {
      banded.select("doc_id", "b", "h")
        .write.mode("overwrite").parquet(s"$dir/bands")
      banded.filter(col("b") === 0).select("doc_id", "sh")
        .write.mode("overwrite").parquet(s"$dir/sets")
    } finally banded.unpersist(blocking = false): Unit
  }

  /** s26: d9's deployment shape completed streaming-side (the s25
    * pattern for text): each arriving micro-batch of documents folds
    * into its own EPOCH-KEYED delta generation inside foreachBatch —
    * the checkpoint pins batch→epoch, a replay overwrites its own
    * directory — the base generation is never read or rewritten, and
    * the incremental near-dup question is served over base ∪ every
    * epoch. At 100 TB the standing index sits still while crawl
    * epochs accumulate; compaction folds old epochs into base
    * offline (a13's lever). */
  def lshIndexStreamServe(s: org.apache.spark.sql.SparkSession, d: String,
      nBatches: Int = 4, tau: Double = 0.8): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    ensureLshIndexBase(s, d)
    // scratch dirs are process-private and deleted at JVM exit
    // (ADVICE r14: the per-invocation temp dirs used to accumulate)
    val streamDir = graft.TmpDirs.scratch("graft_lsh_stream")
    val ckpt = graft.TmpDirs.scratch("graft_lsh_stream_cp")
    val rows = Tables.documents(s, d).filter(!lshBaseFilter)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)](graft.Enc.longStr)
      .collect().sortBy(_._1)
    // Empty-delta guard (ADVICE r14): with no delta docs, no epoch
    // directory would exist and the epoch=*/bands glob below would
    // throw instead of serving the (correct) empty delta. Write one
    // empty epoch so the read is total.
    if (rows.isEmpty)
      foldLshDeltaEpoch(
        Tables.documents(s, d).select(col("doc_id"), col("text")).limit(0),
        s"$streamDir/epoch=0")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        foldLshDeltaEpoch(batch, s"$streamDir/epoch=$epoch")
      }
      .start()
    try {
      rows.grouped(math.max(1, (rows.length + nBatches - 1) / nBatches))
        .foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    lshServeFrom(s,
      s.table("graft_lsh_bands_base"),
      s.read.parquet(s"$streamDir/epoch=*/bands"),
      s.table("graft_lsh_sets_base")
        .unionByName(s.read.parquet(s"$streamDir/epoch=*/sets")), tau)
  }

  // ---------------------------------------------------------------
  // s27: epoch compaction INSIDE the streaming lifecycle. s25/s26
  // write one delta generation per micro-batch forever — the w4
  // small-files failure mode: a long-running ingest accumulates
  // unbounded epoch directories and serving scans degrade. Here every
  // `compactEvery` epochs the foreachBatch sink folds the accumulated
  // epoch generations (plus any prior compacted generation) into ONE
  // compacted generation and drops the folded inputs. Idempotent on
  // replay: the compacted dir is keyed by the epoch that triggered it
  // (overwrite = c11's exactly-once recipe), a re-trigger with no new
  // epochs is a no-op, and serving selects by WATERMARK (the max
  // compact key, then only epochs above it) — a lingering folded dir
  // can never double-count. Base generation: still never touched.
  // ---------------------------------------------------------------

  /** Fold epochs into the watermark-keyed compacted generation —
    * [[EpochStore.compact]] with this index's leaves; replay- and
    * crash-safe (commit marker after both leaves; see EpochStore). */
  private[queries] def compactLshEpochs(s: org.apache.spark.sql.SparkSession,
      dir: String, upTo: Long): Unit =
    EpochStore.compact(s, dir, upTo, Seq("bands", "sets"))

  /** s27: the s26 streaming ingest with periodic in-lifecycle epoch
    * compaction — every `compactEvery` micro-batches the sink folds
    * the accumulated epochs into one generation, so the live
    * generation count is bounded by `compactEvery` regardless of how
    * long the ingest runs. Serving = base ∪ compacted ∪ epochs above
    * the compact watermark; same exact oracle as d9/s26. */
  def lshIndexStreamCompactServe(s: org.apache.spark.sql.SparkSession, d: String,
      nBatches: Int = 8, compactEvery: Int = 3, tau: Double = 0.8): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    ensureLshIndexBase(s, d)
    val streamDir = graft.TmpDirs.scratch("graft_lsh_stream_compact")
    val ckpt = graft.TmpDirs.scratch("graft_lsh_stream_compact_cp")
    val rows = Tables.documents(s, d).filter(!lshBaseFilter)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)](graft.Enc.longStr)
      .collect().sortBy(_._1)
    if (rows.isEmpty) // keep the serve total on an empty delta
      foldLshDeltaEpoch(
        Tables.documents(s, d).select(col("doc_id"), col("text")).limit(0),
        s"$streamDir/epoch=0")
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, String)]
    val q = in.toDF().toDF("doc_id", "text")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        foldLshDeltaEpoch(batch, s"$streamDir/epoch=$epoch")
        if ((epoch + 1) % compactEvery == 0)
          compactLshEpochs(batch.sparkSession, streamDir, epoch)
      }
      .start()
    try {
      rows.grouped(math.max(1, (rows.length + nBatches - 1) / nBatches))
        .foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    lshServeCompacted(s, streamDir, tau)
  }

  /** Serve base ∪ (compacted ∪ live epochs above the watermark). */
  private[queries] def lshServeCompacted(s: org.apache.spark.sql.SparkSession,
      dir: String, tau: Double): DataFrame =
    lshServeFrom(s,
      s.table("graft_lsh_bands_base"),
      s.read.parquet(EpochStore.servePaths(s, dir, "bands"): _*),
      s.table("graft_lsh_sets_base")
        .unionByName(s.read.parquet(EpochStore.servePaths(s, dir, "sets"): _*)),
      tau)

  /** Live generation count under `dir` — exposed for the
    * bounded-small-files spec. */
  private[graft] def lshLiveGenerations(s: org.apache.spark.sql.SparkSession,
      dir: String): Int = EpochStore.liveGenerations(s, dir)

  /** d9's oracle: the exact pair SQL restricted to pairs with at
    * least one DELTA endpoint (doc_id % 4 == 3 — the ingest batch). */
  private val DeltaPairsSql: String = {
    val guard = "WHERE i*1.0/(ca.c + cb.c - i) >= 0.8"
    require(TextOps.JaccardPairsSql.contains(guard))
    TextOps.JaccardPairsSql.replace(guard,
      guard + " AND (ia % 4 = 3 OR ib % 4 = 3)")
  }

  /** d11's oracle: the delta-crossing pairs with every retracted
    * endpoint (doc_id % 10 = 6, the lshTombFilter rule) excluded. */
  private val DeltaPairsLiveSql: String = {
    val guard = "AND (ia % 4 = 3 OR ib % 4 = 3)"
    require(DeltaPairsSql.contains(guard))
    DeltaPairsSql.replace(guard,
      guard + " AND ia % 10 <> 6 AND ib % 10 <> 6")
  }

  val defs: Seq[QueryDef] = Seq(
    // d1 shares the exact operator's oracle: 100% recall at τ=0.8
    // (asserted in PipelineOpsSpec) + exact verification ⇒ identical
    // output to l2 — this hash-proves the flagship scale-path dedup.
    QueryDef("d1_minhash_neardup", TextOps.JaccardPairsSql) { (s, d) =>
      minhashPairs(Tables.documents(s, d))
    },
    // The TRIANGLE-SALTED candidate join (saltGroups > 1 — the skew
    // path a hot LSH bucket needs at corpus scale) against the same
    // exact-pairs oracle: pair-for-pair equality with ground truth is
    // hash-proven per round, not just in ScalaTest's planted-hot-bucket
    // spec. g=3 exercises both the diagonal (sl == sr, id-ordered) and
    // cross-group (salt-ordered) dedup branches of the join predicate.
    QueryDef("d1b_minhash_salted", TextOps.JaccardPairsSql) { (s, d) =>
      minhashPairs(Tables.documents(s, d), saltGroups = 3)
    },
    // Promoted from golden to a full SQL oracle in r10: DuckDB
    // re-derives xxHash64, the bit votes, the 64-bit signature, and
    // the Hamming-≤3 pairs from the raw text (SimhashOracleSql).
    QueryDef("d2_simhash_neardup", SimhashOracleSql) { (s, d) =>
      simhashPairs(Tables.documents(s, d))
    },

    // d9: INCREMENTAL near-dup screening from a PERSISTED band index
    // — a12's index-as-a-table lifecycle applied to text dedup (d6
    // covers the exact-hash incremental case; this is its NEAR-dup
    // sibling, the "is today's crawl a near-duplicate of anything we
    // already hold?" question a daily-ingest deployment asks). The
    // standing corpus' band rows and shingle sets live in bucketed
    // tables built ONCE; each ingest batch folds ONLY its own rows
    // into a delta generation (base files never read for the fold,
    // never rewritten — spec-pinned by file snapshot); serving joins
    // the DELTA band rows against base ∪ delta, so candidate volume
    // scales with the batch, not the corpus, and the sets attach
    // bucket-aligned (w1's lever — no index-side shuffle). Banding =
    // d1's 8×4 (recalls every ≥0.8 pair at the measured SFs — the
    // shared-oracle evidence), verify = the exact codegen'd sorted
    // merge; split rule doc_id % 4 == 3 (a12's convention).
    QueryDef("d9_lsh_delta_neardup", DeltaPairsSql) { (s, d) =>
      ensureLshIndexBase(s, d)
      foldLshDelta(s, d)
      lshServeDelta(s)
    },

    // s26: d9's STREAMING half (doc at lshIndexStreamServe) — the
    // same exact oracle: one missing or duplicated band/set row from
    // any crawl epoch breaks the hash.
    QueryDef("s26_lsh_index_stream", DeltaPairsSql) { (s, d) =>
      lshIndexStreamServe(s, d)
    },

    // s27: the long-running-ingest completion of s25/s26 — epoch
    // compaction inside the streaming lifecycle (doc at
    // lshIndexStreamCompactServe): live generation count stays
    // bounded by the compaction interval instead of growing one per
    // micro-batch forever (the w4 small-files failure mode named in
    // r14). Same exact oracle: folding epochs must lose nothing and
    // duplicate nothing.
    QueryDef("s27_lsh_epoch_compact", DeltaPairsSql) { (s, d) =>
      lshIndexStreamCompactServe(s, d)
    },

    // d11: RETRACTIONS against the persisted near-dup index (a14's
    // tombstone recipe for text — takedowns must stop matching
    // without rewriting the standing band/set generations). Exact
    // oracle: the delta-crossing pairs with both endpoints live.
    QueryDef("d11_lsh_delta_deletes", DeltaPairsLiveSql) { (s, d) =>
      ensureLshIndexBase(s, d)
      foldLshDelta(s, d)
      foldLshTombstones(s, d)
      lshServeDeltaWithTombstones(s)
    },

    // Fuzzy decontamination (see fuzzyDecontaminate): eval = the
    // src1 slice (t8's convention), train = the rest. The oracle is
    // the EXACT cross-subset Jaccard — full recall at the test SFs
    // plus exact in-stream verification make the LSH path equal to
    // ground truth, hash-proven per round like d1.
    QueryDef("t8b_fuzzy_decontaminate",
      """WITH tok AS (SELECT doc_id, source, STRING_SPLIT(text,' ') toks FROM documents),
        |shx AS (SELECT doc_id, source, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)-2),
        |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle FROM tok),
        |sh AS (SELECT DISTINCT doc_id, source, shingle FROM shx),
        |card AS (SELECT doc_id, COUNT(*) c FROM sh GROUP BY 1),
        |inter AS (SELECT t.doc_id tid, e.doc_id eid, COUNT(*) i
        |          FROM sh t JOIN sh e ON t.shingle = e.shingle
        |          WHERE t.source <> 'src1' AND e.source = 'src1'
        |          GROUP BY 1, 2),
        |m AS (SELECT tid, eid, i*1.0/(ct.c + ce.c - i) AS j
        |      FROM inter JOIN card ct ON ct.doc_id = tid
        |                 JOIN card ce ON ce.doc_id = eid
        |      WHERE i*1.0/(ct.c + ce.c - i) >= 0.8)
        |SELECT tid AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches,
        |       ROUND(MAX(j), 4) AS max_j
        |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      fuzzyDecontaminate(
        docs.filter(col("source") =!= "src1").select("doc_id", "text"),
        docs.filter(col("source") === "src1").select("doc_id", "text"))
        .orderedRows(col("doc_id")) // contaminated docs scale with corpus
    },

    // Incremental ingest dedup (see bloomDeltaDedup): base = the
    // first six hours of the event stream, delta = everything after;
    // keys are the event payload (`props`). The oracle is the plain
    // exact anti join + keep-first window — the Bloom is a pure
    // prefilter, so the output must equal the no-Bloom answer.
    QueryDef("d6_bloom_delta_dedup",
      """WITH base AS (SELECT props FROM events
        |              WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-01 06:00:00'),
        |delta AS (SELECT event_id, props FROM events
        |          WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-01 06:00:00'),
        |fresh AS (SELECT event_id, props FROM delta d
        |          WHERE NOT EXISTS (SELECT 1 FROM base b WHERE b.props = d.props))
        |SELECT event_id, props FROM fresh
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY props ORDER BY event_id) = 1
        |ORDER BY event_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val cut = lit("2024-01-01 06:00:00").cast("timestamp")
      bloomDeltaDedup(
        ev.filter(col("ts") < cut).select("props"),
        ev.filter(col("ts") >= cut).select("event_id", "props"),
        "props", "event_id")
        .select("event_id", "props")
        .orderedRows(col("event_id")) // fresh payloads scale with corpus
    },
    // Clusters over the MinHash-LSH pairs (== exact pairs, see d1), so
    // the recursive-CTE oracle over the exact pair graph is an exact
    // check of the whole chain: banding → verify → components.
    QueryDef("d4_neardup_clusters",
      ComponentsCte +
        "\nSELECT u AS doc_id, MIN(m) AS cluster_id FROM walk GROUP BY u ORDER BY doc_id") { (s, d) =>
      clusterPairs(minhashPairs(Tables.documents(s, d)).select("ia", "ib"))
    },

    // d10: DUPLICATE-MULTIPLICITY distribution — the dedup TELEMETRY
    // a corpus report leads with ("what fraction of the corpus is
    // duplicated, and at what multiplicities?"): cluster the near-dup
    // pairs (d4's machinery) and histogram the CLUSTER SIZES, with
    // singletons (unclustered docs) as the size-1 bin so the doc mass
    // sums back to the corpus. The histogram runs on cluster-count
    // rows (pairs-sized, tiny next to the corpus) after one
    // label-keyed aggregate; the corpus contributes only its total.
    QueryDef("d10_cluster_sizes",
      ComponentsCte +
        """,
          |comp AS (SELECT u, MIN(m) AS m FROM walk GROUP BY u),
          |sizes AS (SELECT m, COUNT(*) AS sz FROM comp GROUP BY m),
          |hist AS (
          |  SELECT sz, COUNT(*) AS n_clusters FROM sizes GROUP BY sz
          |  UNION ALL
          |  SELECT 1, (SELECT COUNT(*) FROM documents)
          |             - (SELECT COUNT(*) FROM comp))
          |SELECT CAST(sz AS BIGINT) AS sz,
          |       CAST(SUM(n_clusters) AS BIGINT) AS n_clusters,
          |       CAST(sz * SUM(n_clusters) AS BIGINT) AS n_docs
          |FROM hist GROUP BY sz ORDER BY sz""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val clusters = clusterPairs(minhashPairs(docs).select("ia", "ib"))
      val sizes = clusters.groupBy("cluster_id")
        .agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
      val nDocs = docs.count()
      val nClustered = clusters.count()
      val spark = s
      import spark.implicits._
      sizes
        .unionAll(Seq((1L, nDocs - nClustered)).toDF("sz", "n_clusters"))
        .groupBy("sz").agg(sum("n_clusters").as("n_clusters"))
        .withColumn("n_docs", col("sz") * col("n_clusters"))
        .orderedSmall(col("sz")) // distinct multiplicities: bounded
    },

    // The dedup pipeline's END PRODUCT: the surviving corpus after
    // near-dup collapse — every unclustered doc plus one
    // representative (min doc_id) per cluster. pairs → components →
    // anti-join is exactly what a 100 TB dedup job materializes.
    QueryDef("d5_dedup_survivors",
      ComponentsCte +
        """,
          |comp AS (SELECT u, MIN(m) AS m FROM walk GROUP BY u)
          |SELECT d.doc_id FROM documents d LEFT JOIN comp c ON c.u = d.doc_id
          |WHERE c.u IS NULL OR c.m = d.doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val clusters = clusterPairs(minhashPairs(docs).select("ia", "ib"))
      docs.select("doc_id")
        .join(clusters.filter(col("doc_id") =!= col("cluster_id")),
          Seq("doc_id"), "left_anti")
        .orderedRows(col("doc_id")) // survivors scale with corpus
    },

    // d5b: survivor selection by QUALITY — production near-dup dedup
    // keeps each cluster's best member (here: most tokens, doc_id
    // tie-break), not its minimum id. Scale shape: non-clustered docs
    // survive by definition, so the argmax window runs over the
    // CLUSTERED subset only (pairs-sized — tiny next to the corpus),
    // with the cluster labels broadcast both into the quality lookup
    // and the anti-join; the corpus itself never shuffles here beyond
    // what the pair/label computation already did.
    QueryDef("d5b_survivors_quality",
      ComponentsCte +
        """,
          |comp AS (SELECT u, MIN(m) AS m FROM walk GROUP BY u),
          |lab AS (SELECT d.doc_id, COALESCE(c.m, d.doc_id) AS cluster_id,
          |               LEN(STRING_SPLIT(d.text,' ')) AS n_tok
          |        FROM documents d LEFT JOIN comp c ON c.u = d.doc_id),
          |r AS (SELECT doc_id, ROW_NUMBER() OVER (
          |        PARTITION BY cluster_id ORDER BY n_tok DESC, doc_id) rn
          |      FROM lab)
          |SELECT doc_id FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      qualitySurvivors(docs, clusterPairs(minhashPairs(docs).select("ia", "ib")))
        .orderedRows(col("doc_id")) // survivors scale with corpus
    },

    // d3 gets the EXACT cosine-pair SQL as its oracle: the hyperplane
    // signatures are deterministic, the banding (geometry per
    // `embeddingNearDup`'s doc — 32×2-bit since r13, after the 10×
    // gate measured the old 20×3-bit geometry missing 26 near-
    // threshold pairs at sf1) recalls every ≥τ pair at every measured
    // SF including the 10× corpus, and exact in-stream cosine admits
    // no false positives — so the LSH output equals the exact pairs,
    // hash-proven per round. The SQL computes the dot product in DOUBLE with the
    // same ascending accumulation order as the CosineSim loop (DuckDB's
    // LIST_COSINE_SIMILARITY runs in float32 and disagrees in the 5th
    // decimal), and rounds before comparing like the Spark side.
    QueryDef("d3_embedding_neardup",
      """WITH v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
        |p AS (
        |  SELECT a.vec_id ia, b.vec_id ib,
        |         list_sum([a.e[i+1]*b.e[i+1] for i in range(len(a.e))]) /
        |         (sqrt(list_sum([x*x for x in a.e])) * sqrt(list_sum([x*x for x in b.e]))) AS sim0
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT ia, ib, ROUND(sim0, 5) AS sim FROM p
        |WHERE ROUND(sim0, 5) >= 0.45 ORDER BY ia, ib""".stripMargin) { (s, d) =>
      embeddingNearDup(Tables.embeddings(s, d))
    },

    // d7: SemDeDup — semantic (embedding-space) corpus dedup at the
    // cluster grain: k-means confines the pair search to within-
    // cluster (the ~k-fold pair-space cut that makes web-scale
    // semantic dedup tractable), exact cosine + components + min-id
    // survivors downstream. HYBRID oracle (the c9 pattern): the
    // engine snapshots its cluster ASSIGNMENTS, and DuckDB
    // independently re-derives the within-cluster exact-cosine pairs
    // (d3's formula), the recursive-CTE components (d4's), and the
    // survivor anti-join (d5's) from raw embeddings + that snapshot —
    // everything downstream of assignment is hash-certified, and the
    // assignment itself is deterministic by the a3/a6 ordered-sample
    // rule (parallelism independence spec'd).
    QueryDef("d7_semantic_dedup",
      s"""WITH RECURSIVE
         |a AS (SELECT * FROM read_parquet('$SemAssignSnapshot/*.parquet')),
         |v AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS e FROM embeddings),
         |va AS (SELECT v.vec_id, v.e, a.cluster FROM v JOIN a USING (vec_id)),
         |p0 AS (
         |  SELECT x.vec_id ia, y.vec_id ib,
         |         list_sum([x.e[i+1]*y.e[i+1] for i in range(len(x.e))]) /
         |         (sqrt(list_sum([t*t for t in x.e])) * sqrt(list_sum([t*t for t in y.e]))) AS sim0
         |  FROM va x JOIN va y ON x.cluster = y.cluster AND x.vec_id < y.vec_id),
         |pairs AS (SELECT ia, ib FROM p0 WHERE ROUND(sim0, 5) >= 0.45),
         |edges AS (SELECT ia AS u, ib AS v FROM pairs UNION SELECT ib, ia FROM pairs),
         |walk(u, m) AS (
         |  SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
         |  UNION
         |  SELECT e.u, w.m FROM edges e JOIN walk w ON w.u = e.v),
         |comp AS (SELECT u, MIN(m) AS m FROM walk GROUP BY u)
         |SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster
         |FROM a LEFT JOIN comp c ON c.u = a.vec_id
         |WHERE c.u IS NULL OR c.m = a.vec_id
         |ORDER BY a.vec_id""".stripMargin) { (s, d) =>
      val assigned = semanticAssignments(Tables.embeddings(s, d))
      writeSemSnapshotIfStale(d) {
        assigned.select(col("vec_id"), col("cluster").cast("long").as("cluster"))
          .write.mode("overwrite").parquet(SemAssignSnapshot)
      }
      semanticDedupSurvivors(assigned)
        .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
        .orderedRows(col("vec_id")) // survivors scale with corpus
    },

    // d8: BLOCKED EDIT-DISTANCE near-dup — the record-linkage family
    // the set-similarity ladder (Jaccard d1/l2, SimHash d2, embedding
    // d3/d7) doesn't cover: character-level edits, where a one-char
    // typo keeps Levenshtein small but can flip every shingle it
    // touches. The classic two-phase shape: a cheap BLOCKING key —
    // the 16-char length band COMBINED with a PassJoin segment
    // pigeonhole on the verify prefix (r12) — turns the quadratic
    // pair space into one equi-join shuffle whose blocks stay small
    // as the corpus grows, with ±1-band overlap on ONE side so
    // near-dups straddling a band border still meet;
    // then the expensive verifier, Levenshtein over a fixed 64-char
    // prefix (the bounded-cost variant a 100 TB pass must use, since
    // full-text DP is O(len²) per pair), runs in-stream on candidates
    // only. Both engines compute the identical key, so the oracle is
    // the same join + verify verbatim.
    QueryDef("d8_edit_distance_pairs",
      """WITH d AS (
        |  SELECT doc_id, text, n_chars // 16 AS lb FROM documents),
        |e AS (SELECT doc_id, text, lb, lb + u.off AS band
        |      FROM d CROSS JOIN UNNEST([-1, 0, 1]) AS u(off))
        |SELECT a.doc_id AS ia, b.doc_id AS ib,
        |  CAST(levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) AS BIGINT)
        |    AS dist
        |FROM e a JOIN d b
        |  ON a.band = b.lb AND a.doc_id < b.doc_id
        |WHERE levenshtein(substr(a.text, 1, 64), substr(b.text, 1, 64)) <= 8
        |ORDER BY ia, ib""".stripMargin) { (s, d) =>
      val base = Tables.documents(s, d)
        .select(col("doc_id"), col("text"), expr("n_chars div 16").as("lb"))
      // symmetric ±1-band coverage with every qualifying pair meeting:
      // only side a explodes to {lb−1, lb, lb+1}, side b joins on its
      // own band — |Δband| ≤ 1 is matched at (band = lb_b).
      //
      // SECOND blocking key (r12; VERDICT r11 — the length bands alone
      // densify super-linearly as the corpus grows): the PassJoin-style
      // segment pigeonhole on the 64-char verify prefix. Partition the
      // prefix into k+1 = 9 fixed-position segments; if
      // lev(prefix(x), prefix(y)) ≤ k = 8, then ≤ 8 edits touch ≤ 8
      // segments, so AT LEAST ONE segment of x survives verbatim in y,
      // shifted by at most the ≤ 8 edits before it. Side a emits its 9
      // segments at their fixed positions; side b emits, per segment
      // index, every substring of that length starting within ±8 of
      // the fixed position (≤ 145 short keys/doc). Matching on
      // (band, segment index, content) is thus a NECESSARY condition
      // for a qualifying pair — no pair can be lost — while the
      // content part of the key scatters a length-peaked corpus that
      // used to share one band key: candidates now grow ~linearly,
      // and the high-cardinality key needs no skew salt.
      val Thresh = 8
      val segStarts = Array(1, 8, 15, 22, 29, 36, 43, 50, 57)
      val segLens = Array(7, 7, 7, 7, 7, 7, 7, 7, 8)
      // only the 64-char verify prefix is ever keyed or carried.
      // fanOut (r15, guide §2.6): the corpus parquet is a single row
      // group at bench SF, so without it the WHOLE candidate pipeline —
      // the ±1-band × 9-segment explode, the 145-key/doc pigeonhole
      // explode, the equi-join probe and the Levenshtein verify —
      // pipelined onto ONE task while 31 cores idled (measured: the
      // probe stage was the d8 wall). At real scale the scan already
      // splits and fanOut is a no-op decision.
      val pre = base.select(col("doc_id"), col("lb"),
        substring(col("text"), 1, 64).as("p64")).fanOut
      val segArr = array(segStarts.indices.map(i =>
        struct(lit(i).as("i"),
          substring(col("p64"), segStarts(i), segLens(i)).as("seg"))): _*)
      val a = pre.select(col("doc_id").as("ia"), length(col("p64")).as("la"),
          explode(array(col("lb") - 1, col("lb"), col("lb") + 1)).as("band"),
          segArr.as("segs"))
        .select(col("ia"), col("la"), col("band"), explode(col("segs")).as("sg"))
        .select(col("ia"), col("la"), col("band"),
          col("sg.i").as("i"), col("sg.seg").as("seg"))
      // side b keeps each substring's position: a surviving segment's
      // shift δ = p − start(i) obeys |δ| + |Δ − δ| ≤ k (Δ = prefix
      // length difference; edits before it account for |δ|, edits after
      // it for the rest of Δ) — a pure-arithmetic post-join filter that
      // halves the candidate stream before it is ever shuffled
      val subArr = array((for {
        i <- segStarts.indices
        p <- math.max(1, segStarts(i) - Thresh) to (segStarts(i) + Thresh)
      } yield struct(lit(i).as("i"), lit(p - segStarts(i)).as("delta"),
          substring(col("p64"), p, segLens(i)).as("seg"))): _*)
      val b = pre.select(col("doc_id").as("ib"), length(col("p64")).as("lbp"),
          col("lb").as("band"), explode(subArr).as("sg"))
        .select(col("ib"), col("lbp"), col("band"),
          col("sg.i").as("i"), col("sg.delta").as("delta"), col("sg.seg").as("seg"))
      val candidates = a.join(b, Seq("band", "i", "seg"))
        .filter(col("ia") < col("ib"))
        .filter(abs(col("delta")) +
          abs(col("lbp") - col("la") - col("delta")) <= Thresh)
        // a pair can match at several (segment, position) keys — dedup
        // on the 16-byte id pair BEFORE the expensive verify, then pull
        // the two prefixes back from the (doc-count-sized) base table:
        // the wide candidate stream never carries text
        .select("ia", "ib").dropDuplicates("ia", "ib")
      candidates
        .join(pre.select(col("doc_id").as("ia"), col("p64").as("ta")), "ia")
        .join(pre.select(col("doc_id").as("ib"), col("p64").as("tb")), "ib")
        // THRESHOLD Levenshtein: the banded O(k·n) DP (Ukkonen) that
        // abandons a pair the moment its distance provably exceeds 8
        // and returns −1 — ~8× less work than the full O(n²) table on
        // the overwhelmingly-dissimilar candidate majority. Output is
        // identical to full-DP-then-filter (the oracle's form): every
        // surviving pair's distance is exact.
        .withColumn("dist",
          levenshtein(col("ta"), col("tb"), Thresh).cast("long"))
        .filter(col("dist") >= 0 && col("dist") <= Thresh)
        .select("ia", "ib", "dist")
        .orderedRows(col("ia"), col("ib")) // pairs scale with corpus
    }
  )

}
