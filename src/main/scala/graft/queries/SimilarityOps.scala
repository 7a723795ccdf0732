package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.SmallOrdered
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the embeddings table (ARRAY<FLOAT>, 64-d).
  * a1 is the exact brute-force baseline (oracle-checked); a2 is the
  * random-hyperplane LSH scale path — signatures are per-row
  * expressions, candidates come from bucket equi-joins, and exact
  * cosine re-ranks only the candidates. Recall vs a1 is asserted in
  * SimilarityOpsSpec.
  */
object SimilarityOps {

  /** Exact top-k neighbors for each query vector — broadcast-and-scan
    * kernel (graft.functions.VectorOps), queries broadcast, candidate
    * scan partition-parallel in primitive loops. */
  def annExact(emb: DataFrame, nQueries: Int = 10, k: Int = 5): DataFrame =
    graft.functions.VectorOps.annTopK(emb, nQueries, k)

  /** LSH ANN: candidates share one of `nBands` signature slices of
    * `bandBits` bits; exact cosine re-ranks candidates only.
    *
    * Band width trades candidate-set size against recall at the target
    * similarity: near-dup workloads (cos ≥ 0.9, bits agree w.p. ~0.9)
    * take wide bands (8 bits); moderate-similarity top-1 search
    * (cos ≈ 0.5 → bits agree w.p. ~2/3) needs narrow bands — 8×2 bits
    * here — because P(8-bit slice matches) ≈ (2/3)^8 ≈ 4%. */
  /** Banded signature frame (vec_id, v, nrm, b, h) — shared by the
    * ANN search and the embedding near-dup join (DedupOps). Band rows
    * come straight out of the typed flatMap as primitive tuples (one
    * JIT'd pass computes the signature AND slices the bands); the
    * earlier HOF explode interpreted a struct constructor per band and
    * re-copied the 64-d vector through the expression evaluator. */
  def withBands(emb: DataFrame, nBands: Int, bandBits: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val mask = (1L << bandBits) - 1
    val nBits = nBands * bandBits
    emb.select(col("vec_id"), col("embedding"))
      .fanOut // single-row-group scan: spread the hyperplane kernel
      .as[(Long, Array[Float])](graft.Enc.longFloatArr)
      .flatMap { case (id, e) =>
        // float→double widening in the same JIT'd loop (the Catalyst
        // transform(...cast...) HOF form interprets per element)
        val v = new Array[Double](e.length)
        var i = 0
        while (i < e.length) { v(i) = e(i); i += 1 }
        val sig = graft.functions.HashOps.hyperplaneSig(v, nBits)
        // the packed signature rides every band row (8 bytes): join
        // consumers dedupe multi-band collisions in-stream with
        // FirstBandMatch instead of a post-join distinct
        Iterator.tabulate(nBands)(b =>
          (id, v, sig, b, (sig >>> (b * bandBits)) & mask))
      }(graft.Enc.longDoubleArrLongIntLong)
      .toDF("vec_id", "v", "sig", "b", "h")
  }

  /** IDs-only band rows (vec_id, b, h) — the scale form of `withBands`
    * for wide vectors / high band counts, where amplifying the vector
    * through the band shuffle dominates; pairs re-attach vectors via
    * `unitWidened`. Same signatures, same candidate set. */
  /** `spread=false` (r16): epoch folds run this on micro-batch frames
    * — see the bandedSigs note in DedupOps (per-core epoch-file
    * shredding + fanOut's RDD-fallback planning pass on non-file
    * frames); a micro-batch keeps its source partitioning. */
  def withBandIds(emb: DataFrame, nBands: Int, bandBits: Int,
      spread: Boolean = true): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val mask = (1L << bandBits) - 1
    val nBits = nBands * bandBits
    val projected = emb.select(col("vec_id"), col("embedding"))
    (if (spread) projected.fanOut else projected)
      .as[(Long, Array[Float])](graft.Enc.longFloatArr)
      .flatMap { case (id, e) =>
        val v = new Array[Double](e.length)
        var i = 0
        while (i < e.length) { v(i) = e(i); i += 1 }
        val sig = graft.functions.HashOps.hyperplaneSig(v, nBits)
        Iterator.tabulate(nBands)(b =>
          (id, sig, b, (sig >>> (b * bandBits)) & mask))
      }(graft.Enc.longLongIntLong)
      .toDF("vec_id", "sig", "b", "h")
  }

  /** (vec_id, v) with float→double widening — the re-attach side for
    * the IDs-only band form. */
  def unitWidened(emb: DataFrame, spread: Boolean = true): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val projected = emb.select(col("vec_id"), col("embedding"))
    (if (spread) projected.fanOut else projected)
      .as[(Long, Array[Float])](graft.Enc.longFloatArr)
      .map { case (id, e) =>
        val v = new Array[Double](e.length)
        var i = 0
        while (i < e.length) { v(i) = e(i); i += 1 }
        (id, v)
      }(graft.Enc.longDoubleArr)
      .toDF("vec_id", "v")
  }

  /** Band joins amplify every vector ×nBands through the shuffle; the
    * IDs-only form ships (id, b, h) rows and re-attaches vectors with
    * one join per pair side. Measured at bench SF (64-d): carrying
    * vectors wins up to the current band counts — the re-attach joins
    * cost two extra exchanges that dwarf the ~16× amplification of
    * sub-KB vectors — and loses once bands × dim passes ~4096 doubles
    * (e.g. 768-d embeddings × 16 bands), where amplified bytes
    * dominate. The switch keys on that product; `dim` defaults to the
    * test corpus width and callers with production widths pass theirs. */
  private[queries] val CarryVectorsMaxAmplifiedDoubles = 4096

  def annLsh(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nBands: Int = 8, bandBits: Int = 2, dim: Int = 64,
      carryVectors: Option[Boolean] = None): DataFrame = {
    graft.functions.CosineSim.register(emb.sparkSession)
    val carry = carryVectors.getOrElse(
      nBands.toLong * dim <= CarryVectorsMaxAmplifiedDoubles)
    graft.functions.FirstBandMatch.register(emb.sparkSession)
    val firstMatch = (a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column) =>
      graft.functions.FirstBandMatch.first_band_match(a, b, bandBits, nBands)
    val scored =
      if (carry) {
        // Cosine runs in-stream on the band-join output; multi-band
        // collisions dedupe IN-STREAM via the first-matching-band test
        // (r14, the d3 reshape): duplicate visits die on a bit loop
        // before the dot product, and the old distinct over
        // (qid, cid, sim) triples — a shuffle of the whole collision
        // stream — disappears. No cache: the signature pass is a JIT'd
        // typed map over the embeddings scan, cheaper to recompute per
        // side than to materialize.
        val banded = withBands(emb, nBands, bandBits)
        val q = banded.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("qid"), col("v").as("qv"),
            col("sig").as("qsig"), col("b"), col("h"))
        val c = banded.select(col("vec_id").as("cid"), col("v").as("cv"),
          col("sig").as("csig"), col("b"), col("h"))
        q.join(c, Seq("b", "h"))
          .filter(col("qid") =!= col("cid") &&
            firstMatch(col("qsig"), col("csig")) === col("b"))
          .select(col("qid"), col("cid"),
            graft.functions.CosineSim.cosine_sim(col("qv"), col("cv")).as("sim_raw"))
      } else {
        // IDs-only banding (wide vectors / many bands): candidates
        // dedupe in-stream as bare IDs (first-band test), then vectors
        // attach once per side. Identical candidates and scores —
        // asserted in SimilarityOpsSpec against the carrying form.
        val ids = withBandIds(emb, nBands, bandBits)
        val cand = ids.filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("qid"), col("sig").as("qsig"),
            col("b"), col("h"))
          .join(ids.select(col("vec_id").as("cid"), col("sig").as("csig"),
            col("b"), col("h")).hint("shuffle_hash"), Seq("b", "h"))
          .filter(col("qid") =!= col("cid") &&
            firstMatch(col("qsig"), col("csig")) === col("b"))
          .select("qid", "cid")
        val vv = unitWidened(emb)
        cand
          .join(vv.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
          .join(vv.select(col("vec_id").as("cid"), col("v").as("cv")), Seq("cid"))
          .select(col("qid"), col("cid"),
            graft.functions.CosineSim.cosine_sim(col("qv"), col("cv")).as("sim_raw"))
      }
    scored
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim_raw").desc, col("cid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("cid"),
        round(col("sim_raw"), 5).as("sim"))
      .orderedSmall(col("qid"), col("rnk"))
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer splits the
    * corpus into `nList` cells; every vector is indexed under its
    * nearest centroid and a query probes only its `nProbe` nearest
    * cells, with exact cosine re-ranking inside them. Complements the
    * LSH path: IVF gives a tunable touched-fraction (nProbe/nList of
    * the corpus per query) independent of a similarity threshold.
    * Vectors are L2-normalized before training and assignment so the
    * quantizer's euclidean geometry matches cosine ranking. The
    * quantizer trains on a BOUNDED sample collected to the driver
    * (standard IVF construction — the quantizer needs a sketch of the
    * density, and the nList × dim centroid table must be
    * broadcast-sized anyway; at 100 TB you sample ~100k vectors, train
    * once, and reuse), while assignment and probing stay fully
    * distributed. The default probes half the cells: the synthetic
    * embeddings are near-uniform in cosine space, where top-1 recall
    * tracks the probed fraction; real clustered embeddings reach the
    * same recall at much smaller nProbe/nList. */
  def annIvf(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      nList: Int = 16, nProbe: Int = 8, maxTrain: Int = 4096): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val unit = emb.select(col("vec_id"), col("embedding"))
      .fanOut // single-row-group scan: spread the normalize kernel
      .as[(Long, Array[Float])](graft.Enc.longFloatArr)
      .map { case (id, e) =>
        val u = new Array[Double](e.length)
        var s = 0.0
        var i = 0
        while (i < e.length) { u(i) = e(i); s += u(i) * u(i); i += 1 }
        val n = math.sqrt(s)
        if (n > 0) { i = 0; while (i < e.length) { u(i) /= n; i += 1 } }
        (id, u)
      }(graft.Enc.longDoubleArr).toDF("vec_id", "u")
    // coarse quantizer: seeded local Lloyd's on a bounded sample.
    // Sample = the maxTrain LOWEST vec_ids (a distributed TakeOrdered,
    // one pass, no full sort): selection is then a pure function of
    // the data, not of partition count — limit() after the fanOut
    // repartition changes with defaultParallelism, which made the
    // centers (and the whole index) differ between local[8] and
    // local[32]. A 100 TB build would hash-sample instead; any
    // deterministic rule works, order stability is the requirement.
    val sample = unit.orderBy(col("vec_id")).limit(maxTrain)
      .as[(Long, Array[Double])](graft.Enc.longDoubleArr)
      .collect().sortBy(_._1).map(_._2)
    val centers = graft.functions.VectorOps.kmeansFit(sample, nList, iters = 10)
    val bc = spark.sparkContext.broadcast(centers)
    def nearestCells(u: Array[Double], n: Int): Array[Int] = {
      val cs = bc.value
      val d2 = Array.tabulate(cs.length) { ci =>
        var s = 0.0; var i = 0
        val c = cs(ci)
        while (i < u.length) { val t = u(i) - c(i); s += t * t; i += 1 }
        (s, ci)
      }
      d2.sortBy(x => (x._1, x._2)).take(n).map(_._2)
    }
    val indexed = unit.as[(Long, Array[Double])](graft.Enc.longDoubleArr)
      .map { case (id, u) => (id, u, nearestCells(u, 1)(0)) }(
        graft.Enc.longDoubleArrInt)
      .toDF("cid", "cv", "cell")
    val probes = unit.as[(Long, Array[Double])](graft.Enc.longDoubleArr)
      .filter(_._1 < nQueries)
      .flatMap { case (id, u) => nearestCells(u, nProbe).map(c => (id, u, c)) }(
        graft.Enc.longDoubleArrInt)
      .toDF("qid", "qv", "cell")
    graft.functions.CosineSim.register(spark)
    probes.join(indexed.hint("shuffle_hash"), Seq("cell"))
      .filter(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.CosineSim.cosine_sim(col("qv"), col("cv")).as("sim_raw"))
      // no dedupe needed: each cid lives in exactly one cell, so a
      // (qid, cid) pair meets at most once across the probed cells
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim_raw").desc, col("cid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("cid"),
        round(col("sim_raw"), 5).as("sim"))
      .orderedSmall(col("qid"), col("rnk"))
  }

  /** a6: product-quantized ANN (PQ — Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011) — the
    * memory-bound regime's answer, completing the exact (a1) → LSH
    * (a2) → IVF (a3) ladder. The 64-d unit vector is split into `m`
    * subvectors, each quantized to its own `codeCount`-center codebook
    * (seeded Lloyd's on the same vec_id-ordered bounded sample as
    * a3 — deterministic, parallelism-independent): the index stores
    * m BYTES per vector instead of dim×8 — a 64× compression that is
    * what lets a 100 TB embedding corpus live in executor memory.
    * Search is ADC (asymmetric distance computation): each query
    * precomputes an m×codeCount lookup table of partial dot products
    * against the codebooks, and scoring an indexed vector is m table
    * lookups + adds — no decode, no float vector in the index at all.
    *
    * Scale shape: codebooks and query LUTs broadcast (bounded by
    * m×codeCount×subDim and nQueries×m×codeCount — index-size-
    * independent); encoding is ONE map pass over the corpus; scoring
    * is a flatMap over the byte-coded index with zero shuffle before
    * the tiny per-query top-k. Deterministic end-to-end (fixed seed
    * sample, fixed float association order, cid tie-break) ⇒ golden-
    * hash pinnable; recall vs the exact a1 ground truth is spec'd. */
  def annPq(emb: DataFrame, nQueries: Int = 10, k: Int = 5,
      m: Int = 8, codeCount: Int = 64, maxTrain: Int = 4096,
      rerankFactor: Int = 10): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val unit = emb.select(col("vec_id"), col("embedding"))
      .fanOut // single-row-group scan: spread the normalize kernel
      .as[(Long, Array[Float])](graft.Enc.longFloatArr)
      .map { case (id, e) =>
        val u = new Array[Double](e.length)
        var s = 0.0
        var i = 0
        while (i < e.length) { u(i) = e(i); s += u(i) * u(i); i += 1 }
        val n = math.sqrt(s)
        if (n > 0) { i = 0; while (i < e.length) { u(i) /= n; i += 1 } }
        (id, u)
      }(graft.Enc.longDoubleArr).toDF("vec_id", "u")
    // bounded deterministic training sample — the a3 selection rule
    val sample = unit.orderBy(col("vec_id")).limit(maxTrain)
      .as[(Long, Array[Double])](graft.Enc.longDoubleArr)
      .collect().sortBy(_._1).map(_._2)
    val dim = sample(0).length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val books: Array[Array[Array[Double]]] = Array.tabulate(m) { mi =>
      val s = sample.map(v => java.util.Arrays.copyOfRange(v, mi * sub, (mi + 1) * sub))
      graft.functions.VectorOps.kmeansFit(s, codeCount, iters = 10)
    }
    val bcBooks = spark.sparkContext.broadcast(books)
    val mm = m; val subW = sub // stable locals for the executor closures
    val encoded = unit.as[(Long, Array[Double])](graft.Enc.longDoubleArr)
      .map { case (id, u) =>
        val bs = bcBooks.value
        val out = new Array[Byte](mm)
        var mi = 0
        while (mi < mm) {
          val book = bs(mi)
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < book.length) {
            var d = 0.0; var j = 0
            val ctr = book(c)
            while (j < subW) { val t = u(mi * subW + j) - ctr(j); d += t * t; j += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          out(mi) = best.toByte
          mi += 1
        }
        (id, out)
      }(graft.Enc.longBytes)
      .toDF("cid", "code")
    // query LUTs: bounded by contract (nQueries × m × codeCount)
    val queries = unit.as[(Long, Array[Double])](graft.Enc.longDoubleArr)
      .filter(_._1 < nQueries).collect().sortBy(_._1)
    val luts: Array[(Long, Array[Array[Double]])] = queries.map { case (qid, qu) =>
      qid -> Array.tabulate(m) { mi =>
        val book = books(mi)
        Array.tabulate(book.length) { c =>
          var s = 0.0; var j = 0
          while (j < sub) { s += qu(mi * sub + j) * book(c)(j); j += 1 }
          s
        }
      }
    }
    val bcLuts = spark.sparkContext.broadcast(luts)
    // ADC shortlist: approximate scores rank a candidate pool per
    // query; EXACT cosine then re-ranks only the shortlist — the
    // standard PQ serving stack (the compressed index prunes, the
    // raw vectors are fetched for rerank× k rows per query only).
    val rerank = rerankFactor * k
    val shortlist = encoded.as[(Long, Array[Byte])](graft.Enc.longBytes)
      .flatMap { case (cid, code) =>
        bcLuts.value.iterator.collect { case (qid, lut) if qid != cid =>
          var s = 0.0; var mi = 0
          while (mi < mm) { s += lut(mi)(code(mi) & 0xff); mi += 1 }
          (qid, cid, s)
        }
      }(graft.Enc.longLongDouble)
      .toDF("qid", "cid", "adc")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc").desc, col("cid"))))
      .filter(col("rnk") <= rerank)
      .select("qid", "cid")
      // nQueries × rerank rows — bounded by contract, like a1's kernel
      .as[(Long, Long)](graft.Enc.longLong).collect()
    val byCid = shortlist.groupBy(_._2).map { case (c, qs) => c -> qs.map(_._1) }
    val bcShort = spark.sparkContext.broadcast(byCid)
    val bcQ = spark.sparkContext.broadcast(queries.toMap)
    unit.as[(Long, Array[Double])](graft.Enc.longDoubleArr)
      .flatMap { case (cid, u) =>
        bcShort.value.get(cid).iterator.flatten.map { qid =>
          val qu = bcQ.value(qid)
          var s = 0.0; var i = 0
          while (i < u.length) { s += qu(i) * u(i); i += 1 }
          (qid, cid, s)
        }
      }(graft.Enc.longLongDouble)
      .toDF("qid", "cid", "sim_raw")
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim_raw").desc, col("cid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("cid"),
        round(col("sim_raw"), 5).as("sim"))
      .orderedSmall(col("qid"), col("rnk"))
  }

  // ---------------------------------------------------------------
  // a12: PERSISTED ANN index + incremental maintenance (r14, VERDICT
  // r13 item 4). a2/a3/a6 rebuild their index per run; a daily-ingest
  // deployment (the d6/p3 shape) needs the index ON DISK with deltas
  // folded in. Layout: two bucketed tables per generation —
  // bands(vec_id, sig, b, h) and vecs(vec_id, v), both bucketed by
  // vec_id — a BASE generation built once from the standing corpus
  // and a DELTA generation re-folded from each ingest batch. The fold
  // computes band rows for the DELTA ONLY: the base tables are never
  // read, reshuffled, or rewritten (spec-pinned by file snapshot) —
  // at 100 TB the standing index is exactly the thing you cannot
  // afford to touch per batch. Serving unions the generations:
  // bucketed-by-vec_id layout makes the candidates→vectors attach
  // join shuffle-free on the index side (w1's lever), and the query
  // side broadcasts, so the index never moves at all.
  // ---------------------------------------------------------------

  // Process-private root (ADVICE r14, same defect as the LSH index):
  // the coherence guard below is JVM-local, so the on-disk
  // generations are too; deleted at exit.
  private lazy val AnnWarehouse = graft.TmpDirs.processRoot("graft_ann_index")
  /** exposed for the base-never-rewritten file-snapshot spec */
  private[graft] def annWarehousePath: String = AnnWarehouse
  private val annIndexSf =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The a12 corpus split: the standing corpus vs the "daily" ingest
    * batch (¼ of vectors, including query vec_ids 3 and 7 — serving
    * must cover delta-resident queries too). */
  private def annBaseFilter = col("vec_id") % 4 =!= 3

  private def writeAnnGeneration(s: org.apache.spark.sql.SparkSession, emb: DataFrame,
      suffix: String, nBands: Int, bandBits: Int): Unit = {
    // repartition BY THE BUCKET KEY before the bucketed write (r16,
    // guide §6): a bucketed writer emits one file per (task, bucket)
    // pair, and the kernel's fanOut left 32 writer tasks — measured
    // 220–256 parquet micro-files PER TABLE at bench SF, re-listed and
    // re-opened by every serve's broadcast builds (the measured
    // ~160 ms/build floor). Hash-repartitioning on the bucket column
    // uses the same Murmur3 family as the bucket assignment, so each
    // task holds exactly one bucket: 8 files per table. File count now
    // follows the BUCKET LAYOUT, not the writer's core count; at real
    // scale the same shuffle is what any bucketed write needs anyway.
    withBandIds(emb, nBands, bandBits)
      .repartition(8, col("vec_id"))
      .write.mode("overwrite")
      .option("path", s"$AnnWarehouse/bands_$suffix")
      .bucketBy(8, "vec_id").sortBy("vec_id")
      .saveAsTable(s"graft_ann_bands_$suffix")
    unitWidened(emb)
      .repartition(8, col("vec_id"))
      .write.mode("overwrite")
      .option("path", s"$AnnWarehouse/vecs_$suffix")
      .bucketBy(8, "vec_id").sortBy("vec_id")
      .saveAsTable(s"graft_ann_vecs_$suffix")
  }

  /** Build the BASE index once per (SF) — the standing corpus. */
  def ensureAnnIndexBase(s: org.apache.spark.sql.SparkSession, d: String,
      nBands: Int = 24, bandBits: Int = 2): Unit = synchronized {
    if (annIndexSf.get("base") == d &&
      s.catalog.tableExists("graft_ann_bands_base") &&
      s.catalog.tableExists("graft_ann_vecs_base")) return
    annIndexSf.remove("base")
    writeAnnGeneration(s, Tables.embeddings(s, d).filter(annBaseFilter),
      "base", nBands, bandBits)
    annIndexSf.put("base", d)
  }

  /** Fold one ingest batch into the DELTA generation. Reads and
    * writes ONLY delta rows — the base tables stay untouched (the d6
    * base-never-reshuffles contract, spec-pinned by file snapshot).
    * Idempotent per corpus: a fold runs once per INGEST BATCH, not
    * once per serve — re-serving an unchanged index is the common
    * case and must not rebuild the delta generation. */
  def foldAnnDelta(s: org.apache.spark.sql.SparkSession, d: String,
      nBands: Int = 24, bandBits: Int = 2): Unit = synchronized {
    if (annIndexSf.get("delta") == d &&
      s.catalog.tableExists("graft_ann_bands_delta") &&
      s.catalog.tableExists("graft_ann_vecs_delta")) return
    annIndexSf.remove("delta")
    writeAnnGeneration(s, Tables.embeddings(s, d).filter(!annBaseFilter),
      "delta", nBands, bandBits)
    annIndexSf.put("delta", d)
  }

  /** Serve exact top-k from the PERSISTED index (base ∪ delta): query
    * band rows broadcast against the on-disk band tables, first-band
    * in-stream dedupe, vectors attach bucket-aligned (no shuffle of
    * the index side), exact cosine re-rank. At a2's 24×2-bit geometry
    * the candidate set provably covers the exact top-5 (r13
    * measurement), so the serve shares a1's oracle. */
  def annServePersisted(s: org.apache.spark.sql.SparkSession, nQueries: Int = 10, k: Int = 5,
      nBands: Int = 24, bandBits: Int = 2): DataFrame =
    annServeFrom(s,
      s.table("graft_ann_bands_base")
        .unionByName(s.table("graft_ann_bands_delta")),
      s.table("graft_ann_vecs_base")
        .unionByName(s.table("graft_ann_vecs_delta")),
      nQueries, k, nBands, bandBits)

  /** The serve kernel over EXPLICIT persisted band/vector frames —
    * shared by the batch-delta form (a12) and the streaming
    * epoch-delta form (s25). */
  private def annServeFrom(s: org.apache.spark.sql.SparkSession,
      bands: DataFrame, vecs: DataFrame, nQueries: Int, k: Int,
      nBands: Int, bandBits: Int): DataFrame = {
    import graft.QueryDef.SmallOrdered
    graft.functions.CosineSim.register(s)
    graft.functions.FirstBandMatch.register(s)
    // FUSED query side (r16, VERDICT r15 item 5): the serve used to
    // broadcast the query band rows and the query vectors as two
    // separate builds and re-attach qv with a third join after the
    // candidate join. One broadcast now carries (qid, qsig, b, h, qv) —
    // a query's vector rides its ≤ nBands band rows (nQueries is
    // serve-request-sized by contract, so the widened rows stay tiny) —
    // which drops one broadcast-build job and one join per serve. The
    // inner attach is hinted shuffle_hash so it cannot plan a NESTED
    // broadcast build (that would give the job back). Candidates and
    // cosine inputs are unchanged: same band equi-join, same
    // first-band dedupe, same (qv, cv) pairs.
    val q = broadcast(bands.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("sig").as("qsig"),
        col("b"), col("h"))
      .join(vecs.filter(col("vec_id") < nQueries).hint("shuffle_hash")
        .select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid")))
    val cand = bands.select(col("vec_id").as("cid"), col("sig").as("csig"),
        col("b"), col("h"))
      .join(q, Seq("b", "h"))
      .filter(col("qid") =!= col("cid") &&
        graft.functions.FirstBandMatch.first_band_match(
          col("qsig"), col("csig"), bandBits, nBands) === col("b"))
      .select("qid", "cid", "qv")
    cand.join(vecs.select(col("vec_id").as("cid"), col("v").as("cv")),
        Seq("cid"))
      .select(col("qid"), col("cid"),
        graft.functions.CosineSim.cosine_sim(col("qv"), col("cv")).as("sim_raw"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim_raw").desc, col("cid"))))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk").cast("long").as("rnk"), col("cid"),
        round(col("sim_raw"), 5).as("sim"))
      .orderedSmall(col("qid"), col("rnk"))
  }

  /** Offline COMPACTION — w4's lever applied to the index: fold the
    * standing base and the accumulated delta into ONE new bucketed
    * generation (a single read of each side, one write, run when the
    * delta's small-file count starts to tax serving scans). Serving
    * from the compacted generation alone must equal serving from
    * base ∪ delta — a13 pins that with the same exact oracle. */
  def compactAnnIndex(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    synchronized {
      if (annIndexSf.get("compact") == d &&
        s.catalog.tableExists("graft_ann_bands_compact")) return
      annIndexSf.remove("compact")
      s.table("graft_ann_bands_base")
        .unionByName(s.table("graft_ann_bands_delta"))
        .repartition(8, col("vec_id")) // one file per bucket (r16, guide §6)
        .write.mode("overwrite")
        .option("path", s"$AnnWarehouse/bands_compact")
        .bucketBy(8, "vec_id").sortBy("vec_id")
        .saveAsTable("graft_ann_bands_compact")
      s.table("graft_ann_vecs_base")
        .unionByName(s.table("graft_ann_vecs_delta"))
        .repartition(8, col("vec_id")) // one file per bucket (r16, guide §6)
        .write.mode("overwrite")
        .option("path", s"$AnnWarehouse/vecs_compact")
        .bucketBy(8, "vec_id").sortBy("vec_id")
        .saveAsTable("graft_ann_vecs_compact")
      annIndexSf.put("compact", d)
    }

  // ---------------------------------------------------------------
  // Deletes/tombstones (r15): a production corpus index must RETRACT
  // vectors (takedowns, GDPR) without rewriting the standing
  // generations. The recipe is the CDC one (c9/c21) applied to the
  // index lifecycle: retractions land in a third, tombstone
  // generation — a tiny (vec_id) table — and serving anti-joins it
  // (broadcast: the tombstone set is takedown-sized, never
  // corpus-sized, so the index side still never shuffles).
  // Compaction is where the drop becomes PHYSICAL: the compacted
  // generation is (base ∪ delta) ⟕̸ tombstones, after which the
  // tombstone table can be truncated — a15 serves from the compacted
  // generation alone against the same exact oracle, and the spec
  // checks the compacted files contain zero retracted ids.
  // ---------------------------------------------------------------

  /** The takedown rule for a14/a15: every tenth vector is retracted
    * (hits both base and delta residents, and query vec_id 6 — a
    * deleted vector must stop being servable as a query too). */
  private def annTombFilter = col("vec_id") % 10 === 6

  /** Fold the retraction batch into the tombstone generation — only
    * the tombstone table is written; base and delta stay untouched
    * (same file-snapshot contract as the delta fold). */
  def foldAnnTombstones(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    synchronized {
      if (annIndexSf.get("tombs") == d &&
        s.catalog.tableExists("graft_ann_tombs")) return
      annIndexSf.remove("tombs")
      Tables.embeddings(s, d).filter(annTombFilter).select("vec_id")
        .repartition(8, col("vec_id")) // one file per bucket (r16, guide §6)
        .write.mode("overwrite")
        .option("path", s"$AnnWarehouse/tombs")
        .bucketBy(8, "vec_id").sortBy("vec_id")
        .saveAsTable("graft_ann_tombs")
      annIndexSf.put("tombs", d)
    }

  /** a14: serve exact top-k from base ∪ delta MINUS the tombstones —
    * the logical delete. The tombstone table broadcasts into two
    * anti-joins on the index side; no generation is rewritten. */
  def annServeWithTombstones(s: org.apache.spark.sql.SparkSession,
      nQueries: Int = 10, k: Int = 5,
      nBands: Int = 24, bandBits: Int = 2): DataFrame = {
    val tombs = broadcast(s.table("graft_ann_tombs"))
    annServeFrom(s,
      s.table("graft_ann_bands_base")
        .unionByName(s.table("graft_ann_bands_delta"))
        .join(tombs, Seq("vec_id"), "left_anti"),
      s.table("graft_ann_vecs_base")
        .unionByName(s.table("graft_ann_vecs_delta"))
        .join(tombs, Seq("vec_id"), "left_anti"),
      nQueries, k, nBands, bandBits)
  }

  /** The re-embedding rule for a16: every seventh vector (hitting
    * base and delta residents, and query vec_ids 2 and 9) arrives
    * RE-EMBEDDED — deterministically, as the reversed vector, so the
    * oracle can derive the identical new version with LIST_REVERSE.
    * Model refreshes and document edits make this the third index
    * mutation a production lifecycle needs besides add (a12) and
    * retract (a14). */
  private def annUpsertFilter = col("vec_id") % 7 === 2

  /** Fold the re-embedding batch into the UPSERT generation — new
    * band rows and vectors for the re-embedded ids, in their own
    * tables; base and delta stay untouched (the same file-snapshot
    * contract as the delta/tombstone folds). An upsert is
    * delete + add with ONE id set: serving masks the old versions by
    * anti-join and unions the new generation. */
  def foldAnnUpserts(s: org.apache.spark.sql.SparkSession, d: String,
      nBands: Int = 24, bandBits: Int = 2): Unit = synchronized {
    if (annIndexSf.get("ups") == d &&
      s.catalog.tableExists("graft_ann_bands_ups") &&
      s.catalog.tableExists("graft_ann_vecs_ups")) return
    annIndexSf.remove("ups")
    writeAnnGeneration(s,
      Tables.embeddings(s, d).filter(annUpsertFilter)
        .withColumn("embedding", reverse(col("embedding"))),
      "ups", nBands, bandBits)
    annIndexSf.put("ups", d)
  }

  /** a16: serve exact top-k with the upserts WINNING — old versions
    * of re-embedded ids are masked by a broadcast anti-join (the a14
    * move), the new versions union in from the upsert generation.
    * Queries with upserted ids serve their NEW vectors, because
    * queries come from the index frames themselves. */
  def annServeWithUpserts(s: org.apache.spark.sql.SparkSession,
      nQueries: Int = 10, k: Int = 5,
      nBands: Int = 24, bandBits: Int = 2): DataFrame = {
    val upsIds = broadcast(s.table("graft_ann_vecs_ups").select("vec_id"))
    annServeFrom(s,
      s.table("graft_ann_bands_base")
        .unionByName(s.table("graft_ann_bands_delta"))
        .join(upsIds, Seq("vec_id"), "left_anti")
        .unionByName(s.table("graft_ann_bands_ups")),
      s.table("graft_ann_vecs_base")
        .unionByName(s.table("graft_ann_vecs_delta"))
        .join(upsIds, Seq("vec_id"), "left_anti")
        .unionByName(s.table("graft_ann_vecs_ups")),
      nQueries, k, nBands, bandBits)
  }

  /** a15: compaction with PHYSICAL deletes — fold base ∪ delta minus
    * the tombstones into one new generation. After this runs, the
    * retracted vectors exist in no servable file (spec-pinned) and
    * serving needs no anti-join at all. */
  def compactAnnIndexWithDeletes(s: org.apache.spark.sql.SparkSession, d: String): Unit =
    synchronized {
      if (annIndexSf.get("compactdel") == d &&
        s.catalog.tableExists("graft_ann_bands_compactdel")) return
      annIndexSf.remove("compactdel")
      val tombs = broadcast(s.table("graft_ann_tombs"))
      s.table("graft_ann_bands_base")
        .unionByName(s.table("graft_ann_bands_delta"))
        .join(tombs, Seq("vec_id"), "left_anti")
        .repartition(8, col("vec_id")) // one file per bucket (r16, guide §6)
        .write.mode("overwrite")
        .option("path", s"$AnnWarehouse/bands_compactdel")
        .bucketBy(8, "vec_id").sortBy("vec_id")
        .saveAsTable("graft_ann_bands_compactdel")
      s.table("graft_ann_vecs_base")
        .unionByName(s.table("graft_ann_vecs_delta"))
        .join(tombs, Seq("vec_id"), "left_anti")
        .repartition(8, col("vec_id")) // one file per bucket (r16, guide §6)
        .write.mode("overwrite")
        .option("path", s"$AnnWarehouse/vecs_compactdel")
        .bucketBy(8, "vec_id").sortBy("vec_id")
        .saveAsTable("graft_ann_vecs_compactdel")
      annIndexSf.put("compactdel", d)
    }

  /** Serve from the delete-compacted generation alone (a15). */
  def annServeCompactedDeletes(s: org.apache.spark.sql.SparkSession,
      nQueries: Int = 10, k: Int = 5,
      nBands: Int = 24, bandBits: Int = 2): DataFrame =
    annServeFrom(s,
      s.table("graft_ann_bands_compactdel"),
      s.table("graft_ann_vecs_compactdel"),
      nQueries, k, nBands, bandBits)

  /** One streamed ingest batch → one EPOCH-KEYED delta generation
    * (the c11 exactly-once recipe: a replayed epoch OVERWRITES its own
    * directory instead of appending duplicates — idempotence
    * spec-pinned). Base tables untouched, as in [[foldAnnDelta]]. */
  private[queries] def foldAnnDeltaEpoch(batch: DataFrame, dir: String,
      nBands: Int = 24, bandBits: Int = 2): Unit = {
    // spread=false (r16): keep the micro-batch's own partitioning so
    // each epoch leaf is one file per source slice, not one per core
    withBandIds(batch, nBands, bandBits, spread = false)
      .write.mode("overwrite").parquet(s"$dir/bands")
    unitWidened(batch, spread = false)
      .write.mode("overwrite").parquet(s"$dir/vecs")
  }

  /** s25: STREAMING index maintenance — the a12 fold as a long-running
    * ingest. Each arriving micro-batch of embeddings folds into its
    * own epoch's delta generation inside foreachBatch; the base
    * generation is never read or rewritten; serving reads
    * base ∪ every delta epoch. Exactly-once: the checkpoint pins the
    * batch→epoch assignment and a replayed epoch rewrites its own
    * directory (c11's recipe). At 100 TB the shape is unchanged — the
    * standing index sits still while per-epoch deltas accumulate, and
    * a compaction job (w4's lever) can fold old epochs into base
    * offline. */
  def annIndexStreamServe(s: org.apache.spark.sql.SparkSession, d: String,
      nBatches: Int = 4, nQueries: Int = 10, k: Int = 5,
      nBands: Int = 24, bandBits: Int = 2): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    ensureAnnIndexBase(s, d, nBands, bandBits)
    // process-private, deleted at JVM exit (ADVICE r14)
    val streamDir = graft.TmpDirs.scratch("graft_ann_stream")
    val ckpt = graft.TmpDirs.scratch("graft_ann_stream_cp")
    // the ingest feed: the delta split arrives in vec_id order across
    // nBatches micro-batches (the finite-replay stand-in every
    // s-scenario uses; a deployment points readStream at its drop dir)
    val rows = Tables.embeddings(s, d).filter(!annBaseFilter)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])](graft.Enc.longFloatArr)
      .collect().sortBy(_._1)
    // empty-delta guard, as in lshIndexStreamServe: keep the
    // epoch=* glob total when no delta vectors exist
    if (rows.isEmpty)
      foldAnnDeltaEpoch(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")).limit(0),
        s"$streamDir/epoch=0", nBands, bandBits)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Array[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        foldAnnDeltaEpoch(batch, s"$streamDir/epoch=$epoch",
          nBands, bandBits)
      }
      .start()
    try {
      rows.grouped(math.max(1, (rows.length + nBatches - 1) / nBatches))
        .foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    annServeFrom(s,
      s.table("graft_ann_bands_base")
        .unionByName(s.read.parquet(s"$streamDir/epoch=*/bands")),
      s.table("graft_ann_vecs_base")
        .unionByName(s.read.parquet(s"$streamDir/epoch=*/vecs")),
      nQueries, k, nBands, bandBits)
  }

  // ---------------------------------------------------------------
  // s28: epoch compaction inside the STREAMING ANN lifecycle — the
  // s27 recipe (DedupOps) applied to s25's epoch generations, which
  // otherwise accumulate one directory per micro-batch forever (the
  // w4 small-files failure mode). Same watermark-keyed design: every
  // `compactEvery` batches the sink folds accumulated epochs plus any
  // prior compacted generation into compact=<epoch>, drops the folded
  // inputs, and serving selects the max compact key plus only epochs
  // above it. Base generation never touched.
  // ---------------------------------------------------------------

  /** Fold epochs into the watermark-keyed compacted generation —
    * [[EpochStore.compact]] with this index's leaves (shared with
    * s27's LSH store; replay- and crash-safe via the commit marker). */
  private[queries] def compactAnnEpochs(s: org.apache.spark.sql.SparkSession,
      dir: String, upTo: Long): Unit =
    EpochStore.compact(s, dir, upTo, Seq("bands", "vecs"))

  /** s28: s25's streaming ingest with in-lifecycle epoch compaction —
    * live generation count bounded by the interval; serving = base ∪
    * compacted ∪ epochs above the watermark; a1's exact oracle. */
  def annIndexStreamCompactServe(s: org.apache.spark.sql.SparkSession, d: String,
      nBatches: Int = 8, compactEvery: Int = 3, nQueries: Int = 10, k: Int = 5,
      nBands: Int = 24, bandBits: Int = 2): DataFrame = {
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    ensureAnnIndexBase(s, d, nBands, bandBits)
    val streamDir = graft.TmpDirs.scratch("graft_ann_stream_compact")
    val ckpt = graft.TmpDirs.scratch("graft_ann_stream_compact_cp")
    val rows = Tables.embeddings(s, d).filter(!annBaseFilter)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])](graft.Enc.longFloatArr)
      .collect().sortBy(_._1)
    if (rows.isEmpty)
      foldAnnDeltaEpoch(
        Tables.embeddings(s, d).select(col("vec_id"), col("embedding")).limit(0),
        s"$streamDir/epoch=0", nBands, bandBits)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val in = MemoryStream[(Long, Array[Float])]
    val q = in.toDF().toDF("vec_id", "embedding")
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, epoch: Long) =>
        foldAnnDeltaEpoch(batch, s"$streamDir/epoch=$epoch", nBands, bandBits)
        if ((epoch + 1) % compactEvery == 0)
          compactAnnEpochs(batch.sparkSession, streamDir, epoch)
      }
      .start()
    try {
      rows.grouped(math.max(1, (rows.length + nBatches - 1) / nBatches))
        .foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    } finally q.stop()
    annServeFrom(s,
      s.table("graft_ann_bands_base")
        .unionByName(s.read.parquet(
          EpochStore.servePaths(s, streamDir, "bands"): _*)),
      s.table("graft_ann_vecs_base")
        .unionByName(s.read.parquet(
          EpochStore.servePaths(s, streamDir, "vecs"): _*)),
      nQueries, k, nBands, bandBits)
  }

  /** Live generation count — exposed for the bounded-files spec. */
  private[graft] def annLiveGenerations(s: org.apache.spark.sql.SparkSession,
      dir: String): Int = EpochStore.liveGenerations(s, dir)

  /** The exact-top-k oracle — shared by a1 (the exact kernel) and a2
    * (LSH at agreement-grade recall, see a2's def). */
  private val ExactTop5OracleSql =
    """WITH scored AS (
      |  SELECT a.vec_id qid, b.vec_id cid,
      |         CAST(LIST_COSINE_SIMILARITY(a.embedding, b.embedding) AS DOUBLE) sim
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT qid, cid, sim,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rnk
      |  FROM scored)
      |SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, ROUND(sim,5) AS sim
      |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** a14/a15's oracle: exact top-5 over the LIVE corpus — every
    * retracted vector (vec_id % 10 = 6, the annTombFilter rule)
    * excluded from BOTH sides: deleted vectors must stop appearing as
    * results and as servable queries. 9 queries × 5 = 45 rows. */
  private val ExactTop5LiveOracleSql =
    """WITH live AS (SELECT * FROM embeddings WHERE vec_id % 10 <> 6),
      |scored AS (
      |  SELECT a.vec_id qid, b.vec_id cid,
      |         CAST(LIST_COSINE_SIMILARITY(a.embedding, b.embedding) AS DOUBLE) sim
      |  FROM live a JOIN live b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT qid, cid, sim,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rnk
      |  FROM scored)
      |SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, ROUND(sim,5) AS sim
      |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  /** a16's oracle: exact top-5 over the CURRENT corpus — re-embedded
    * vectors (vec_id % 7 = 2, the annUpsertFilter rule) replaced by
    * their new (reversed) versions on BOTH sides: a stale old vector
    * surviving as a result, or a query served with its old embedding,
    * breaks the hash. */
  private val ExactTop5UpsertOracleSql =
    """WITH cur AS (
      |  SELECT vec_id,
      |         CASE WHEN vec_id % 7 = 2 THEN LIST_REVERSE(embedding)
      |              ELSE embedding END AS embedding
      |  FROM embeddings),
      |scored AS (
      |  SELECT a.vec_id qid, b.vec_id cid,
      |         CAST(LIST_COSINE_SIMILARITY(a.embedding, b.embedding) AS DOUBLE) sim
      |  FROM cur a JOIN cur b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
      |ranked AS (
      |  SELECT qid, cid, sim,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rnk
      |  FROM scored)
      |SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, ROUND(sim,5) AS sim
      |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    QueryDef("a1_ann_exact", ExactTop5OracleSql) { (s, d) =>
      annExact(Tables.embeddings(s, d))
    },

    // a10: exact MAXIMUM INNER PRODUCT top-k (r12) — recommender
    // scoring (user · item): the ranking metric is the RAW dot
    // product, so a candidate's own magnitude is part of its score
    // and cosine indexes mis-rank it. Exact path = the a1 broadcast
    // scan with an unnormalized kernel (declared ground-truth-only,
    // like a1); the SCALE path is the norm-augmentation reduction —
    // append √(M²−‖x‖²) to each candidate and 0 to each query, and
    // MIPS becomes cosine search over the augmented vectors, served
    // by the existing hyperplane-LSH index (spec: the reduction's
    // ordering is IDENTICAL to exact dot on the real corpus, and
    // LSH-over-augmented attains the recall bound).
    QueryDef("a10_mips_exact",
      """WITH scored AS (
        |  SELECT a.vec_id qid, b.vec_id cid,
        |         CAST(LIST_INNER_PRODUCT(a.embedding, b.embedding) AS DOUBLE) ip
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < 10 AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT qid, cid, ip,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ip DESC, cid) rnk
        |  FROM scored)
        |SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, ROUND(ip,5) AS ip
        |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      graft.functions.VectorOps.mipsTopK(Tables.embeddings(s, d), 10, 5)
    },

    // a2 promoted to a1's FULL DuckDB oracle (r13, VERDICT r12 item
    // 6): at 24 OR-bands × 2 bits the LSH candidate set provably
    // contains every exact top-5 neighbor of this corpus — the
    // synthetic embeddings are near-uniform, so top-5 sims sit at
    // 0.3–0.4 where P(2-bit band match) ≈ 0.37 and 24 bands drive the
    // per-neighbor miss rate to (1−0.37)²⁴ ≈ 1.5e-5 — and the exact
    // re-rank then reproduces a1's kernel bit-for-bit. Agreement was
    // measured EXACT at sf0.001/0.01/0.1 (16 bands already suffice;
    // 24 is margin), and it is deterministic: the hyperplanes are
    // fixed hashes, so the hash-green is a property of the pinned
    // (corpus, params), not a lucky sample. Real near-dup workloads
    // (sim ≥ 0.9) reach the same recall at the 8-band default —
    // serving THIS low-sim regime is the expensive end of LSH, and
    // the candidate set stays bucketed (≈6N of N² pairs) even so.
    QueryDef("a2_ann_lsh", ExactTop5OracleSql) { (s, d) =>
      annLsh(Tables.embeddings(s, d), nBands = 24)
    },

    // a11: queries-as-DATAFLOW exact ANN serving (r13, VERDICT r12
    // item 5) — batch-score a 10⁴-row QUERY TABLE against the corpus
    // with zero driver-side shortlist materialization. The query table
    // is built as a DataFrame (each corpus vector replicated under 20
    // deterministic rotations — norm-preserving, reproducible in SQL
    // on both engines, capped at exactly 10⁴ rows) and rides a
    // broadcast (~5 MB of vectors — the same build-side ship a
    // broadcast join performs); candidates stream through their scan
    // tasks, each keeping a Q×k slot matrix (VectorOps.serveTopK), so
    // the exchange carries partitions·Q·k shortlist rows, never the
    // Q·N scored pairs. Ranking is on the ROUNDed score (both engines)
    // so float last-ulp noise cannot reorder 5·10⁴ rank rows. At
    // 100 TB the same plan serves a query table of any size: queries
    // broadcast — or, past broadcast size, split into qid-ordered
    // blocks with one candidate scan per block (serveTopK's blockRows,
    // blocked ≡ unblocked spec-pinned; a bucket JOIN is wrong in this
    // low-sim regime, see serveTopK's note) — and candidates never
    // leave their scan tasks until they are k-row shortlists.
    QueryDef("a11_ann_serve",
      """WITH reps AS (SELECT range AS j FROM range(0, 20)),
        |q AS (SELECT vec_id*20 + j AS qid,
        |             list_concat(embedding[j+1:64], embedding[1:j]) AS qv
        |      FROM embeddings, reps WHERE vec_id*20 + j < 10000),
        |scored AS (SELECT qid, b.vec_id cid,
        |             ROUND(LIST_COSINE_SIMILARITY(CAST(qv AS DOUBLE[]),
        |                     CAST(b.embedding AS DOUBLE[])), 5) sim
        |           FROM q CROSS JOIN embeddings b),
        |ranked AS (SELECT qid, cid, sim,
        |             ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rnk
        |           FROM scored)
        |SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, sim
        |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val reps = s.range(0, 20).select(col("id").as("j"))
      val queries = emb.crossJoin(reps)
        .filter(col("vec_id") * 20 + col("j") < 10000)
        .select((col("vec_id") * 20 + col("j")).as("qid"),
          expr("concat(slice(embedding, cast(j+1 as int), cast(size(embedding)-j as int))," +
            " slice(embedding, 1, cast(j as int)))").as("qv"))
      graft.functions.VectorOps.serveTopK(queries, emb, 5)
    },

    // a3 promoted to a1's FULL DuckDB oracle (r14, VERDICT r13 item 2,
    // the a2 promotion path): at nProbe=14 of 16 cells the probed set
    // provably contains every exact top-5 neighbor of this corpus —
    // measured EXACT at sf0.001/0.01/0.1 (COVERAGE.md, ANN IVF row);
    // 15 is margin — and the in-cell scoring is already exact cosine.
    // The dial is honest about the regime: near-uniform synthetic
    // embeddings are IVF's worst case (top-5 sims 0.3–0.4 spread
    // across cells, so coverage needs most of them); real clustered
    // embeddings reach
    // the same recall at small nProbe/nList, which is what the
    // default-dial kernel (and its recall spec) continues to serve.
    QueryDef("a3_ann_ivf", ExactTop5OracleSql) { (s, d) =>
      annIvf(Tables.embeddings(s, d), nProbe = 15)
    },

    // a6 promoted the same way: at m=16 subspaces (4-d sub-quantizers)
    // the ADC ranking is tight enough that a rerank×k=100 shortlist
    // provably covers the exact top-5 — measured EXACT at all three
    // SFs with rerankFactor=20 (COVERAGE.md, ANN PQ row); 50 pins 2.5×
    // margin — and the re-rank stage outputs exact cosines. The m=8
    // default keeps the approximate regime honest in its recall spec.
    QueryDef("a6_ann_pq", ExactTop5OracleSql) { (s, d) =>
      annPq(Tables.embeddings(s, d), m = 16, rerankFactor = 50)
    },

    // a12: serving from the PERSISTED, incrementally-maintained index
    // (see the index section's doc above): base generation built once,
    // the delta batch folded WITHOUT touching base (file-snapshot
    // spec in PipelineOpsSpec), queries served from base ∪ delta —
    // exact top-5 over the WHOLE corpus is the oracle, so one stale
    // or missing index row anywhere breaks the hash.
    QueryDef("a12_ann_index_serve", ExactTop5OracleSql) { (s, d) =>
      ensureAnnIndexBase(s, d)
      foldAnnDelta(s, d)
      annServePersisted(s)
    },

    // s25: the a12 deployment's STREAMING half — index maintenance as
    // a long-running ingest (epoch-keyed delta generations inside
    // foreachBatch, base never touched, serving over base ∪ epochs;
    // doc at annIndexStreamServe). Same exact oracle as a12: one
    // missing or duplicated index row from any epoch breaks the hash.
    QueryDef("s25_ann_index_stream", ExactTop5OracleSql) { (s, d) =>
      annIndexStreamServe(s, d)
    },

    // s28: the long-running-ingest completion of s25 — epoch
    // compaction INSIDE the streaming lifecycle (the s27 recipe for
    // the ANN index; doc at annIndexStreamCompactServe): live
    // generation count bounded by the compaction interval instead of
    // one directory per micro-batch forever. Same exact oracle:
    // folding epochs must lose nothing and duplicate nothing.
    QueryDef("s28_ann_epoch_compact", ExactTop5OracleSql) { (s, d) =>
      annIndexStreamCompactServe(s, d)
    },

    // a13: the index lifecycle's last step — offline compaction (doc
    // at compactAnnIndex). Serving from the COMPACTED generation
    // alone, same exact oracle: compaction must lose nothing and
    // duplicate nothing.
    QueryDef("a13_ann_index_compact", ExactTop5OracleSql) { (s, d) =>
      ensureAnnIndexBase(s, d)
      foldAnnDelta(s, d)
      compactAnnIndex(s, d)
      annServeFrom(s, s.table("graft_ann_bands_compact"),
        s.table("graft_ann_vecs_compact"), 10, 5, 24, 2)
    },

    // a14: RETRACTIONS in the index lifecycle (the piece a12/a13 left
    // out — takedowns/GDPR): tombstones land in their own tiny
    // generation, serving anti-joins it broadcast-side (the standing
    // generations are still never read for the fold, never
    // rewritten). Oracle = exact top-5 over the live corpus, both
    // endpoints filtered — a deleted vector surviving as a result OR
    // as a query breaks the hash. Coverage note: deletions PROMOTE
    // full-corpus rank-6+ vectors into the live top-5, so the r13
    // full-corpus candidate-completeness measurement does not carry
    // over automatically — the post-delete coverage is re-measured
    // wherever the engine is gated (the exact-equality oracle at
    // sf0.001/0.01/0.1 and the 100× corpus, plus the spec's
    // logical ≡ physical ≡ exact-on-live equality), the same
    // per-corpus-measured status as the a2/a3/a6 promotions; a new
    // corpus re-certifies through the same gate before any claim.
    QueryDef("a14_ann_index_delete", ExactTop5LiveOracleSql) { (s, d) =>
      ensureAnnIndexBase(s, d)
      foldAnnDelta(s, d)
      foldAnnTombstones(s, d)
      annServeWithTombstones(s)
    },

    // a15: compaction makes the delete PHYSICAL — the compacted
    // generation is (base ∪ delta) minus tombstones, serving needs no
    // anti-join, and the retracted ids exist in no servable file
    // (file-level spec). Same live oracle as a14: logical and
    // physical deletes must serve identically.
    QueryDef("a15_ann_compact_deletes", ExactTop5LiveOracleSql) { (s, d) =>
      ensureAnnIndexBase(s, d)
      foldAnnDelta(s, d)
      foldAnnTombstones(s, d)
      compactAnnIndexWithDeletes(s, d)
      annServeCompactedDeletes(s)
    },

    // a16: UPSERTS in the index lifecycle (late r15) — the third
    // mutation besides add (a12) and retract (a14): model refreshes
    // and document edits RE-EMBED standing ids. The new versions fold
    // into their own generation (base/delta byte-untouched); serving
    // masks the old versions with a broadcast anti-join on the upsert
    // id set and unions the new generation in — delete + add with one
    // id set, atomic at serve time. Oracle = exact top-5 over the
    // corpus with the re-embedded vectors substituted on both sides
    // (same re-measured candidate-coverage status as a14: certified
    // by the exact-equality gate at every corpus it runs on).
    QueryDef("a16_ann_upsert", ExactTop5UpsertOracleSql) { (s, d) =>
      ensureAnnIndexBase(s, d)
      foldAnnDelta(s, d)
      foldAnnUpserts(s, d)
      annServeWithUpserts(s)
    },

    // a4: per-label embedding centroids — the vector-aggregate every
    // clustering / IVF-training / class-prototype pipeline needs.
    // Scale shape: posexplode expands each vector to (pos, value)
    // rows INSIDE the scan stage, and the hash aggregate's partial
    // step collapses them to labels × dims partials per mapper
    // before the exchange — the shuffle ships |labels|×64 rows per
    // mapper regardless of corpus size (the explode never hits the
    // wire). Sums run in double (float inputs are exact in double),
    // so the mean is order-independent up to the final rounding.
    QueryDef("a4_label_centroids",
      """SELECT label, i AS dim, CAST(COUNT(*) AS BIGINT) AS n,
        |       ROUND(AVG(CAST(embedding[i+1] AS DOUBLE)), 6) AS mu
        |FROM embeddings, UNNEST(range(0, 64)) u(i)
        |GROUP BY label, i ORDER BY label, i""".stripMargin) { (s, d) =>
      Tables.embeddings(s, d)
        .select(col("label"), posexplode(col("embedding")).as(Seq("dim", "v")))
        .groupBy(col("label"), col("dim").cast("long").as("dim"))
        .agg(count(lit(1)).as("n"),
          round(avg(col("v").cast("double")), 6).as("mu"))
        .orderedSmall(col("label"), col("dim"))
    },

    // a5: int8 scalar quantization of the embedding corpus — the
    // compression step an ANN serving layer applies before indexing
    // (4× smaller vectors, SIMD-friendly integer distance). Global
    // per-dimension [mn, mx] ranges; code = ⌊(x−mn)·255/(mx−mn)⌋,
    // constant dims pin to 0. Scale shape: pass 1 is a4's posexplode
    // partial aggregate (the 64× explosion collapses to dims×partials
    // per mapper before the exchange — min/max are exact selections,
    // no float-order concerns); the 64-row range table is collected
    // (bounded by DIMS, not corpus — the IVF-sample pattern) and
    // folded back as LITERAL arrays, so pass 2 is a pure per-row map
    // — quantize + integer audit stats via array HOFs — with NO
    // shuffle and no join. Both engines evaluate the same
    // left-associated double expression over the same float inputs,
    // and the audited outputs (code sum, saturation counts) are
    // integers, so the oracle check is exact — no rounding tolerance.
    QueryDef("a5_quantize_int8",
      """WITH e AS (SELECT vec_id, i, CAST(embedding[i+1] AS DOUBLE) AS x
        |           FROM embeddings, UNNEST(range(0, 64)) u(i)),
        |r AS (SELECT i, MIN(x) mn, MAX(x) mx FROM e GROUP BY 1),
        |c AS (SELECT vec_id,
        |        CASE WHEN mx > mn
        |             THEN CAST(FLOOR((x - mn) * 255.0 / (mx - mn)) AS BIGINT)
        |             ELSE 0 END AS code
        |      FROM e JOIN r USING (i))
        |SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
        |       CAST(COUNT(*) FILTER (WHERE code = 0) AS BIGINT) AS n_lo,
        |       CAST(COUNT(*) FILTER (WHERE code = 255) AS BIGINT) AS n_hi
        |FROM c GROUP BY 1 ORDER BY vec_id""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val ranges = emb
        .select(posexplode(col("embedding")).as(Seq("dim", "x")))
        .groupBy("dim")
        .agg(min(col("x").cast("double")).as("mn"),
          max(col("x").cast("double")).as("mx"))
        .orderBy("dim")
        .collect() // 64 rows — bounded by dims, not corpus
      val mn = array(ranges.map(r => lit(r.getDouble(1))).toSeq: _*)
      val mx = array(ranges.map(r => lit(r.getDouble(2))).toSeq: _*)
      val codes = transform(col("embedding"), (x, i) => {
        val lo = element_at(mn, i + 1)
        val hi = element_at(mx, i + 1)
        when(hi > lo,
          floor((x.cast("double") - lo) * lit(255.0) / (hi - lo)))
          .otherwise(lit(0L))
      })
      emb.select(col("vec_id"), codes.as("codes"))
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (acc, c) => acc + c).as("code_sum"),
          size(filter(col("codes"), _ === 0)).cast("long").as("n_lo"),
          size(filter(col("codes"), _ === 255)).cast("long").as("n_hi"))
        .orderedRows(col("vec_id")) // one row per vector: scales
    },

    // a7: k-NN MAJORITY-VOTE classification — the auto-labeling /
    // label-propagation primitive of a training-data pipeline: predict
    // each query vector's label from its 5 nearest neighbors' labels
    // (majority, ties → votes desc then label asc), audited against
    // the true label. Rides a1's exact top-k kernel (per-partition
    // heaps, broadcast queries — no N² shuffle); the vote/argmax
    // stages then operate on nQueries×k rows, and the label attach is
    // a plain keyed join (broadcast here; at corpus-scale query sets
    // it becomes the standard shuffle join on cid). The oracle
    // re-derives the whole chain — ranking, vote counts, argmax —
    // from raw embeddings in SQL.
    QueryDef("a7_knn_classify",
      """WITH scored AS (
        |  SELECT a.vec_id qid, a.label tl, b.vec_id cid, b.label nl,
        |         LIST_COSINE_SIMILARITY(a.embedding, b.embedding) sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < 50 AND a.vec_id <> b.vec_id),
        |ranked AS (
        |  SELECT qid, tl, nl,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rnk
        |  FROM scored),
        |votes AS (SELECT qid, tl, nl, COUNT(*) AS votes
        |          FROM ranked WHERE rnk <= 5 GROUP BY 1, 2, 3),
        |best AS (SELECT qid, tl, nl, votes,
        |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY votes DESC, nl) vr
        |         FROM votes)
        |SELECT qid, CAST(tl AS BIGINT) AS true_label,
        |       CAST(nl AS BIGINT) AS pred_label, CAST(votes AS BIGINT) AS votes
        |FROM best WHERE vr = 1 ORDER BY qid""".stripMargin) { (s, d) =>
      knnClassify(Tables.embeddings(s, d), nQueries = 50, k = 5)
        .orderedSmall(col("qid")) // nQueries rows: bounded
    },

    // a8: FILTERED vector search — top-k under a metadata predicate
    // (here: candidates restricted to label 1), the RAG/vector-DB
    // query shape every serving stack needs. The predicate PRE-filters
    // the candidate scan (it reaches the parquet reader as a pushed
    // filter), and the exact top-k kernel runs over survivors only —
    // the correct semantics AND the cheap plan; post-filtering an
    // unfiltered top-k would return < k (often 0) rows whenever the
    // filter is selective. Queries need not satisfy the filter.
    // a9: RANDOM-PROJECTION dimensionality reduction (r11) — the
    // Johnson–Lindenstrauss preprocessing step an embedding pipeline
    // runs before ANN indexing/storage: 64-d → 16-d via Achlioptas's
    // sparse sign matrix (entries +1/−1/0 with prob 1/6,1/6,2/3,
    // scaled √(3/k); Achlioptas JCSS'03 — database-friendly random
    // projections). The matrix is a PURE INTEGER FUNCTION of (i, j)
    // (no RNG state, no stored matrix): r = ((i·1000003 + j·37 + 17)
    // · 2654435761) mod 6 → {+1, −1, 0} — reproducible on any
    // executor at any parallelism, and re-derivable in SQL. Per-row
    // kernel, zero shuffle before the output sort; doubles are
    // IEEE-exact on both engines because BOTH evaluate the same
    // 64-term product sum as a strict LEFT fold in dimension order
    // (the q30 exact-double contract). Scale shape: 4× smaller
    // vectors for every downstream index; the projection streams
    // map-side at any corpus size.
    QueryDef("a9_random_projection", {
      def term(j: Int) =
        s"(CASE ((i*1000003 + $j*37 + 17) * 2654435761) % 6" +
          " WHEN 0 THEN 1.0 WHEN 1 THEN -1.0 ELSE 0.0 END)" +
          " * CAST(embedding[i+1] AS DOUBLE)"
      val cols = (0 until 16).map { j =>
        s"list_reduce(list_transform(generate_series(0, 63), i -> ${term(j)}),\n" +
          s"  (a, b) -> a + b) * sqrt(3.0/16.0) AS p$j"
      }.mkString(",\n  ")
      s"""SELECT vec_id,
         |  $cols
         |FROM embeddings ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      val k = 16
      val dims = 64
      val scale = math.sqrt(3.0 / 16.0)
      Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Array[Float])](graft.Enc.longFloatArr)
        .map { case (id, x) =>
          val y = new Array[Double](k)
          var j = 0
          while (j < k) {
            // strict left fold in dimension order — the oracle's
            // list_reduce does exactly this, so the doubles match
            // BITWISE (products of ±1/0 with exactly-widened floats,
            // identical addition order, correctly-rounded sqrt):
            // no ROUND needed, none taken
            var sAcc = 0.0
            var i = 0
            while (i < dims) {
              val r = ((i.toLong * 1000003L + j * 37L + 17L) * 2654435761L) % 6
              val m = if (r == 0) 1.0 else if (r == 1) -1.0 else 0.0
              val t = m * x(i)
              if (i == 0) sAcc = t else sAcc += t
              i += 1
            }
            y(j) = sAcc * scale
            j += 1
          }
          (id, y)
        }(graft.Enc.longDoubleArr)
        .select(col("_1").as("vec_id") +:
          (0 until k).map(j => col("_2").getItem(j).as(s"p$j")): _*)
        .orderedRows(col("vec_id")) // one row per vector: scales
    },

    QueryDef("a8_filtered_ann",
      """WITH scored AS (
        |  SELECT a.vec_id qid, b.vec_id cid,
        |         CAST(LIST_COSINE_SIMILARITY(a.embedding, b.embedding) AS DOUBLE) sim
        |  FROM embeddings a JOIN embeddings b
        |    ON a.vec_id < 10 AND a.vec_id <> b.vec_id AND b.label = 1),
        |ranked AS (
        |  SELECT qid, cid, sim,
        |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rnk
        |  FROM scored)
        |SELECT qid, CAST(rnk AS BIGINT) AS rnk, cid, ROUND(sim,5) AS sim
        |FROM ranked WHERE rnk <= 5 ORDER BY qid, rnk""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      graft.functions.VectorOps.annTopKOver(
        emb, emb.filter(col("label") === 1), nQueries = 10, k = 5)
    }
  )

  /** k-NN majority-vote label prediction over a (vec_id, embedding,
    * label) frame — see the a7 entry above for semantics and the
    * scale shape. */
  private[queries] def knnClassify(emb: DataFrame, nQueries: Int,
      k: Int): DataFrame = {
    val nn = graft.functions.VectorOps.annTopK(emb, nQueries, k)
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("l"))
    nn.join(labels.select(col("vec_id").as("cid"), col("l").as("nl")), "cid")
      .groupBy("qid", "nl")
      .agg(count(lit(1)).as("votes"))
      .withColumn("vr", row_number().over(
        Window.partitionBy("qid").orderBy(col("votes").desc, col("nl"))))
      .filter(col("vr") === 1)
      .join(labels.select(col("vec_id").as("qid"), col("l").as("true_label")), "qid")
      .select(col("qid"), col("true_label"), col("nl").as("pred_label"),
        col("votes"))
  }
}
