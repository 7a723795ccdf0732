package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.SmallOrdered
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-pipeline text surface L1–L5 (SURVEY.md §2.3) over `documents`
  * and `embeddings`. These are the *exact* paths (oracle-checked at
  * sf0.01); the approximate scale paths (MinHash-LSH, SimHash,
  * LSH-bucketed ANN) live in `DedupOps`/`SimilarityOps`.
  */
object TextOps {

  /** Exact shingle-Jaccard ≥ 0.8 pair SQL — the oracle for BOTH the
    * exact l2 operator and the MinHash-LSH scale path d1: at τ=0.8
    * d1's banding has (asserted) 100% recall and its verify step is
    * the exact Jaccard, so its output equals the exact pairs. */
  val JaccardPairsSql: String =
    """WITH tok AS (SELECT doc_id, STRING_SPLIT(text,' ') toks FROM documents),
      |shx AS (SELECT doc_id, UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(toks)-2),
      |              i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shingle FROM tok),
      |sh AS (SELECT DISTINCT doc_id, shingle FROM shx),
      |card AS (SELECT doc_id, COUNT(*) c FROM sh GROUP BY 1),
      |inter AS (SELECT a.doc_id ia, b.doc_id ib, COUNT(*) i
      |          FROM sh a JOIN sh b ON a.shingle=b.shingle AND a.doc_id < b.doc_id GROUP BY 1,2)
      |SELECT ia, ib, ROUND(i*1.0/(ca.c + cb.c - i), 4) AS j
      |FROM inter JOIN card ca ON ca.doc_id=ia JOIN card cb ON cb.doc_id=ib
      |WHERE i*1.0/(ca.c + cb.c - i) >= 0.8
      |ORDER BY ia, ib""".stripMargin

  /** Exact 3-token-shingle Jaccard ≥ τ pair join over any frame with
    * (doc_id LONG, text STRING) — the l2 operator's engine, exposed so
    * callers (and the randomized exactness spec) can run it on
    * arbitrary corpora. τ is fixed at 0.8: the integer prefix/length
    * bounds below are specialized to 4/5 (see prefixLen08).
    */
  def jaccardPairs(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Exact 3-token-shingle Jaccard ≥ τ=0.8 via prefix filtering
    // (the AllPairs/PPJoin family of exact set-similarity joins):
    // J(A,B) ≥ τ ⟹ |A∩B| ≥ ⌈τ·max(|A|,|B|)⌉ ≥ ⌈τ·|A|⌉, and the
    // smallest common shingle under a global total order must then
    // sit within each side's first |S| − ⌈τ|S|⌉ + 1 shingles. So the
    // inverted index holds only that ~20% prefix (hash order = the
    // global order), the self-join emits a small candidate set, and
    // exact verification (array_intersect on the full sorted sets)
    // touches candidates only. Same shape at 100 TB: prefix rows and
    // candidate IDs shuffle, never all shingle pairs.
    // Shingling runs in a typed map (JIT'd primitive loops): the
    // Catalyst HOF form interprets its lambda per element — measured
    // ~8× slower over the corpus (see graft.functions.HashOps). Not
    // cached: recompute is cheaper than array-column materialization,
    // and the self-join sides reuse one shuffle via ReuseExchange.
    // Shingles live as their 64-bit hash, not the ~20-byte string —
    // smaller shuffle (2^-64 collision odds; the oracle hash-compare
    // would surface one instantly).
    val s = docs.sparkSession
    import s.implicits._
    import graft.functions.HashOps
    // Prefix rows CARRY the full sorted hash set (the d1-documented
    // sets-on-the-wire tradeoff: ~|prefix|× volume vs IDs-only, bought
    // back by verifying IN-STREAM on the join output): the shingle
    // kernel runs ONCE, there is no sets subtree to broadcast and no
    // candidate→re-attach join pair, and duplicate candidates (a pair
    // sharing several prefix hashes) collapse on the finished scalar
    // triple — dedup AFTER the cheap verify beats a distinct+re-attach
    // round-trip at every measured SF. Prefix length
    // |S| − ⌈0.8|S|⌉ + 1 in integer arithmetic — double
    // ceil(0.8*35)=29 would silently shorten the prefix.
    val pref = docs
      .select(col("doc_id"), col("text"))
      .fanOut // single-row-group scan: spread the shingle kernel
      .as[(Long, String)](graft.Enc.longStr)
      .flatMap { case (id, text) =>
        val sh = HashOps.shingleHashes(text, 3)
        val pl = HashOps.prefixLen08(sh.length)
        Iterator.tabulate(math.min(pl, sh.length))(i => (id, sh, sh(i)))
      }(graft.Enc.longLongArrLong)
      .toDF("doc_id", "sh", "p")
    // Explicit repartition(p) on the full parallelism, not the session
    // shuffle default: the verify (array_intersect per candidate) runs
    // inside this join stage, and the sides are canonically identical
    // so they still share ONE exchange (ReuseExchange).
    val side = pref.repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col("p"))
    // Verify = one codegen'd merge walk over the sorted hash sets
    // (SortedIntersectSizeIfFirst): |A∩B| plus the PPJoin positional
    // dedup in the same pass — the result is -1 unless the joined
    // prefix hash is the SMALLEST common hash, so each surviving pair
    // appears exactly once and the old `.distinct()` exchange (and the
    // per-row hash set array_intersect built) are both gone.
    graft.functions.SortedIntersectSizeIfFirst.register(docs.sparkSession)
    import graft.functions.SortedIntersectSizeIfFirst.sorted_intersect_size_if_first
    side.select(col("doc_id").as("ia"), col("sh").as("sa"), col("p"))
      .join(side.select(col("doc_id").as("ib"), col("sh").as("sb"), col("p"))
        .hint("shuffle_hash"), Seq("p"))
      .filter(col("ia") < col("ib") &&
        expr("least(size(sa), size(sb)) >= (4 * greatest(size(sa), size(sb)) + 4) div 5"))
      .withColumn("i",
        sorted_intersect_size_if_first(col("sa"), col("sb"), col("p")))
      .filter(col("i") >= 0)
      .withColumn("jac", col("i") * lit(1.0) /
        (size(col("sa")) + size(col("sb")) - col("i")))
      .filter(col("jac") >= 0.8)
      .select(col("ia"), col("ib"), round(col("jac"), 4).as("j"))
      .orderedRows(col("ia"), col("ib")) // near-dup pairs scale with corpus
  }

  /** Corpus-level repeated-span removal — the C4 / MassiveText
    * "discard repeated spans across the corpus" pass (Raffel et al.
    * 2020 §2.2 dedup lines; adapted to this corpus' single-line docs
    * as non-overlapping k-token spans aligned to span boundaries).
    * The FIRST occurrence of each distinct span (by doc_id, span
    * index) survives; every later verbatim copy is dropped; survivors
    * reassemble in document order.
    *
    * Scale shape (the 100 TB design): two inherent shuffles, both
    * skew-safe.
    *  1. First-occurrence is `groupBy(span).agg(min(pos))` + a
    *     shuffle_hash join back on span. NOT a window: min() is
    *     map-side combined (a boilerplate span occurring 10⁹ times
    *     corpus-wide collapses to one partial per mapper and the agg
    *     exchange ships only distinct-span partials), and the hash
    *     join STREAMS the hot key's rows, where `min().over(span)`
    *     would buffer the whole span group in WindowExec memory and
    *     `row_number()` would sort it on one reducer. The span kernel
    *     runs once per consumer (twice total, over the reused fan-out
    *     exchange) — recompute over materialization, the same
    *     tradeoff l2 documents: a JIT'd split/slice pass costs less
    *     than caching a corpus-sized span column, and an explicit
    *     shared `repartition(span)` was measured to LOSE map-side
    *     combine (column pruning differs per branch, so ReuseExchange
    *     can't unify the two exchanges and the agg side ships the
    *     full uncombined stream).
    *  2. Reassembly groups by doc_id — per-group payload is bounded by
    *     document length, never by corpus size.
    * Spans travel as text (they're needed for reassembly anyway), so
    * the dedup key is the span itself — no hash-collision caveat. */
  def spanDedup(docs: org.apache.spark.sql.DataFrame, k: Int = 8): org.apache.spark.sql.DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Span kernel as a typed flatMap (JIT'd substring walk) — the
    // Catalyst transform(sequence(...), slice...) form interprets its
    // lambda per span and re-walks the token array per slice.
    val spans = docs
      .select(col("doc_id"), col("text"))
      .fanOut // single-row-group scan: spread the span kernel
      .as[(Long, String)](graft.Enc.longStr)
      .flatMap { case (id, text) =>
        val toks = text.split(' ')
        Iterator.tabulate((toks.length + k - 1) / k) { i =>
          val span = toks.slice(i * k, math.min((i + 1) * k, toks.length)).mkString(" ")
          (id, i.toLong, span)
        }
      }(graft.Enc.longLongStr)
      .toDF("doc_id", "ci", "span")
      .withColumn("pos", col("doc_id") * 1000000L + col("ci"))
    val first = spans.groupBy("span").agg(min("pos").as("fp"))
    spans
      .join(first.hint("shuffle_hash"), Seq("span"))
      .withColumn("keep", col("pos") === col("fp"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_spans"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(
          transform(
            filter(
              array_sort(collect_list(struct(col("ci"), col("keep"), col("span")))),
              x => x.getField("keep")),
            x => x.getField("span")),
          " ").as("clean_text"))
      .orderedRows(col("doc_id")) // one row per doc: scales with corpus
  }

  val defs: Seq[QueryDef] = Seq(

    QueryDef("l1_exact_dedup",
      """SELECT COUNT(*) AS total, COUNT(DISTINCT MD5(text)) AS uniq FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .agg(count(lit(1)).as("total"), countDistinct(md5(col("text"))).as("uniq"))
    },

    // The dedup MATERIALIZATION (not just the count): one surviving
    // doc_id per distinct content, keep-first policy. One hash-groupBy
    // — the same shape at any scale.
    QueryDef("l1b_dedup_keep_first",
      """SELECT MIN(doc_id) AS doc_id FROM documents
        |GROUP BY MD5(text) ORDER BY doc_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
        .orderedRows(col("doc_id")) // survivors scale with corpus
    },

    QueryDef("l2_jaccard_pairs", JaccardPairsSql) { (s, d) =>
      jaccardPairs(Tables.documents(s, d))
    },

    QueryDef("l3_cosine_topk",
      """WITH pairs AS (SELECT a.vec_id ia, b.vec_id ib,
        |  LIST_COSINE_SIMILARITY(a.embedding, b.embedding) sim
        |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
        |SELECT ia, ib, ROUND(CAST(sim AS DOUBLE),5) AS sim FROM pairs ORDER BY sim DESC, ia, ib LIMIT 20""".stripMargin) { (s, d) =>
      // Brute-force exact cosine top-k via the broadcast-and-scan
      // kernel (primitive loops; see VectorOps). Scale path =
      // SimilarityOps LSH bucketing; this is the ground-truth baseline.
      graft.functions.VectorOps.cosineTopKPairs(Tables.embeddings(s, d), 20)
    },

    QueryDef("l4_text_stats",
      """SELECT lang, COUNT(*) AS c, ROUND(AVG(n_chars),2) AS avg_chars,
        |       ROUND(AVG(LENGTH(STRING_SPLIT(text,' '))),2) AS avg_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .groupBy("lang")
        .agg(count(lit(1)).as("c"),
          round(avg("n_chars"), 2).as("avg_chars"),
          round(avg(size(split(col("text"), " ")).cast("double")), 2).as("avg_tokens"))
        .orderedSmall(col("lang"))
    },

    QueryDef("l5_tfidf_top3",
      """WITH tok AS (SELECT doc_id, source, UNNEST(STRING_SPLIT(text,' ')) term FROM documents),
        |tf AS (SELECT source, term, COUNT(*) tf FROM tok GROUP BY 1,2),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) n FROM documents),
        |scored AS (SELECT source, term, ROUND(tf * LN((SELECT n FROM n)*1.0/df), 6) s
        |           FROM tf JOIN df USING(term))
        |SELECT source, term, s FROM (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY s DESC, term) rn FROM scored) t
        |WHERE rn<=3 ORDER BY source, rn""".stripMargin) { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val nDf = docs.agg(count(lit(1)).as("n"))
      // DOC-GRAIN partials, not a token explode: one typed-kernel pass
      // emits (source, term, in-doc count) per distinct term per doc —
      // TF sums the counts by (source, term) and DF counts the rows by
      // term, both from the SAME stream (ReuseExchange shares the
      // fan-out shuffle), both map-side-combined down to vocabulary-
      // sized partials. The raw token stream never shuffles, so a hot
      // term ("the") costs nothing extra at 100× — the skew bomb of a
      // repartition-by-term plan, and the 2×-token-stream shuffle of
      // an explode + countDistinct plan, are both structurally gone.
      // tf⋈df is hintless: vocabulary-sized aggregate sides, never a
      // broadcast gamble on vocabulary growth.
      // No fanOut here: tokenizing 5k docs costs less than the two
      // stages a redistribution adds — the partial aggregate collapses
      // the kernel output to vocabulary-sized rows inside the scan
      // task either way. (At real scale the scan splits by file/row
      // group and the kernel is already parallel.)
      // The map-side combine runs INSIDE the kernel: emitting raw
      // (source, term, in-doc count) rows pushed 1.16M tuples through
      // the Dataset encoder at the 10× corpus, and that re-serialization
      // — not tokenizing — was ~0.5 s of l5's 0.7 s wall (decode+
      // tokenize 0.15 s, +row-encode 0.68 s; BASELINE.md §5b, r13
      // lever (c), and its §5c re-decomposition). Combining to
      // (source, term, tf, dfp) partials per PARTITION first bounds the
      // encoder traffic by vocabulary × partitions instead of Σ distinct
      // terms per doc — the same partial-aggregation Spark's hash agg
      // would do one operator later, done before the expensive boundary.
      // A doc never spans partitions, so dfp (+1 per doc containing the
      // term) is exact. The combine map is flushed whenever it exceeds
      // 2^19 keys, so a 100 TB vocabulary bounds MEMORY, not
      // correctness — downstream sums merge the flush chunks.
      val g1 = docs.select(col("doc_id"), col("source"), col("text"))
        .as[(Long, String, String)](graft.Enc.longStrStr)
        .mapPartitions { it =>
          // nested (source -> term -> [tf, dfp]): one source lookup per
          // DOC and one term lookup per distinct term per doc, reusing
          // the String hashCode termCounts already computed (a flat
          // tuple-keyed map re-hashes both strings and allocates a
          // Tuple2 per lookup — measured slower than the un-combined
          // kernel it was meant to replace)
          val outer =
            new java.util.HashMap[String, java.util.HashMap[String, Array[Long]]]()
          var nKeys = 0
          var flushed = List.empty[Iterator[(String, String, Long, Long)]]
          def drain(): Iterator[(String, String, Long, Long)] = {
            import scala.jdk.CollectionConverters._
            val snap = outer.entrySet().iterator().asScala.flatMap { se =>
              val src = se.getKey
              se.getValue.entrySet().iterator().asScala.map { te =>
                (src, te.getKey, te.getValue()(0), te.getValue()(1))
              }
            }.toArray
            outer.clear(); nKeys = 0
            snap.iterator
          }
          it.foreach { case (_, src, text) =>
            val inner = outer.computeIfAbsent(src,
              _ => new java.util.HashMap[String, Array[Long]]())
            graft.functions.HashOps.termCounts(text).foreach { case (t, c) =>
              var acc = inner.get(t)
              if (acc == null) { acc = new Array[Long](2); inner.put(t, acc); nKeys += 1 }
              acc(0) += c; acc(1) += 1
            }
            if (nKeys > (1 << 19)) flushed ::= drain()
          }
          (drain() :: flushed).iterator.flatten
        }(graft.Enc.strStrLongLong)
        .toDF("source", "term", "tf0", "dfp0")
        // One aggregation to (term, source) grain carries BOTH facts:
        // tf = Σ in-doc counts, dfp = #docs for the (term, source)
        // pair. Each doc has exactly one source, so df(term) = Σ_src
        // dfp — a window over term, NOT a tf⋈df self-join (whose two
        // consumer subtrees Catalyst prunes differently, defeating
        // ReuseExchange and running the tokenize stage twice).
        .groupBy("term", "source")
        .agg(sum("tf0").as("tf"), sum("dfp0").as("dfp"))
      // Ranking happens on the ROUNDed score (both sides) so float
      // last-ulp noise can't reorder the top-3.
      val scored = g1
        .withColumn("df", sum("dfp").over(Window.partitionBy("term")))
        .crossJoin(broadcast(nDf))
        .withColumn("s", round(col("tf") * log(col("n") * lit(1.0) / col("df")), 6))
      val w = Window.partitionBy("source").orderBy(col("s").desc, col("term"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .orderedSmall(col("source"), col("rn"))
        .select("source", "term", "s")
    },

    // l6: corpus-level repeated-span removal (C4-style line dedup at
    // token-span grain) — see `spanDedup` for semantics + scale shape.
    // The oracle mirrors the exact first-occurrence rule: min position
    // per span, keep iff this instance IS that position, reassemble
    // survivors in order (empty string for fully-deduplicated docs).
    QueryDef("l6_span_dedup",
      """WITH tok AS (SELECT doc_id, STRING_SPLIT(text,' ') AS w FROM documents),
        |sp AS (SELECT doc_id, i AS ci, array_to_string(w[i*8+1:i*8+8], ' ') AS span
        |       FROM tok, UNNEST(range(0, CAST(CEIL(LEN(w)/8.0) AS INT))) AS u(i)),
        |fst AS (SELECT span, MIN(doc_id*1000000 + ci) AS fp FROM sp GROUP BY span),
        |k AS (SELECT s.doc_id, s.ci, s.span,
        |             (s.doc_id*1000000 + s.ci) = f.fp AS keep
        |      FROM sp s JOIN fst f USING (span))
        |SELECT doc_id,
        |  CAST(COUNT(*) AS BIGINT) AS n_spans,
        |  CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
        |  COALESCE(STRING_AGG(span, ' ' ORDER BY ci) FILTER (WHERE keep), '') AS clean_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
      spanDedup(Tables.documents(s, d), 8)
    },

    // l7: CONTENT-DEFINED CHUNKING dedup (r11) — the storage-layer
    // dedup primitive (LBFS SOSP'01 / restic / data-lake blob dedup):
    // each document's byte stream splits at content-defined
    // boundaries (rolling 16-byte poly-31 window, cut when the low 6
    // bits are zero → ~64 B expected chunks; the unconstrained Rabin
    // rule — see HashOps.contentChunks), so an insertion early in a
    // file only re-chunks its neighborhood instead of shifting every
    // fixed-size block. Output is the corpus-wide chunk table:
    // (chunk_hash, len) → occurrence count + distinct docs — the
    // exact structure a dedup store keys its blobs by. The oracle
    // re-derives EVERY boundary and chunk hash from raw bytes in SQL
    // (per-position window hashes via hex-decoded list_reduce, chunk
    // segmentation via lag over boundary positions). Scale shape:
    // per-row chunking kernel, one (hash, len) group-by — the only
    // shuffle — over chunk-grain rows.
    QueryDef("l7_content_chunks", {
      val M = "18446744073709551616"
      val H = "9223372036854775808"
      def byte(q: String) =
        s"CAST(16*(strpos('0123456789ABCDEF', substr(hx, 2*($q)-1, 1))-1)" +
          s" + strpos('0123456789ABCDEF', substr(hx, 2*($q), 1))-1 AS HUGEINT)"
      s"""WITH d AS (
         |  SELECT doc_id, hex(encode(text)) AS hx,
         |         CAST(octet_length(encode(text)) AS BIGINT) AS n
         |  FROM documents WHERE octet_length(encode(text)) > 0),
         |pos AS (SELECT doc_id, hx, n, p.p AS p
         |        FROM d, UNNEST(generate_series(1, n)) AS p(p)),
         |wh AS (
         |  SELECT doc_id, hx, n, p,
         |    CASE WHEN p >= 16 THEN
         |      list_reduce(list_transform(generate_series(p - 15, p), q -> ${byte("q")}),
         |        (a, b) -> (a*31 + b) % $M)
         |    ELSE NULL END AS w
         |  FROM pos),
         |ends AS (
         |  SELECT doc_id, hx, p AS e FROM wh
         |  WHERE (w IS NOT NULL AND w % 64 = 0) OR p = n),
         |chunks AS (
         |  SELECT doc_id, hx,
         |    COALESCE(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) + 1 AS s, e
         |  FROM ends),
         |hashed AS (
         |  SELECT doc_id, CAST(e - s + 1 AS BIGINT) AS len,
         |    list_reduce(list_transform(generate_series(s, e), q -> ${byte("q")}),
         |      (a, b) -> (a*31 + b) % $M) AS hu
         |  FROM chunks)
         |SELECT CAST(CASE WHEN hu >= $H THEN hu - $M ELSE hu END AS BIGINT) AS chunk_hash,
         |  len, CAST(COUNT(*) AS BIGINT) AS n_occ,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |FROM hashed GROUP BY 1, 2 ORDER BY chunk_hash, len""".stripMargin
    }) { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .fanOut // single-row-group scan: spread the chunking kernel
        .as[(Long, String)](graft.Enc.longStr)
        .flatMap { case (id, text) =>
          graft.functions.HashOps.contentChunks(text).iterator
            .map { case (_, len, h) => (id, h, len) }
        }(graft.Enc.longLongInt)
        .toDF("doc_id", "chunk_hash", "len")
        .withColumn("len", col("len").cast("long"))
        .groupBy("chunk_hash", "len")
        .agg(count(lit(1)).as("n_occ"),
          countDistinct("doc_id").as("n_docs"))
        .orderedRows(col("chunk_hash"), col("len")) // chunk-grain: scales
    }
  )
}
