package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BM25 relevance scoring over a document corpus — the retrieval-side
  * text operator (quality filtering's sibling): score docs for a query
  * term set from corpus statistics only (term frequency, document
  * frequency, document length). Pure Catalyst plans.
  *
  * Scale shape: the corpus is scanned twice, once for the two global
  * scalars (N, Σdl — a one-row aggregate, broadcast via crossJoin like
  * the covariance pipeline's n), once tokenized+exploded with the
  * query-term filter applied BEFORE any shuffle — only postings of the
  * query's terms (|terms| · df rows) ever leave the map side, not the
  * corpus's full posting list.
  *
  * Cross-engine determinism (DuckDB-oracle-checkable): avgdl derives from
  * an exact integer sum; per-(doc,term) scores are closed-form doubles;
  * the per-doc total folds the term scores in sorted-term order
  * (`aggregate(array_sort(collect_list(...)))`) — a sequential IEEE fold
  * both engines reproduce bit-identically, unlike SUM() whose combine
  * order is nondeterministic. The final round(6) absorbs libm ulp
  * differences in ln().
  */
object Ranking {

  /** BM25 score per document for `queryTerms` (docs matching ≥1 term).
    * idf is the Lucene-style ln(1 + (N − df + ½)/(df + ½)) — always
    * positive; tf saturation k1, length normalization b.
    * Output: (doc_id, n_matched, bm25).
    */
  def bm25(docs: DataFrame, queryTerms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25: at least one query term")
    bm25Scored(bm25Base(docs, queryTerms), queryTerms, k1, b)
  }

  /** ONE tokenization pass: per doc keep only its length and the tokens
    * matching `terms` (filtered before materialization — a few tokens,
    * not the document). Cached: both the stats aggregate and the postings
    * explode read it; [[retrievalEval]] shares one base (built on the
    * UNION of its queries' terms) across the whole batch, so the corpus
    * is scanned once per batch, not once per query.
    */
  private def bm25Base(docs: DataFrame, terms: Seq[String]): DataFrame =
    InternalCaches.register(Dedup.rebalance(docs)
      .select(col("doc_id"), Dedup.tokens(col("text")).as("t"))
      .select(col("doc_id"), size(col("t")).cast("long").as("dl"),
        filter(col("t"), x => x.isin(terms: _*)).as("mt"))
      .cache())

  /** BM25 scoring over a prepared base whose `mt` arrays may carry a
    * SUPERSET of `queryTerms` (they are re-filtered here; df/idf/avgdl are
    * corpus-global either way, so scores are identical to a dedicated
    * base).
    */
  private def bm25Scored(base: DataFrame, queryTerms: Seq[String],
                         k1: Double, b: Double): DataFrame = {
    // global scalars from ONE aggregate row: exact integer arithmetic, so
    // avgdl is combine-order-independent
    val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    // postings of the query terms only — filtered map-side above, so only
    // |terms|·df rows enter the (doc_id, term) shuffle
    val postings = base
      .select(col("doc_id"), col("dl"),
        explode(filter(col("mt"), x => x.isin(queryTerms: _*))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = postings.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats)) // one row
      .withColumn("idf", log(lit(1.0) +
        (col("n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("sc", col("idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") /
          (col("sdl").cast("double") / col("n")))))
    scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matched"),
        round(aggregate(
          array_sort(collect_list(struct(col("term"), col("sc")))),
          lit(0.0d), (acc, x) => acc + x.getField("sc")), 6).as("bm25"))
  }

  /** DuckDB twin of [[bm25]] up to the per-(doc, term) scores, generated
    * from the same terms and constants: the CTEs `toks`, `stats`
    * ([[bm25CorpusCtes]]) and `postings`, `dfreq`, `sc`
    * ([[bm25TermCtes]]). [[bm25OracleAgg]] folds `sc` into the per-doc
    * rows.
    */
  private[graft] def bm25OracleCtes(queryTerms: Seq[String]): String =
    s"""$bm25CorpusCtes,
         ${bm25TermCtes(queryTerms, "")}"""

  /** The corpus statistics every [[bm25]] query shares: the CTEs `toks`
    * (whitespace tokens per doc) and `stats(n, sdl)` (doc count, exact
    * total length).
    */
  private[graft] def bm25CorpusCtes: String =
    s"""toks AS (
           SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), w -> w <> '') AS t
           FROM documents),
         stats AS (SELECT count(*)::BIGINT AS n, sum(len(t))::BIGINT AS sdl FROM toks)"""

  /** The per-query half of [[bm25OracleCtes]] over `toks` and `stats`:
    * the CTEs `postings<sfx>` (query terms only), `dfreq<sfx>` and
    * `sc<sfx>(doc_id, term, sc)`, with [[bm25]]'s default k1 and b.
    */
  private[graft] def bm25TermCtes(queryTerms: Seq[String], sfx: String,
                                  k1: Double = 1.2, b: Double = 0.75): String = {
    val in = queryTerms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""postings$sfx AS (
           SELECT doc_id, len(t)::BIGINT AS dl, x AS term, count(*)::BIGINT AS tf
           FROM toks, unnest(t) AS u(x)
           WHERE x IN ($in)
           GROUP BY 1, 2, 3),
         dfreq$sfx AS (SELECT term, count(*)::BIGINT AS df FROM postings$sfx GROUP BY term),
         sc$sfx AS (
           SELECT p.doc_id, p.term,
             ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * (p.tf * ($k1 + 1.0))
               / (p.tf + $k1 * (1.0 - $b + $b * p.dl / (s.sdl::DOUBLE / s.n))) AS sc
           FROM postings$sfx p JOIN dfreq$sfx d USING (term) CROSS JOIN stats s)"""
  }

  /** The per-doc fold of `sc<sfx>` ([[bm25TermCtes]]): (doc_id,
    * n_matched, bm25), term scores summed in sorted-term order as
    * [[bm25]] does.
    */
  private[graft] def bm25OracleAgg(sfx: String = ""): String =
    s"""SELECT doc_id, count(*)::BIGINT AS n_matched,
           round(list_reduce(list_prepend(0.0::DOUBLE,
               [z.sc for z in list_sort(list(struct_pack(term := term, sc := sc)))]),
             (a, h) -> a + h), 6) AS bm25
         FROM sc$sfx GROUP BY doc_id"""

  /** Global top-k by BM25 (ties broken by doc_id) — compiles to
    * TakeOrdered: per-partition heads, no full sort.
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25(docs, queryTerms, k1, b)
      .orderBy(col("bm25").desc, col("doc_id")).limit(k)

  /** Hybrid retrieval — the RAG-stack composition: BM25 retrieves a
    * lexical candidate set, an exact cosine rerank against a query
    * embedding orders the final answer. Both stages are existing verified
    * operators ([[bm25TopK]], [[Similarity.cosine]]); the composition is
    * the contract. Output keeps both signals (bm25, cos_sim) so a client
    * can blend instead of rerank-only.
    *
    * Scale shape: stage 1 is corpus-sized but moves only query-term
    * postings (see [[bm25]]); after its TakeOrdered the candidate set is
    * `kRetrieve` rows — broadcast to the embedding fact, so stage 2 reads
    * only the candidates' vectors (at 1000 executors: a broadcast-hash
    * semi-join against the embedding store, never a corpus-wide vector
    * scan — the whole point of retrieve-then-rerank). The query vector is
    * a broadcast 1-row frame.
    *
    * Determinism: bm25 is the round(6) sorted-term fold; cosine is the
    * fused sequential fold bit-identical to the oracle's
    * `list_dot_product`; both top-k cuts tie-break on doc_id.
    */
  def hybridSearch(docs: DataFrame, embeddings: DataFrame,
                   queryTerms: Seq[String], queryVecId: Long,
                   kRetrieve: Int, kFinal: Int): DataFrame = {
    val cand = bm25TopK(docs, queryTerms, kRetrieve)
      .filter(col("doc_id") =!= queryVecId) // the query's own doc is not an answer
    val qv = broadcast(embeddings.filter(col("vec_id") === queryVecId)
      .select(col("embedding").as("q_emb")))
    broadcast(cand)
      .join(embeddings.select(col("vec_id"), col("embedding")),
        col("doc_id") === col("vec_id"))
      .crossJoin(qv)
      .select(col("doc_id"), col("n_matched"), col("bm25"),
        round(Similarity.cosine(col("q_emb"), col("embedding")), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("doc_id")).limit(kFinal)
  }

  /** Boolean conjunctive retrieval: documents containing ALL of `must`
    * and NONE of `mustNot` — the filter-side retrieval next to [[bm25]]'s
    * scoring side. Inverted-index shape: tokens are filtered to the query
    * terms BEFORE any shuffle (postings of |must|+|mustNot| terms move,
    * never the corpus posting list); ALL-of is the classic
    * count-distinct-terms == |must| aggregate; NONE-of is a left-anti
    * join on the negative postings. Output keeps (doc_id, source) for
    * downstream mixture accounting.
    */
  def keywordSearch(docs: DataFrame, must: Seq[String],
                    mustNot: Seq[String] = Nil): DataFrame = {
    require(must.nonEmpty, "keywordSearch: at least one required term")
    val toks = docs.select(col("doc_id"),
      explode(Dedup.tokens(col("text"))).as("tok"))
    val hits = toks.filter(col("tok").isin(must: _*))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("k"))
      .filter(col("k") === must.size)
    val out = docs.join(hits, Seq("doc_id"), "left_semi")
    val neg =
      if (mustNot.isEmpty) out
      else out.join(
        toks.filter(col("tok").isin(mustNot: _*)).select(col("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    neg.select(col("doc_id"), col("source"))
  }

  /** Inverted-index CONSTRUCTION — the build side of [[keywordSearch]]/
    * [[bm25]]'s probe side: per token its document frequency, total term
    * frequency, and the posting list head (the `maxPostings` LOWEST
    * doc_ids, ascending) with a `truncated` flag — the deterministic
    * bounded-output contract every index builder at corpus scale needs
    * (a full posting list for a stopword is corpus-sized; the cap plus
    * accounting is the jaccardJoin `maxDf` discipline applied to output).
    *
    * Scale shape: one (token, doc) aggregation; the list head is a
    * row_number cut that Spark's WindowGroupLimit pushes below the
    * shuffle (partial top-k per map partition — only ≤ maxPostings rows
    * per (partition, token) cross the wire, the quota_sample plan shape);
    * collect_list then gathers at most `maxPostings` ids per token.
    */
  def postingLists(docs: DataFrame, maxPostings: Int = 20): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = InternalCaches.register(Dedup.rebalance(docs)
      .select(col("doc_id"), explode(Dedup.tokens(col("text"))).as("token"))
      .groupBy(col("token"), col("doc_id")).agg(count(lit(1)).as("n"))
      .cache()) // feeds stats AND the ranked head
    val stats = perDoc.groupBy(col("token"))
      .agg(count(lit(1)).as("df"), sum(col("n")).as("tf"))
    val w = Window.partitionBy(col("token")).orderBy(col("doc_id"))
    val head = perDoc
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= maxPostings)
      .groupBy(col("token"))
      .agg(sort_array(collect_list(col("doc_id"))).as("postings"))
    stats.join(head, Seq("token"))
      .select(col("token"), col("df"), col("tf"), col("postings"),
        (col("df") > maxPostings).as("truncated"))
  }

  /** Retrieval-quality evaluation (MRR family) over a query batch: for
    * each query, rank the [[bm25]]-scored docs by (bm25 DESC, doc_id) and
    * report the rank of the first RELEVANT doc — relevance judged
    * independently of the ranker as "contains every query term"
    * (n_matched = |terms|). Emits exact integers only: candidate count,
    * relevant count, first-relevant rank, and the reciprocal rank as a
    * e6 floor division (0s when nothing relevant); MRR is the client's
    * mean over query rows.
    *
    * Scale: NO ranking window — the first-relevant rank is computed as
    * 1 + |docs strictly ahead of the best relevant doc|, via two
    * aggregates and a broadcast 1-row frame per query, so nothing
    * corpus-sized is ever sorted. Queries fan out as independent
    * subplans (a handful), each moving only its own term postings.
    */
  def retrievalEval(docs: DataFrame, queries: Seq[(Long, Seq[String])]): DataFrame = {
    require(queries.nonEmpty, "retrievalEval: at least one query")
    require(queries.map(_._1).distinct.size == queries.size,
      "retrievalEval: query ids must be unique")
    require(queries.forall(_._2.nonEmpty), "retrievalEval: every query needs terms")
    // duplicate terms within one query would double-count n_matched and the
    // bm25 fold here (termQuery emits one row per listed term) while the
    // generated oracle's IN-list dedupes — reject instead of silently drifting
    require(queries.forall { case (_, ts) => ts.distinct.size == ts.size },
      "retrievalEval: terms within a query must be distinct")
    val spark = docs.sparkSession
    import spark.implicits._
    val (k1, b) = (1.2, 0.75)
    // ONE plan for the whole batch (not one subplan per query — at a real
    // batch size that multiplies every shuffle by |queries|): the corpus
    // is tokenized once over the UNION of terms, global df/idf computed
    // once per term, and a broadcast (term → query) table fans scored
    // postings out to their queries; everything after runs on
    // |queries|·df rows through one aggregation cascade.
    val base = bm25Base(docs, queries.flatMap(_._2).distinct)
    val stats = base.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val postings = base
      .select(col("doc_id"), col("dl"), explode(col("mt")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = postings.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val termQuery = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }.toDF("query_id", "term")
    val qsize = queries.map { case (qid, ts) => (qid, ts.size.toLong) }
      .toDF("query_id", "n_terms")
    val scored = postings.join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", log(lit(1.0) +
        (col("n") - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("sc", col("idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") /
          (col("sdl").cast("double") / col("n")))))
      .join(broadcast(termQuery), Seq("term"))
    // per (query, doc): the bm25_score fold, bit-identical to bm25()
    val perDoc = scored.groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_matched"),
        round(aggregate(
          array_sort(collect_list(struct(col("term"), col("sc")))),
          lit(0.0d), (acc, x) => acc + x.getField("sc")), 6).as("bm25"))
      .join(broadcast(qsize), Seq("query_id"))
    // best relevant = max (bm25, -doc_id): the doc the ranking sees first
    val best = perDoc.filter(col("n_matched") === col("n_terms"))
      .groupBy(col("query_id"))
      .agg(max(struct(col("bm25"), (-col("doc_id")).as("nid"))).as("b"))
      .select(col("query_id"), col("b.bm25").as("bb"), (-col("b.nid")).as("bid"))
    val perQuery = perDoc.join(broadcast(best), Seq("query_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("ns"),
        sum(when(col("n_matched") === col("n_terms"), 1L).otherwise(0L)).as("nr"),
        sum(when(col("bm25") > col("bb") ||
          (col("bm25") === col("bb") && col("doc_id") < col("bid")), 1L)
          .otherwise(0L)).as("na"))
    // row-per-query even when a query matches nothing at all
    qsize.select(col("query_id")).join(perQuery, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("ns"), lit(0L)).as("n_scored"),
        coalesce(col("nr"), lit(0L)).as("n_rel"),
        coalesce(col("na"), lit(0L)).as("na"))
      .select(col("query_id"), col("n_scored"), col("n_rel"),
        when(col("n_rel") === 0L, 0L).otherwise(col("na") + 1L).as("first_rel_rank"),
        when(col("n_rel") === 0L, 0L)
          .otherwise(expr("1000000 div (na + 1)")).as("rr_e6"))
  }
}
