package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.Tables
import graft.engine.Fixture
import graft.functions.{Bpe, Text, Vectors}
import graft.operators.{Dedup, LangModel, Mix, Pack, Similarity, Upsert}
import graft.multimodal.Multimodal
import graft.streaming.EventsStream

/** LLM-data-pipeline operator catalog: dedup, text analysis, similarity
  * search, multimodal plumbing, upsert, partitioned IO, streaming — the
  * beyond-the-reference tier of the brief, each runnable through the
  * driver gate. Queries whose kernels hash with xxhash64 (no DuckDB
  * equivalent) omit the oracle → rows-only check; everything else is
  * hash-compared.
  */
object PipelineQueries {

  /** Fixture fingerprint stamps of the two corpus tables. */
  private def docStamp(spark: SparkSession, dir: String): String =
    Fixture.stamp(spark, s"$dir/documents.parquet")
  private def emStamp(spark: SparkSession, dir: String): String =
    Fixture.stamp(spark, s"$dir/embeddings.parquet")

  // ---------------------------------------------------------------------
  // d01 — exact dedup via hash-groupBy (deterministic min-id winner).
  // ---------------------------------------------------------------------
  private def d01(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .exact(Tables.documents(spark, dir), "doc_id", col("text"))
      .select(col("keep_id"), col("n_copies"))
  private val d01Sql =
    """SELECT MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents
      |GROUP BY text
      |ORDER BY keep_id""".stripMargin

  // ---------------------------------------------------------------------
  // d02 — token statistics (whitespace tokenization).
  // ---------------------------------------------------------------------
  private def d02(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val nTok = Text.tokenCount(col("text"))
    d.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      col("n_chars"),
      round(
        when(nTok > 0, (col("n_chars").cast(DoubleType) - (nTok - 1)) / nTok).otherwise(lit(0.0)),
        6
      ).as("longueur_moy_token")
    )
  }
  private val d02Sql =
    """SELECT doc_id,
      |  CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
      |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
      |  n_chars,
      |  ROUND(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0.0
      |        ELSE (CAST(n_chars AS DOUBLE) - (len(regexp_split_to_array(trim(text), '\s+')) - 1))
      |             / len(regexp_split_to_array(trim(text), '\s+')) END, 6) AS longueur_moy_token
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d03 — quality scoring (Gopher-style rules: length band, punctuation
  // density, stopword presence, token-length band).
  // ---------------------------------------------------------------------
  private def d03(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        Text.qualityScore(col("text")).as("quality"),
        round(
          Text.matchCount(col("text"), "[.,!?;:]").cast(DoubleType) /
            greatest(length(col("text")), lit(1)).cast(DoubleType),
          6
        ).as("ratio_ponctuation")
      )
  private val d03Sql = {
    val nTok = """len(regexp_split_to_array(trim(text), '\s+'))"""
    val stop = """len(regexp_extract_all(text, '\b(the|a|of|to|in|and|is|it|that|for)\b'))"""
    val punct = """len(regexp_extract_all(text, '[.,!?;:]'))"""
    s"""SELECT doc_id,
       |  ROUND((
       |    (CASE WHEN $nTok >= 10 AND $nTok <= 100000 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN (CAST(length(text) AS DOUBLE) - ($nTok - 1)) / $nTok >= 2
       |            AND (CAST(length(text) AS DOUBLE) - ($nTok - 1)) / $nTok <= 12 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN CAST($punct AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN CAST($stop AS DOUBLE) / greatest(CAST($nTok AS DOUBLE), 1.0) > 0 THEN 1.0 ELSE 0.0 END)
       |  ) / 4.0, 6) AS quality,
       |  ROUND(CAST($punct AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0), 6) AS ratio_ponctuation
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d04 — language-ID heuristic (stopword density per language, CJK by
  // unicode range), deterministic argmax.
  // ---------------------------------------------------------------------
  private def d04(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), Text.langGuess(col("text")).as("langue_detectee"))
      .groupBy(col("langue_detectee"))
      .agg(count(lit(1)).as("n_docs"))
  private val d04Sql = {
    val nTok = """greatest(len(regexp_split_to_array(trim(text), '\s+')), 1)"""
    def sc(p: String) = s"""CAST(len(regexp_extract_all(text, '$p')) AS DOUBLE) / $nTok"""
    val en = sc("\\b(the|a|of|to|in|and|is|it|that|for)\\b")
    val fr = sc("\\b(le|la|les|de|des|un|une|et|est|que)\\b")
    val de = sc("\\b(der|die|das|und|ist|ein|eine|nicht|mit|auf)\\b")
    val es = sc("\\b(el|la|los|las|de|un|una|y|es|que)\\b")
    val zh = s"""CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)"""
    s"""WITH scored AS (
       |  SELECT doc_id, $en AS s_en, $fr AS s_fr, $de AS s_de, $es AS s_es, $zh AS s_zh
       |  FROM documents
       |), guessed AS (
       |  SELECT doc_id,
       |    CASE WHEN greatest(s_en, s_fr, s_de, s_es, s_zh) = 0 THEN 'und'
       |         WHEN s_en = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'en'
       |         WHEN s_fr = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'fr'
       |         WHEN s_de = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'de'
       |         WHEN s_es = greatest(s_en, s_fr, s_de, s_es, s_zh) THEN 'es'
       |         ELSE 'zh' END AS langue_detectee
       |  FROM scored
       |)
       |SELECT langue_detectee, COUNT(*) AS n_docs
       |FROM guessed GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d05 — document fingerprints: MOSS-style winnowing over token 3-gram
  // MD5 fingerprints (window w=4 minima, deduplicated, sorted). Defined
  // over md5 hex so the sketch is engine-portable and fully oracle-gated;
  // the sketch is emitted as a comma-joined string (scalar columns only —
  // raw array output is hostile to downstream tabular tooling). The
  // xxhash64 rolling/winnow expressions stay the fast in-engine path
  // (TextSpec). Plan: the whole winnowing is per-document, so it runs as
  // ONE compiled kernel (Md5WinnowSketch) — pure map, NO exchange at any
  // corpus size. The posexplode + doc-windows + collect_list formulation
  // it replaces shuffled and sorted every token occurrence in the corpus
  // (~100M rows at the 100× stress) for a value that never crosses
  // document boundaries.
  // ---------------------------------------------------------------------
  private def d05(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        org.apache.spark.sql.graft.TextExpr
          .md5WinnowSketch(Text.tokens(col("text")), 3, 4).as("s")
      )
      .select(
        col("doc_id"),
        col("s.empreinte").as("empreinte"),
        col("s.sketch").as("sketch")
      )
  private val d05Sql =
    """WITH base AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a
      |  FROM documents WHERE length(trim(text)) > 0
      |),
      |kgl AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(a)-1, 1)), i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS g,
      |    unnest(range(1, greatest(len(a)-1, 1))) AS pos
      |  FROM base WHERE len(a) >= 3
      |),
      |kg AS (SELECT doc_id, pos, substr(md5(g), 1, 16) AS h FROM kgl),
      |win AS (
      |  SELECT doc_id, h,
      |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wm
      |  FROM kg
      |),
      |sk AS (
      |  SELECT doc_id, MIN(h) AS empreinte,
      |    array_to_string(list_sort(list_distinct(list(wm))), ',') AS sketch
      |  FROM win GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(sk.empreinte, '') AS empreinte, coalesce(sk.sketch, '') AS sketch
      |FROM documents d LEFT JOIN sk USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d06 — MinHash+LSH near-duplicate pairs, verified with exact shingle
  // Jaccard. Oracle computes ALL pairs ≥ threshold exhaustively — LSH
  // recall on this fixture must be (and is) total; parameters r=2,b=32
  // give P(candidate | j=0.5) ≈ 0.9999.
  // ---------------------------------------------------------------------
  private def d06(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .minhashLsh(Tables.documents(spark, dir), "doc_id", "text", shingleN = 3, k = 64, bands = 32, threshold = 0.5)

  private[graft] def pairsStoreDir(dir: String): String = Fixture.workDir("pairs", dir)

  /** One-time publish of the verified near-dup PAIR relation (the d06
    * screen's output) — the ingest artifact the cluster/scrub/survivor
    * cells consume (load-phase setup, Bench untimed): in production the
    * pair screen runs once at ingest (d06 gates it live, and the p06
    * refresh loop maintains exactly this relation incrementally as its
    * label store's edge set); clustering, scrubbing and survivor
    * selection are downstream consumers of the persisted pairs.
    * Idempotent per input via the fingerprint marker.
    */
  def pairsSetup(spark: SparkSession, dir: String): Unit = synchronized {
    val st = pairsStoreDir(dir)
    Fixture.once(spark, st, s"documents:${docStamp(spark, dir)}:lsh3x64b32t05-pairs-v1") {
      Dedup.minhashLsh(Tables.documents(spark, dir), "doc_id", "text",
          shingleN = 3, k = 64, bands = 32, threshold = 0.5)
        .write.mode("overwrite").parquet(s"$st/pairs")
    }
  }

  /** The published pair relation (id_a, id_b, jaccard). */
  private def pairsStore(spark: SparkSession, dir: String): DataFrame = {
    pairsSetup(spark, dir)
    spark.read.parquet(s"${pairsStoreDir(dir)}/pairs")
  }
  private val d06Sql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 1)),
      |      i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+2])) AS s
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
      |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------------
  // d09 — duplicate clusters: connected components over the PUBLISHED
  // MinHash-LSH pair graph (pairsSetup — d06 gates the screen itself
  // live), each doc labeled with its cluster's canonical (minimum) id.
  // Oracle computes the same transitive closure with a recursive CTE
  // over the exhaustive-Jaccard pairs recomputed FROM RAW — a wrong
  // published pair store fails the hash exactly as an in-cell bug
  // would.
  // ---------------------------------------------------------------------
  private def d09(spark: SparkSession, dir: String): DataFrame =
    Dedup.clusters(pairsStore(spark, dir))
  private val d09Sql =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 1)),
      |      i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+2])) AS s
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b, id_a FROM pairs
      |), reach(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
      |)
      |SELECT id, MIN(r) AS cluster_id
      |FROM reach
      |GROUP BY id
      |ORDER BY id""".stripMargin

  // ---------------------------------------------------------------------
  // d10 — per-document TF-IDF keywords: token explode → term frequency →
  // document frequency → smoothed idf → top-3 per doc. tf is materialized
  // ONCE (localCheckpoint — one explode+agg pass, lineage truncated), df
  // is a map-side-combined groupBy whose shuffle carries |vocab| rows,
  // then joined back. NOT a count-over-Window.partitionBy(tok): token
  // frequency is Zipfian, and a window buffers each token's whole
  // partition in one task's state — the "the" partition at corpus scale
  // is a single-task OOM/straggler that AQE cannot split. The join
  // formulation lets AQE broadcast df when the vocabulary is small and
  // skew-split the tf side when it is not.
  // ---------------------------------------------------------------------
  private def d10(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val n = docs.count() // parquet metadata count — no data scan
    val toks = docs.select(col("doc_id"), explode(Text.tokens(lower(col("text")))).as("tok"))
    // DISK_ONLY: tf is O(corpus distinct (doc, tok)) — 225M rows at the
    // 1000× stress. Pinning it on-heap (the localCheckpoint default)
    // filled a 48 GB heap into a full-GC freeze there; the re-read from
    // local disk costs seconds and keeps the lineage cut.
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(true, org.apache.spark.storage.StorageLevel.DISK_ONLY)
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    // static budget-gated broadcast of the vocabulary-bounded DF side:
    // leaving it to AQE pays the tf relation's full shuffle WRITE on
    // tok before the runtime flip (the d29/d28 lesson — AQE re-plans
    // only after leaf exchanges materialize). Sizing the DF side is
    // ONE vocab-bounded rollup over the ALREADY-CHECKPOINTED tf (no
    // corpus re-pass); past the budget the skew-splittable shuffle
    // join remains the honest unbounded-vocabulary plan.
    val dfBudget = Dedup.clampToDriverLimit(spark,
      spark.conf.getOption("spark.graft.dedup.sigBroadcastBytes")
        .map(Dedup.parseBytes).getOrElse(512L * 1024 * 1024))
    val dfSide = if (df.count() <= dfBudget / 64L) broadcast(df) else df
    val scored = tf
      .join(dfSide, "tok")
      .withColumn("score", round(col("tf") * log((lit(n) + 1.0) / (col("df") + 1.0)), 6))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("tok"))
    scored
      .withColumn("rang", row_number().over(w))
      .filter(col("rang") <= 3)
      .select(col("doc_id"), col("rang"), col("tok"), col("score"))
  }
  private val d10Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS tok
      |  FROM documents
      |  WHERE length(trim(text)) > 0
      |), tf AS (
      |  SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
      |), df AS (
      |  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
      |), n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.tok,
      |         ROUND(tf.tf * ln((n.n + 1.0) / (df.df + 1.0)), 6) AS score
      |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
      |), ranked AS (
      |  SELECT doc_id, tok, score,
      |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rang
      |  FROM scored
      |)
      |SELECT doc_id, rang, tok, score
      |FROM ranked WHERE rang <= 3
      |ORDER BY doc_id, rang""".stripMargin

  // ---------------------------------------------------------------------
  // d07 — SimHash fingerprints, md5-defined and emitted as a 64-char bit
  // string so the oracle can recompute every bit from hex digits (the
  // xxhash64 simhash64 + Hamming pair join stays the fast path,
  // exercised in DedupSpec). Pure map — no shuffle at any corpus size.
  // ---------------------------------------------------------------------
  private def d07(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.select(
      col("doc_id"),
      Text.md5SimhashBits(Text.tokens(col("text"))).as("simhash"),
      Text.tokenCount(col("text")).as("n_tokens")
    )
  }
  private val d07Sql =
    """WITH toks AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS tok
      |  FROM documents WHERE length(trim(text)) > 0
      |),
      |th AS (SELECT doc_id, md5(tok) AS h FROM toks),
      |bits AS (
      |  SELECT doc_id, j,
      |    SUM(CASE WHEN ((strpos('0123456789abcdef', substr(h, CAST(1 + j // 4 AS INT), 1)) - 1) >> CAST(3 - j % 4 AS INT)) & 1 = 1
      |        THEN 1 ELSE -1 END) AS s
      |  FROM th, (SELECT unnest(range(64)) AS j) js
      |  GROUP BY doc_id, j
      |),
      |fp AS (
      |  SELECT doc_id, string_agg(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY j) AS simhash
      |  FROM bits GROUP BY doc_id
      |)
      |SELECT d.doc_id, coalesce(fp.simhash, repeat('0', 64)) AS simhash,
      |  CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
      |FROM documents d LEFT JOIN fp USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // e01 — brute-force cosine top-k (exact ANN baseline). Query side =
  // vec_id < 10, broadcast; identical arithmetic spelled out in DuckDB.
  // ---------------------------------------------------------------------
  private def e01(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir)
    Similarity
      .bruteForceKnn(em, em.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5)
  }
  private val e01Sql =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings),
      |q AS (SELECT * FROM v WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.e, c.e) / sqrt(list_dot_product(q.e, q.e) * list_dot_product(c.e, c.e)), 6) AS cosine
      |  FROM q CROSS JOIN v c
      |  WHERE q.vec_id <> c.vec_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, rank, neighbor_id, cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // e02 — IVF-bucketed ANN (the scale path). The gated run probes ALL
  // nList cells, which makes IVF exhaustive — every (query, corpus) pair
  // is scored exactly once through the cell-join machinery — so the
  // brute-force SQL oracle gates the full assign/probe/merge pipeline
  // bit-for-bit. The approximate nProbe < nList configuration (what a
  // 100 TB deployment runs) is recall-tested in SimilaritySpec.
  // ---------------------------------------------------------------------
  private def e02(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir)
    Similarity
      .ivfKnn(em, em.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
        nList = 16, nProbe = 16)
  }

  // ---------------------------------------------------------------------
  // e04 — trained IVF ANN: Lloyd k-means centroids (distributed assign +
  // recompute, model-only collect) replace the hash-derived cells of
  // e02. Gated with nProbe = k (exhaustive probe ⇒ exact ⇒ brute-force
  // oracle); the approximate low-probe path is recall-tested in
  // SimilaritySpec.
  // ---------------------------------------------------------------------
  private def e04(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir)
    val cents = Similarity.trainCentroids(em, "vec_id", "embedding", k = 16, iters = 3)
    Similarity
      .ivfKnnTrained(em, em.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, cents, nProbe = 16)
  }

  // ---------------------------------------------------------------------
  // e05 — product-quantization ANN (the memory-bound scale path: the
  // corpus scans as m-byte code rows, not dim·4-byte vectors). Gated
  // with shortlist = everything, which makes the exact re-rank cover
  // every pair — the brute-force oracle then checks the train/encode/
  // distance-table/ADC/shortlist/re-rank machinery bit-for-bit; the
  // approximate small-shortlist path is recall-tested in
  // SimilaritySpec (the e02/e04 gating pattern).
  // ---------------------------------------------------------------------
  private def e05(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir)
    val books = Similarity.trainPqCodebooks(em, "vec_id", "embedding", m = 8, codes = 16, iters = 3)
    Similarity
      .pqKnn(em, em.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, books,
        shortlist = Int.MaxValue)
  }

  // ---------------------------------------------------------------------
  // e06 — IVF-PQ composed ANN (the production 100 TB shape: coarse-cell
  // pruning over PQ code rows + exact re-rank). Gated with nProbe =
  // nList AND shortlist = everything: every corpus vector is in exactly
  // one cell and every cell is probed, so each pair ADC-scores exactly
  // once and the full-shortlist re-rank makes the result equal brute
  // force — the brute oracle then checks the centroid-train/assign/
  // probe/encode/table/ADC/re-rank composition bit-for-bit. The
  // realistic nProbe < nList, small-shortlist path is recall-tested in
  // SimilaritySpec (the e02/e04/e05 gating pattern).
  // ---------------------------------------------------------------------
  private def e06(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir)
    val cents = Similarity.trainCentroids(em, "vec_id", "embedding", k = 16, iters = 3)
    val books = Similarity.trainPqCodebooks(em, "vec_id", "embedding", m = 8, codes = 16, iters = 3)
    Similarity
      .pqKnnIvf(em, em.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5,
        cents, books, nProbe = 16, shortlist = Int.MaxValue)
  }

  // ---------------------------------------------------------------------
  // e07 — contrastive triplet mining on the jittered corpus (e03's
  // fixture): anchor = near-dup member, positive = its best duplicate,
  // hard negative = closest NON-duplicate via exhaustive-probe IVF
  // (nProbe = |cents| ⇒ exact — the e04/e06 gating pattern), bounded to
  // one 256-anchor mining batch (the linear-in-corpus production
  // shape; the fixture makes EVERY vector an anchor, so an unbatched
  // exhaustive config would be all-pairs by construction). Oracle
  // re-derives positives, negatives and margins from exhaustive cosine.
  // ---------------------------------------------------------------------
  private def e07(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val corpus = e03Corpus(em)
    val cents = Similarity.trainCentroids(corpus, "vec_id", "embedding", k = 16, iters = 3)
    // production-config adjudication knob (SCALE.md): nProbe < 16 mines
    // APPROXIMATE hard negatives at nList/nProbe of the probe cost.
    // Only the scale harness sets it — the driver's Verify/Bench never
    // do, so the gated config stays exhaustive (= the oracle); recall
    // of the production config is pinned in SimilaritySpec.
    val nProbe = sys.env.get("SPARK_GRAFT_E07_NPROBE").map(_.toInt).getOrElse(16)
    Similarity
      .tripletMine(corpus, "vec_id", "embedding", threshold = 0.99, cents,
        nProbe = nProbe, maxAnchors = 256,
        // positives from the published pair store (vecPairsSetup — e03
        // gates the screen live); the cell measures the MINING
        nearDupPairs = Some(vecPairsStore(spark, dir)))
  }
  private val e07Sql =
    """WITH orig AS (SELECT vec_id, embedding AS e FROM embeddings),
      |jit AS (
      |  SELECT src_id + 1000000 AS vec_id,
      |    list_transform(range(1, len(e) + 1),
      |      i -> CAST(CAST(e[i] AS DOUBLE) * (1.0 + (((src_id * 31 + (i - 1) * 7) % 100) / 100.0 - 0.5) * 0.04) AS FLOAT)) AS e
      |  FROM (SELECT vec_id AS src_id, e FROM orig)
      |),
      |allv AS (
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM orig
      |  UNION ALL
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM jit
      |),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    ROUND(list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6) AS cosine
      |  FROM allv a JOIN allv b ON a.vec_id <> b.vec_id
      |),
      |pos AS (
      |  SELECT id_a AS anchor_id, id_b AS positive_id, cosine AS pos_cosine,
      |    ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rn
      |  FROM pairs WHERE cosine >= 0.99
      |),
      |batch AS (
      |  SELECT anchor_id, positive_id, pos_cosine FROM pos
      |  WHERE rn = 1 ORDER BY anchor_id LIMIT 256
      |),
      |neg AS (
      |  SELECT id_a AS anchor_id, id_b AS negative_id, cosine AS neg_cosine,
      |    ROW_NUMBER() OVER (PARTITION BY id_a ORDER BY cosine DESC, id_b) AS rn
      |  FROM pairs WHERE cosine < 0.99
      |)
      |SELECT b.anchor_id, b.positive_id, b.pos_cosine,
      |  n.negative_id, n.neg_cosine,
      |  ROUND(b.pos_cosine - n.neg_cosine, 6) AS margin
      |FROM batch b JOIN neg n ON b.anchor_id = n.anchor_id AND n.rn = 1
      |ORDER BY b.anchor_id""".stripMargin

  // ---------------------------------------------------------------------
  // e08 — IVF-PQ served from the PERSISTED index store (AnnIndex): the
  // centroids, PQ codebooks and per-vector code rows are written ONCE
  // at publish time (the IngestDedup/IngestQuality stored-model
  // pattern) and the query serves from the store without retraining or
  // re-encoding anything — raw vectors are touched only by the exact
  // re-rank. Gated in the exhaustive configuration (nProbe = nList,
  // full shortlist ⇒ equals brute force, the e05/e06 pattern), so the
  // brute oracle checks the store write → read → serve composition
  // bit-for-bit; production nProbe recall is spec-tested.
  // ---------------------------------------------------------------------
  private def e08WorkDir(dir: String): String = Fixture.workDir("e08", dir)

  /** Publish-time staging (query feed + index store) — Bench runs this
    * untimed; shared by e08 (batch serve) and s12 (streaming serve).
    */
  def e08Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestAnn.setup(spark, dir, e08WorkDir(dir))

  private def e08(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestAnn
      .oneShot(spark, dir, e08WorkDir(dir))

  // ---------------------------------------------------------------------
  // e09 — incremental index maintenance: a published IVF-PQ store takes
  // an arriving vector batch (e03/s08's deterministic jittered feed)
  // through AnnIndex.append — encoded with the FROZEN publish-time
  // model, no retraining, corpus codes untouched — and then serves
  // queries over the grown corpus. Gated exhaustively (nProbe = nList,
  // full shortlist ⇒ model-independent ⇒ equals brute force over the
  // UNION corpus), so the oracle proves the append round-trip lost,
  // duplicated and corrupted nothing. The production claim — appended
  // codes ARE what a one-shot publish would have written — follows
  // because both paths encode with the same frozen model.
  // ---------------------------------------------------------------------
  private def e09WorkDir(dir: String): String = Fixture.workDir("e09", dir)

  /** Publish + one append — load-phase staging (Bench runs untimed). */
  def e09Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val w = e09WorkDir(dir)
    Fixture.once(spark, w,
        s"embeddings:${emStamp(spark, dir)}:ivfpq-n16-m8-c16-i3-append-compact-cellpart-v2") {
      val em = Tables.embeddings(spark, dir)
      graft.operators.AnnIndex.write(em, "vec_id", "embedding", s"$w/index",
        nList = 16, m = 8, codes = 16, iters = 3)
      graft.operators.AnnIndex.append(
        graft.streaming.IngestSemantic.batchFeed(em), "vec_id", "embedding", s"$w/index")
      // compact the append-fragmented codes/ (cell-clustered rewrite) —
      // the e09 gate then serves from the COMPACTED store, proving the
      // maintenance op preserves every code row
      graft.operators.AnnIndex.compact(spark, s"$w/index")
    }
  }

  private def e09(spark: SparkSession, dir: String): DataFrame = {
    e09Setup(spark, dir)
    val w = e09WorkDir(dir)
    val (cents, books) = graft.operators.AnnIndex.readModel(spark, s"$w/index")
    val coded = graft.operators.AnnIndex.codes(spark, s"$w/index")
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val em = Tables.embeddings(spark, dir)
    val union = em.select(col("vec_id"), col("embedding"))
      .unionByName(graft.streaming.IngestSemantic.batchFeed(em)
        .select(col("vec_id"), col("embedding")))
    val vecs = union.select(col("vec_id").as("neighbor_id"),
      Vectors.toDouble(col("embedding")).as("v_c"))
    Similarity
      .pqKnnIvfCoded(coded, vecs, union.filter(col("vec_id") < 10), "vec_id", "embedding",
        k = 5, cents, books, nProbe = 16, shortlist = Int.MaxValue)
  }
  private val e09Sql =
    """WITH orig AS (SELECT vec_id, embedding AS e FROM embeddings),
      |jit AS (
      |  SELECT src_id + 1000000 AS vec_id,
      |    list_transform(range(1, len(e) + 1),
      |      i -> CAST(CAST(e[i] AS DOUBLE) * (1.0 + (((src_id * 31 + (i - 1) * 7) % 100) / 100.0 - 0.5) * 0.04) AS FLOAT)) AS e
      |  FROM (SELECT vec_id AS src_id, e FROM orig WHERE vec_id % 10 = 0)
      |),
      |allv AS (
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM orig
      |  UNION ALL
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM jit
      |),
      |q AS (SELECT * FROM allv WHERE vec_id < 10),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, c.v) / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)), 6) AS cosine
      |  FROM q CROSS JOIN allv c
      |  WHERE q.vec_id <> c.vec_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, rank, neighbor_id, cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // e10 — index RE-PUBLISH: the action the recall-drift alarm (s13)
  // calls for. The published store has taken a frozen-model append of a
  // DRIFTED batch (a constant +4.0 shift per component — a regime the
  // publish-time quantizer never saw; s13 proves the production serve
  // silently loses recall on it). AnnIndex.republish retrains on the
  // corpus as it now stands, re-encodes every vector in one pure-map
  // pass, and swaps the store atomically. Gated exhaustively (nProbe =
  // nList, full shortlist ⇒ model-independent ⇒ equals brute over the
  // union), so the oracle proves retrain → re-encode → swap → serve
  // lost, duplicated and corrupted nothing — with queries from BOTH
  // regimes. The production payoff (drifted-regime recall restored
  // above the floor at production nProbe) is model-dependent and is
  // pinned in SimilaritySpec, the s13 alarm-semantics convention.
  // ---------------------------------------------------------------------
  private def e10WorkDir(dir: String): String = Fixture.workDir("e10", dir)

  /** The drifted arrival: every 5th base vector shifted +4.0 per
    * component under a disjoint id range — deterministic, so the
    * DuckDB oracle rebuilds it exactly.
    */
  private[graft] def e10Drift(em: DataFrame): DataFrame =
    em.filter(col("vec_id") % 5 === 0)
      .select(
        (col("vec_id") + lit(2000000L)).as("vec_id"),
        transform(col("embedding"),
          x => (x.cast("double") + lit(4.0)).cast("float")).as("embedding"))

  /** Publish + drifted frozen-model append — the store state the alarm
    * fires on (load phase, Bench runs untimed; the gate times the
    * republish itself, which IS the operator).
    */
  def e10Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val w = e10WorkDir(dir)
    Fixture.once(spark, w,
        s"embeddings:${emStamp(spark, dir)}:ivfpq-n16-m8-c16-i3-republish-cellpart-v2") {
      val em = Tables.embeddings(spark, dir)
      graft.operators.AnnIndex.write(em, "vec_id", "embedding", s"$w/index",
        nList = 16, m = 8, codes = 16, iters = 3)
      graft.operators.AnnIndex.append(e10Drift(em), "vec_id", "embedding", s"$w/index")
    }
  }

  private def e10(spark: SparkSession, dir: String): DataFrame = {
    e10Setup(spark, dir)
    val w = e10WorkDir(dir)
    val em = Tables.embeddings(spark, dir)
    val union = em.select(col("vec_id"), col("embedding"))
      .unionByName(e10Drift(em))
    // the alarm's action, timed: retrain on the union (bounded driver
    // sample), re-encode everything (one map pass), atomic swap
    graft.operators.AnnIndex.republish(union, "vec_id", "embedding", s"$w/index",
      nList = 16, m = 8, codes = 16, iters = 3)
    val (cents, books) = graft.operators.AnnIndex.readModel(spark, s"$w/index")
    val coded = graft.operators.AnnIndex.codes(spark, s"$w/index")
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val vecs = union.select(col("vec_id").as("neighbor_id"),
      Vectors.toDouble(col("embedding")).as("v_c"))
    Similarity
      .pqKnnIvfCoded(coded, vecs,
        union.filter(col("vec_id") < 10 ||
          (col("vec_id") >= 2000000L && col("vec_id") < 2000025L)),
        "vec_id", "embedding", k = 5, cents, books,
        nProbe = 16, shortlist = Int.MaxValue)
  }
  private val e10Sql =
    """WITH orig AS (SELECT vec_id, embedding AS e FROM embeddings),
      |drift AS (
      |  SELECT vec_id + 2000000 AS vec_id,
      |    list_transform(e, x -> CAST(CAST(x AS DOUBLE) + 4.0 AS FLOAT)) AS e
      |  FROM orig WHERE vec_id % 5 = 0
      |),
      |allv AS (
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM orig
      |  UNION ALL
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM drift
      |),
      |q AS (SELECT * FROM allv
      |      WHERE vec_id < 10 OR (vec_id >= 2000000 AND vec_id < 2000025)),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, c.v) / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)), 6) AS cosine
      |  FROM q CROSS JOIN allv c
      |  WHERE q.vec_id <> c.vec_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, rank, neighbor_id, cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // e12 — the DRIFT → REPUBLISH TRANSITION as one gated flow: the s13
  // monitor's alarm DRIVES the e10 republish inside a single run —
  // frozen-model append of the drifted arrivals, production-config
  // recall probe on the planted-twin sample (the s13 machinery), the
  // republish executed BECAUSE the probe alarmed (never as a per-batch
  // reflex), the post-republish production-config probe, and an
  // exhaustive serve over the republished store. Previously the
  // ordering was only spec-pinned (SimilaritySpec); this cell runs the
  // composed transition under the oracle.
  //
  // GATE: the serve section ≡ brute force over the union (the e10
  // exhaustive convention — retrain → re-encode → swap lost, duplicated
  // and corrupted nothing), and a three-row DECISION section the oracle
  // states as constants — alarm fired (pre-republish production recall
  // < the s13 floor), the republish ran because of it (store version
  // bumped), and the production payoff landed (post-republish recall on
  // the same sample ≥ the floor). The fixture (SimilaritySpec's four
  // jittered +4.0-shifted waves — a regime the frozen quantizer
  // collapses into a handful of code tuples) makes each decision
  // deterministic; an engine whose monitor, gating or retrain breaks
  // emits a 0 where the oracle states 1 and the hash mismatches.
  //
  // Re-run convergence: the transition is one-way (an already-
  // republished store no longer alarms), so the timed flow REPLAYS it —
  // the pristine frozen store is restored from the setup-published copy
  // first (a bytes-of-codes fs copy, the restart-replay convention;
  // production reruns a transition from its journal the same way).
  // ---------------------------------------------------------------------
  private def e12WorkDir(dir: String): String = Fixture.workDir("e12", dir)

  /** SimilaritySpec's drifted arrival wave j: every 5th base vector,
    * ±1% per-copy jitter then a +4.0 per-component shift, disjoint id
    * range per wave — deterministic arithmetic the oracle rebuilds.
    */
  private def e12Wave(em: DataFrame, j: Int): DataFrame =
    em.filter(col("vec_id") % 5 === 0)
      .select(
        (col("vec_id") + lit(2000000L + j * 10000L)).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast(DoubleType) *
            (lit(1.0) + (pmod(col("vec_id") * 13 + i.cast(LongType) * 5 + lit(j * 3L), lit(100L))
              .cast(DoubleType) / 100.0 - 0.5) * 0.02) + lit(4.0)).cast(FloatType))
          .as("embedding"))

  /** Restore the live store to the pristine published generation and
    * mark it so ([[e12Setup]]'s tail / the timed path's fallback). The
    * `_REPLAY_PRISTINE` marker — written here, removed by [[e12]] the
    * instant it starts mutating — is the restore discriminator: version
    * alone can't tell a pristine store from a crash mid-append (both
    * read version 1), and a double-append would duplicate serve rows.
    */
  private def e12Restore(spark: SparkSession, w: String): Unit = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(w).getFileSystem(hconf)
    fs.delete(new org.apache.hadoop.fs.Path(s"$w/index"), true)
    graft.operators.Stores.duplicate(
      fs, new org.apache.hadoop.fs.Path(s"$w/pristine"),
      new org.apache.hadoop.fs.Path(s"$w/index"), hconf)
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$w/index/_REPLAY_PRISTINE"), true)
    out.close()
  }

  /** Publish the pristine frozen store, and leave the LIVE store
    * restored to it (load phase, untimed — the replay copy is
    * setup-class work: Bench's untimed setup call performs it, so the
    * timed first run starts at the pre-transition state without paying
    * the copy; a retry or warm re-run restores inside its own window,
    * the conservative side of best-of-two).
    */
  def e12Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val w = e12WorkDir(dir)
    Fixture.once(spark, w,
        s"embeddings:${emStamp(spark, dir)}:ivfpq-n16-m8-c16-i3-transition-cellpart-v3") {
      graft.operators.AnnIndex.write(Tables.embeddings(spark, dir),
        "vec_id", "embedding", s"$w/pristine", nList = 16, m = 8, codes = 16, iters = 3)
    }
    // always leave the live store pristine-and-marked: the transition is
    // one-way, so a store a previous run republished (or crashed
    // mid-mutation — marker already removed) must be replayed
    val pristine = new org.apache.hadoop.fs.Path(s"$w/index/_REPLAY_PRISTINE")
    if (!pristine.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(pristine))
      e12Restore(spark, w)
  }

  private def e12(spark: SparkSession, dir: String): DataFrame = {
    e12Setup(spark, dir) // restores the pristine store if a prior run transitioned it
    val w = e12WorkDir(dir)
    val ix = s"$w/index"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(w).getFileSystem(hconf)
    // consume the pristine marker BEFORE mutating: a crash anywhere past
    // this line leaves the store marker-less, and the next run's setup
    // replays it from the published copy (the restart-replay convention)
    fs.delete(new org.apache.hadoop.fs.Path(s"$ix/_REPLAY_PRISTINE"), false)
    val em = Tables.embeddings(spark, dir)
    // two waves: enough for the planted-twin truth (each drifted src has
    // a near-twin copy) and the frozen-model collapse that fires the
    // alarm, at half the append/serve corpus of the spec's four-wave
    // fixture (SimilaritySpec keeps the four-wave version)
    val waves = (1 to 2).map(e12Wave(em, _)).reduce(_.unionByName(_))
    val union = em.select(col("vec_id"), col("embedding")).unionByName(waves)
    val vecs = union.select(col("vec_id").as("neighbor_id"),
      Vectors.toDouble(col("embedding")).as("v_c"))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    // the monitor's sample + ground truth are DATA-only (independent of
    // the store), and the pre-probe model is append-INVARIANT (append
    // encodes with the frozen model, touching codes/ only) — both
    // overlap the append instead of serializing behind it. Each future
    // materializes its own frames eagerly (disjoint from the append's),
    // the refresh-loop concurrency convention.
    val truthF = scala.concurrent.Future {
      val q = e12Wave(em, 1).filter(pmod(col("vec_id"), lit(7L)) === 0)
        .orderBy(col("vec_id")).limit(64).localCheckpoint(true)
      val bt = Similarity
        .bruteForceKnn(union, q, "vec_id", "embedding", k = 1)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true)
      (q, bt)
    }
    val modelPreF = scala.concurrent.Future {
      graft.operators.AnnIndex.readModel(spark, ix)
    }
    // 1. the drifted arrivals land under the frozen model
    graft.operators.AnnIndex.append(waves, "vec_id", "embedding", ix)
    // 2. the monitor: production-config recall on a BOUNDED
    //    deterministic planted-twin sample — s13's %7 thinning plus an
    //    absolute cap (TakeOrdered, no full sort), so the brute truth
    //    stays O(cap · corpus) at ANY corpus size: a monitor's sample
    //    is a fixed query budget, never a corpus fraction (an uncapped
    //    %7 sample measured 25.7 MB at the x10 fixture — sample·corpus
    //    is corpus² in disguise). The ground truth is computed ONCE for
    //    the transition's two measurements — sample and corpus are
    //    identical pre/post (a republish changes the MODEL, never the
    //    data), so the second brute pass the r19 shape paid priced
    //    nothing (r19 verdict ask #5); each probe still serves the
    //    store at production config against its own generation's model.
    val (probeQ, bruteTruth) = scala.concurrent.Await
      .result(truthF, scala.concurrent.duration.Duration.Inf)
    // the serve-vs-truth kernel is AnnIndex's — one definition of
    // recall semantics for every monitor (per-query rappel with k=1 is
    // exactly 0 or 1, so averaging the rounded ratio is the same mean)
    def productionRecall(
        cents: Array[Array[Double]], books: Array[Array[Array[Double]]]): Double =
      graft.operators.AnnIndex.recallProbeCodedAgainst(
          graft.operators.AnnIndex.codes(spark, ix)
            .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes")),
          cents, books, probeQ, vecs, bruteTruth, "vec_id", "embedding",
          k = 1, nProbe = 8, shortlist = 16)
        .agg(avg(col("rappel")))
        .collect()(0).getDouble(0)
    val (centsPre, booksPre) = scala.concurrent.Await
      .result(modelPreF, scala.concurrent.duration.Duration.Inf)
    val alarmPre = productionRecall(centsPre, booksPre) < 0.8
    // 3. the alarm DRIVES the republish — the composed decision, not a
    //    per-batch reflex
    val vBefore = graft.operators.AnnIndex.version(spark, ix)
    if (alarmPre)
      graft.operators.AnnIndex.republish(union, "vec_id", "embedding", ix,
        nList = 16, m = 8, codes = 16, iters = 3)
    val republished = graft.operators.AnnIndex.version(spark, ix) == vBefore + 1
    // 4. the payoff: the same production-config probe clears the floor —
    //    ONE model read per store generation (the republish swapped a
    //    new generation in; the exhaustive serve below reads the same
    //    one, so the r19 shape's third readModel is gone)
    val (cents, books) = graft.operators.AnnIndex.readModel(spark, ix)
    val postOk = productionRecall(cents, books) >= 0.8
    // 5. exhaustive serve over the republished store ≡ brute (e10) —
    //    same post-republish generation and model as the payoff probe
    val coded = graft.operators.AnnIndex.codes(spark, ix)
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val serve = Similarity
      .pqKnnIvfCoded(coded, vecs,
        union.filter(col("vec_id") < 10 ||
          (col("vec_id") >= 2010000L && col("vec_id") < 2010025L)),
        "vec_id", "embedding", k = 5, cents, books,
        nProbe = 16, shortlist = Int.MaxValue)
    import spark.implicits._
    val decision = Seq(
      ("transition", -1L, 1L, -1L, if (alarmPre) 1.0 else 0.0),
      ("transition", -1L, 2L, -1L, if (republished) 1.0 else 0.0),
      ("transition", -1L, 3L, -1L, if (postOk) 1.0 else 0.0)
    ).toDF("section", "query_id", "rang", "voisin", "cosinus")
    serve
      .select(lit("serve").as("section"), col("query_id"),
        col("rank").cast("long").as("rang"), col("neighbor_id").as("voisin"),
        col("cosine").as("cosinus"))
      .unionByName(decision)
  }
  private val e12Sql =
    """WITH orig AS (SELECT vec_id, embedding AS e FROM embeddings),
      |waves AS (
      |  SELECT src_id + 2000000 + j * 10000 AS vec_id,
      |    list_transform(range(1, len(e) + 1),
      |      i -> CAST(CAST(e[i] AS DOUBLE)
      |        * (1.0 + (((src_id * 13 + (i - 1) * 5 + j * 3) % 100) / 100.0 - 0.5) * 0.02)
      |        + 4.0 AS FLOAT)) AS e
      |  FROM (SELECT vec_id AS src_id, e FROM orig WHERE vec_id % 5 = 0)
      |  CROSS JOIN (SELECT unnest(range(1, 3)) AS j)
      |),
      |allv AS (
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM orig
      |  UNION ALL
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM waves
      |),
      |q AS (SELECT * FROM allv
      |      WHERE vec_id < 10 OR (vec_id >= 2010000 AND vec_id < 2010025)),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, c.v)
      |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)), 6) AS cosine
      |  FROM q CROSS JOIN allv c
      |  WHERE q.vec_id <> c.vec_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |SELECT 'serve' AS section, query_id, CAST(rank AS BIGINT) AS rang,
      |  neighbor_id AS voisin, cosine AS cosinus
      |FROM ranked WHERE rank <= 5
      |UNION ALL
      |SELECT 'transition', CAST(-1 AS BIGINT), CAST(etape AS BIGINT), CAST(-1 AS BIGINT),
      |  CAST(1.0 AS DOUBLE)
      |FROM (SELECT unnest(range(1, 4)) AS etape)
      |ORDER BY section, query_id, rang""".stripMargin

  // ---------------------------------------------------------------------
  // e11 — ANN REFRESH MAINTENANCE: the vector tier of the p06 refresh
  // loop. A corpus refresh produces a selection DELTA — entrants and
  // evictees — and the index store must track it without a rebuild:
  // entrant embeddings APPEND with the frozen publish-time model (e09's
  // op), evictee rows TOMBSTONE out of the codes store
  // (AnnIndex.tombstone — Pack.tombstone's vector twin; before it,
  // deletion from the index was impossible), with the recall-drift
  // monitor (s13) deciding when accumulated drift forces the e10
  // republish (SimilaritySpec pins that composition at production
  // config). Gated exhaustively (nProbe = nList, full shortlist ⇒
  // model-independent ⇒ equals brute force), so the oracle proves
  // append ∘ tombstone over the published store ≡ a one-shot index over
  // the REFRESHED selection (base − evictees) ∪ entrants — queries from
  // both regimes, including evicted ids querying the store that no
  // longer holds them. The timed query IS the maintenance (append of
  // missing entrants + the tombstone rewrite) plus the serve; re-runs
  // converge (append-missing anti-join + idempotent tombstone).
  // Scale shape: append is one pure-map encode of the batch; tombstone
  // is an anti-join rewrite of NARROW code rows (bytes/vector, the
  // compact cost class — a cell-partitioned store would prune to
  // touched files), atomically swapped; the raw vectors never move.
  // ---------------------------------------------------------------------
  private def e11WorkDir(dir: String): String = Fixture.workDir("e11", dir)

  /** The refresh's entrant embeddings: every vec_id % 10 = 5 base
    * vector, ±2% deterministically jittered (the e03 arithmetic — the
    * DuckDB oracle rebuilds the identical float32 rows) under a
    * disjoint id range.
    */
  private[graft] def e11Entrants(em: DataFrame): DataFrame =
    em.filter(col("vec_id") % 10 === 5)
      .select(
        (col("vec_id") + lit(3000000L)).as("vec_id"),
        transform(
          col("embedding"),
          (x, j) =>
            (x.cast(DoubleType) *
              (lit(1.0) + (pmod(col("vec_id") * 31 + j.cast(LongType) * 7, lit(100L))
                .cast(DoubleType) / 100.0 - 0.5) * 0.04))
              .cast(FloatType)
        ).as("embedding"))

  /** The refresh's evictees: every vec_id % 4 = 1 base vector — a
    * quarter of the published index leaves the selection.
    */
  private def e11Evictees(em: DataFrame): DataFrame =
    em.filter(col("vec_id") % 4 === 1).select(col("vec_id"))

  /** Publish the IVF-PQ store over the base corpus (load phase, Bench
    * runs untimed; the gate times the maintenance itself).
    */
  def e11Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val w = e11WorkDir(dir)
    Fixture.once(spark, w,
        s"embeddings:${emStamp(spark, dir)}:ivfpq-n16-m8-c16-i3-refresh-cellpart-v2") {
      graft.operators.AnnIndex.write(Tables.embeddings(spark, dir),
        "vec_id", "embedding", s"$w/index", nList = 16, m = 8, codes = 16, iters = 3)
    }
  }

  private def e11(spark: SparkSession, dir: String): DataFrame = {
    e11Setup(spark, dir)
    val w = e11WorkDir(dir)
    val em = Tables.embeddings(spark, dir)
    val entrants = e11Entrants(em)
    // the maintenance, timed: append entrants the store does not hold
    // yet (frozen model — the appendMissing idempotence pattern), then
    // tombstone the evictees out of the codes store
    val stored = graft.operators.AnnIndex.codes(spark, s"$w/index")
    val missing = entrants.join(
        stored.select(col(stored.schema.fieldNames.head).as("vec_id")),
        Seq("vec_id"), "left_anti")
      .localCheckpoint(false) // one materializing count job, not checkpoint + isEmpty
    if (missing.count() > 0)
      graft.operators.AnnIndex.append(
        missing.select(col("vec_id"), col("embedding")), "vec_id", "embedding", s"$w/index")
    graft.operators.AnnIndex.tombstone(spark, s"$w/index", e11Evictees(em))
    // exhaustive serve over the maintained store: the coded rows ARE
    // the refreshed selection now, or the brute oracle catches it
    refreshedExhaustiveServe(spark, dir, s"$w/index")
  }

  /** The exhaustive serve over a maintained store whose live rows must
    * be the refreshed selection (base − e11Evictees) ∪ e11Entrants —
    * the shared gate tail of e11 (append+tombstone) and e13 (compact):
    * nProbe = nList, unbounded shortlist ⇒ model-independent ⇒ ≡ brute
    * force, so one brute oracle (e11Sql) gates both maintenance ops.
    */
  private def refreshedExhaustiveServe(
      spark: SparkSession, dir: String, ix: String): DataFrame = {
    val em = Tables.embeddings(spark, dir)
    val entrants = e11Entrants(em)
    val (cents, books) = graft.operators.AnnIndex.readModel(spark, ix)
    val coded = graft.operators.AnnIndex.codes(spark, ix)
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val union = em.select(col("vec_id"), col("embedding")).unionByName(entrants)
    val vecs = union.select(col("vec_id").as("neighbor_id"),
      Vectors.toDouble(col("embedding")).as("v_c"))
    Similarity
      .pqKnnIvfCoded(coded, vecs,
        union.filter(col("vec_id") < 10 ||
          (col("vec_id") >= 3000000L && col("vec_id") < 3000030L)),
        "vec_id", "embedding", k = 5, cents, books,
        nProbe = 16, shortlist = Int.MaxValue)
  }

  // ---------------------------------------------------------------------
  // e13 — ANN STORE COMPACTION, policy-triggered (r18 verdict ask #4 +
  // the p08 trigger doctrine): every frozen-model append leaves a
  // per-batch file set, so a daily-ingest index accumulates thousands
  // of small files whose per-file open cost dominates the serve scan at
  // 100 TB — and something must DECIDE when to fold, the way p08's
  // depth watermark schedules compactGen. AnnIndex.maintainAppend
  // counts APPEND GENERATIONS since the last compaction (deterministic
  // per store history — file counts vary with fixture partitioning)
  // and fires AnnIndex.compact at the watermark. Setup publishes the
  // store into e11's refreshed content state the fragmented way round:
  // tombstone the evictees (one staged rewrite), then FIVE policy-
  // governed entrant waves (counter 1..5, under the 6-wave watermark —
  // a week of refresh windows, fragmented). The TIMED query is the
  // SIXTH wave through the same policy — the append that CROSSES the
  // watermark, fires the compaction (range-cluster on (cell, id),
  // staged write + atomic swap — the io03/Compact contract on the
  // index store), and serves exhaustively. Compaction must change
  // LAYOUT, never CONTENT: the serve hash-matches e11's brute oracle
  // verbatim, proving policy-compact ∘ append⁶ ∘ tombstone ≡
  // serve-identical. File-count reduction + row identity + the
  // watermark mechanics are pinned in SimilaritySpec/CompactSpec; the
  // file-count row lives in SCALE.md. Re-run parity: a converged store
  // (counter 0 — the policy fired) is restored from the staged
  // fragmented copy first, so every run re-times the SAME
  // watermark-crossing append + compaction (never serve-only; r19
  // ADVICE #2 — a converged retry must not excuse a compaction
  // regression under best-of-two).
  // ---------------------------------------------------------------------
  private def e13WorkDir(dir: String): String = Fixture.workDir("e13", dir)

  private val e13Watermark = 6

  /** Entrant wave `wave` of [[e13Watermark]]. Split on (vec_id div 10)
    * mod 6, NOT vec_id mod 6: every e11 entrant id is ≡ 5 (mod 10) —
    * odd — so a vec_id-mod-6 split would leave residues 0/2/4 EMPTY
    * and three of the six "fragmenting" waves would append nothing
    * (r19 review finding). The div-10 quotient walks consecutive
    * integers across the entrant set, so all six residues are
    * populated and the union over waves 0..5 is the whole entrant set
    * either way (the oracle never sees the split).
    */
  private def e13Wave(em: DataFrame, wave: Int): DataFrame =
    e11Entrants(em)
      .filter(pmod(expr("vec_id div 10"), lit(e13Watermark)) === wave)
      .select(col("vec_id"), col("embedding"))

  /** Publish + fragment the store under the policy (load-phase, Bench
    * untimed): the pre-watermark state a production index reaches
    * between maintenance windows.
    */
  def e13Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val w = e13WorkDir(dir)
    Fixture.once(spark, w,
        s"embeddings:${emStamp(spark, dir)}:ivfpq-n16-m8-c16-i3-policy6-cellpart-v4-staged") {
      val em = Tables.embeddings(spark, dir)
      graft.operators.AnnIndex.write(em, "vec_id", "embedding", s"$w/index",
        nList = 16, m = 8, codes = 16, iters = 3)
      graft.operators.AnnIndex.tombstone(spark, s"$w/index", e11Evictees(em))
      (0 until e13Watermark - 1).foreach { wave =>
        val n = graft.operators.AnnIndex.maintainAppend(
          e13Wave(em, wave), "vec_id", "embedding", s"$w/index",
          appendsWatermark = e13Watermark)
        assert(n == wave + 1, s"policy must not fire under the watermark (got $n)")
      }
      // stage the fragmented pre-watermark state beside the live store:
      // the timed query's maintenance is CONVERGENT (the sixth wave
      // appends and the policy compacts exactly once), so a re-run —
      // the per-cell budget retry, or a second Bench pass on a warm
      // workdir — would find the wave absorbed and time serve-only,
      // and a best-of-two adjudication could excuse a genuine
      // compaction regression with that cheap converged time (r19
      // ADVICE #2). The staged copy lets every run REPLAY the gated
      // work from the same pre-watermark state (e12's pristine-store
      // restart-replay convention).
      val hconf = spark.sparkContext.hadoopConfiguration
      val ix = new org.apache.hadoop.fs.Path(s"$w/index")
      graft.operators.Stores.duplicate(ix.getFileSystem(hconf), ix,
        new org.apache.hadoop.fs.Path(s"$w/index_staged"), hconf)
    }
  }

  private def e13(spark: SparkSession, dir: String): DataFrame = {
    e13Setup(spark, dir)
    val w = e13WorkDir(dir)
    val em = Tables.embeddings(spark, dir)
    // restore the staged fragmented copy unless the store is EXACTLY
    // the pre-window state (counter 5 AND the sixth wave not yet
    // absorbed): a converged store (the policy compacted, counter 0)
    // must replay so re-runs re-time the append + compaction instead
    // of serve-only, and a crash INSIDE the window (wave appended,
    // counter not yet reset — mid-compact) must replay too, or every
    // later run would find the wave absorbed under a pre-fold counter
    // and time serve-only forever (the p09 predicate). The first run
    // after setup skips the copy entirely.
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(w).getFileSystem(hconf)
    val preWindow =
      graft.operators.AnnIndex.appendsSinceCompact(spark, s"$w/index") ==
        e13Watermark - 1 && {
        val stored = graft.operators.AnnIndex.codes(spark, s"$w/index")
        !e13Wave(em, e13Watermark - 1)
          .join(stored.select(col(stored.schema.fieldNames.head).as("vec_id")),
            Seq("vec_id"), "left_anti")
          .isEmpty
      }
    if (!preWindow) {
      fs.delete(new org.apache.hadoop.fs.Path(s"$w/index"), true)
      graft.operators.Stores.duplicate(
        fs, new org.apache.hadoop.fs.Path(s"$w/index_staged"),
        new org.apache.hadoop.fs.Path(s"$w/index"), hconf)
    }
    // the maintenance, timed: the watermark-crossing wave through the
    // policy — append the missing entrants (crash convergence), fire
    // the scheduled compaction, then prove the serve unchanged
    val stored = graft.operators.AnnIndex.codes(spark, s"$w/index")
    val wave = e13Wave(em, e13Watermark - 1)
      .join(stored.select(col(stored.schema.fieldNames.head).as("vec_id")),
        Seq("vec_id"), "left_anti")
    graft.operators.AnnIndex.maintainAppend(
      wave, "vec_id", "embedding", s"$w/index", appendsWatermark = e13Watermark)
    refreshedExhaustiveServe(spark, dir, s"$w/index")
  }
  private val e11Sql =
    """WITH orig AS (SELECT vec_id, embedding AS e FROM embeddings),
      |ent AS (
      |  SELECT src_id + 3000000 AS vec_id,
      |    list_transform(range(1, len(e) + 1),
      |      i -> CAST(CAST(e[i] AS DOUBLE) * (1.0 + (((src_id * 31 + (i - 1) * 7) % 100) / 100.0 - 0.5) * 0.04) AS FLOAT)) AS e
      |  FROM (SELECT vec_id AS src_id, e FROM orig WHERE vec_id % 10 = 5)
      |),
      |corpus AS (
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM orig WHERE vec_id % 4 <> 1
      |  UNION ALL
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM ent
      |),
      |q AS (
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM orig WHERE vec_id < 10
      |  UNION ALL
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM ent
      |  WHERE vec_id >= 3000000 AND vec_id < 3000030
      |),
      |scored AS (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    ROUND(list_dot_product(q.v, c.v) / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)), 6) AS cosine
      |  FROM q CROSS JOIN corpus c
      |  WHERE q.vec_id <> c.vec_id
      |), ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored
      |)
      |SELECT query_id, rank, neighbor_id, cosine
      |FROM ranked WHERE rank <= 5
      |ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------------
  // s12 — streaming ANN serve (§2.9 composed with e08): query-vector
  // micro-batches probe the SAME stored IVF-PQ index inside
  // foreachBatch; the drained log must equal the one-shot serve (empty
  // stream state — per-query independence), and the exhaustive gated
  // configuration makes that equal brute force, so the e01 oracle gates
  // the whole staged-feed → stored-index → per-trigger-serve path.
  // ---------------------------------------------------------------------
  private def s12(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestAnn
      .run(spark, dir, e08WorkDir(dir))

  // ---------------------------------------------------------------------
  // s13 — ANN recall-drift monitor (the re-publish decision the frozen-
  // model contract defers, AnnIndex.scala's operating note made
  // MEASURED): per arriving batch, append frozen-model codes to the
  // stored index, serve a bounded deterministic sample of the batch in
  // the PRODUCTION configuration (nProbe 4/16, shortlist 32), compare
  // against exact brute force over base ∪ batch, and emit one
  // (lot, n_requetes, k, rappel, alarme) row — alarm past the floor
  // means "re-publish now". The staged feed plants a drifted
  // distribution in its last lot (constant component offset — a regime
  // the frozen quantizer never saw), so in the PRODUCTION configuration
  // healthy lots stay above the floor and the drifted lot must alarm —
  // StreamingSpec pins that (it also recomputes one lot's recall
  // independently, brute vs served, shared code with neither path). The
  // CATALOG GATE runs the same machinery in the EXHAUSTIVE
  // configuration (nProbe = nList, unbounded shortlist — e05/e06's
  // trick for oracle-checking a trained-model serve): there served ≡
  // brute by theorem, recall ≡ 1.0, and every row is SQL-derivable, so
  // the DuckDB oracle hash-gates the append → store read-back → serve →
  // brute → recall-join machinery end to end.
  // ---------------------------------------------------------------------
  private def s13WorkDir(dir: String): String = Fixture.workDir("s13", dir)

  /** Feed staging + store publish — load-phase setup (Bench, untimed). */
  def s13Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestAnnDrift.setup(spark, dir, s13WorkDir(dir))

  private def s13(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestAnnDrift
      .runExhaustive(spark, dir, s13WorkDir(dir))

  // the gate's drift rows in the exhaustive configuration are fully
  // SQL-derivable: the feed/lot/sample arithmetic reproduces n_requetes,
  // and served ≡ brute by theorem (all cells probed, every candidate
  // exactly re-ranked; the planted rank-1 truth — the query itself is in
  // base ∪ lot — is tie-free), so rappel ≡ 1.0 and the alarm stays off.
  // A broken append/read-back/serve/recall-join makes rappel ≠ 1.0 and
  // the hash mismatches. Production-config alarm semantics (drifted lot
  // must fire, healthy lots must not) stay pinned in StreamingSpec.
  private val s13Sql =
    """WITH feed AS (
      |  SELECT vec_id + ((vec_id % 4) + 1) * 1000000 AS fid,
      |         (vec_id % 4) AS lot
      |  FROM embeddings WHERE vec_id % 3 = 0
      |)
      |SELECT CAST(lot AS INT) AS lot,
      |  CAST(COUNT(*) AS BIGINT) AS n_requetes,
      |  CAST(1 AS INT) AS k,
      |  CAST(1.0 AS DOUBLE) AS rappel,
      |  FALSE AS alarme
      |FROM feed
      |WHERE fid % 7 = 0
      |GROUP BY lot
      |ORDER BY lot""".stripMargin

  // ---------------------------------------------------------------------
  // s14 — streaming BPE-ID shard emission: the trainer-ready tier's
  // continuous form. A tokenizer is PUBLISHED once (trained at publish
  // time, persisted, frozen — the e09 frozen-model convention applied
  // to the tokenizer); arriving document micro-batches encode with the
  // stored model and append id SLICES at global positions, continuing
  // the running offset — sequences straddling a batch boundary splice
  // exactly (StreamingSpec pins drained == one-shot at sequence grain).
  // Gate: the d39 losslessness convention over the DRAINED log — every
  // document's slices reassemble and DECODE to the oracle's direct md5
  // of its normalized text.
  // ---------------------------------------------------------------------
  private[graft] def s14WorkDir(dir: String): String = Fixture.workDir("s14", dir)

  def s14Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestIdShards.setup(spark, dir, s14WorkDir(dir))

  private def s14(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestIdShards
      .run(spark, dir, s14WorkDir(dir))

  // ---------------------------------------------------------------------
  // e03 — embedding near-duplicate pairs via multi-table hyperplane LSH.
  // The fixture has no natural cosine-0.99 pairs (max ≈ 0.51), so the
  // corpus is the fixture plus a jittered copy of itself (±2% arithmetic
  // per-component noise, cosine ≈ 0.9999): every planted pair
  // (id, id+1e6) must surface. The oracle recomputes ALL pairs ≥ 0.99
  // exhaustively, so the gate checks LSH recall (miss probability per
  // pair ≈ (1-p^nBits)^nTables ≈ 2e-12 at cosine 0.9999) AND the exact
  // cosine verification values.
  // ---------------------------------------------------------------------
  private def e03(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    // deterministic arithmetic jitter (not hash-based, e03Corpus) so the
    // oracle can rebuild the identical float32 corpus: factor_j =
    // 1 + ((id*31 + j*7) mod 100 / 100 - 0.5) * 0.04, double math
    // rounded to float
    // bucket width auto-sizes from parquet-footer metadata (the corpus is
    // a union of two projections over the same bare scan) — construction
    // runs NO Spark job, asserted by DedupSpec's job-count case
    Dedup
      .embeddingNearDup(e03Corpus(em), "vec_id", "embedding", threshold = 0.99,
        nTables = 8)
  }
  private val e03Sql =
    """WITH orig AS (SELECT vec_id, embedding AS e FROM embeddings),
      |jit AS (
      |  SELECT src_id + 1000000 AS vec_id,
      |    list_transform(range(1, len(e) + 1),
      |      i -> CAST(CAST(e[i] AS DOUBLE) * (1.0 + (((src_id * 31 + (i - 1) * 7) % 100) / 100.0 - 0.5) * 0.04) AS FLOAT)) AS e
      |  FROM (SELECT vec_id AS src_id, e FROM orig)
      |),
      |allv AS (
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM orig
      |  UNION ALL
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM jit
      |),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |    ROUND(list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6) AS cosine
      |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      |)
      |SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.99 ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------------
  // d26 — SEMANTIC dedup scrub (SemDeDup shape): near-identical
  // EMBEDDINGS (cosine ≥ 0.99, LSH-bucketed candidates — e03's pair
  // machinery) → connected components (d09's frontier propagation) →
  // keep the min-id survivor per cluster. The embedding-space analogue
  // of d25's MinHash scrub: it removes semantic duplicates that share
  // no tokens. Same planted corpus as e03 (fixture ∪ arithmetic-jitter
  // copy — the fixture has no natural cosine-0.99 pairs), so every
  // planted copy must be scrubbed and every original survive; the
  // oracle recomputes exhaustive pairs + transitive closure.
  // ---------------------------------------------------------------------
  private[graft] def vecPairsStoreDir(dir: String): String = Fixture.workDir("vpairs", dir)

  /** The planted-pair corpus every embedding-space screen cell shares
    * (the e03 convention): the fixture plus its ±2% arithmetic-jitter
    * copy under a disjoint id range.
    */
  private def e03Corpus(em: DataFrame): DataFrame =
    em.unionByName(em.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(
        col("embedding"),
        (x, j) =>
          (x.cast(DoubleType) *
            (lit(1.0) + (pmod(col("vec_id") * 31 + j.cast(LongType) * 7, lit(100L)).cast(DoubleType) / 100.0 - 0.5) * 0.04))
            .cast(FloatType)
      ).as("embedding")))

  /** One-time publish of the verified embedding near-dup PAIR relation
    * (the e03 screen's output over the planted corpus) — the vector
    * twin of [[pairsSetup]]: e03 gates the screen live; d26's semantic
    * scrub and e07's positive mining are downstream consumers of the
    * persisted pairs. Load-phase setup, Bench untimed; idempotent per
    * input via the fingerprint marker.
    */
  def vecPairsSetup(spark: SparkSession, dir: String): Unit = synchronized {
    val st = vecPairsStoreDir(dir)
    Fixture.once(spark, st, s"embeddings:${emStamp(spark, dir)}:hyperlsh8t-c099-vecpairs-v1") {
      Dedup.embeddingNearDup(
          e03Corpus(Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))),
          "vec_id", "embedding", threshold = 0.99, nTables = 8)
        .write.mode("overwrite").parquet(s"$st/pairs")
    }
  }

  /** The published embedding pair relation (id_a, id_b, cosine). */
  private def vecPairsStore(spark: SparkSession, dir: String): DataFrame = {
    vecPairsSetup(spark, dir)
    spark.read.parquet(s"${vecPairsStoreDir(dir)}/pairs")
  }

  private def d26(spark: SparkSession, dir: String): DataFrame = {
    val em = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val corpus = e03Corpus(em)
    val pairs = vecPairsStore(spark, dir).select(col("id_a"), col("id_b"))
    val remove = Dedup
      .clusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("vec_id"))
    corpus
      .join(remove, Seq("vec_id"), "left_anti")
      .select(col("vec_id"))
  }
  private val d26Sql =
    """WITH RECURSIVE orig AS (SELECT vec_id, embedding AS e FROM embeddings),
      |jit AS (
      |  SELECT src_id + 1000000 AS vec_id,
      |    list_transform(range(1, len(e) + 1),
      |      i -> CAST(CAST(e[i] AS DOUBLE) * (1.0 + (((src_id * 31 + (i - 1) * 7) % 100) / 100.0 - 0.5) * 0.04) AS FLOAT)) AS e
      |  FROM (SELECT vec_id AS src_id, e FROM orig)
      |),
      |allv AS (
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM orig
      |  UNION ALL
      |  SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM jit
      |),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |  FROM allv a JOIN allv b ON a.vec_id < b.vec_id
      |  WHERE ROUND(list_dot_product(a.v, b.v) / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6) >= 0.99
      |),
      |edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b, id_a FROM pairs
      |),
      |reach(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
      |),
      |removed AS (
      |  SELECT id FROM (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
      |  WHERE id <> cluster_id
      |)
      |SELECT vec_id FROM allv
      |WHERE vec_id NOT IN (SELECT id FROM removed)
      |ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------------
  // m01 — multimodal metadata extraction over binary payloads: byte
  // length + content digest (sha256 matches DuckDB's over UTF-8 bytes).
  // ---------------------------------------------------------------------
  private def m01(spark: SparkSession, dir: String): DataFrame =
    Multimodal
      .fromDocuments(Tables.documents(spark, dir))
      .select(
        col("media_id"),
        col("media_type"),
        octet_length(col("payload")).as("n_bytes"),
        sha2(col("payload"), 256).as("digest"),
        col("meta.width").as("largeur")
      )
  private val m01Sql =
    """SELECT doc_id AS media_id,
      |  CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  octet_length(encode(text)) AS n_bytes,
      |  sha256(text) AS digest,
      |  CAST((doc_id % 8) * 160 + 320 AS INTEGER) AS largeur
      |FROM documents
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------------
  // m02 — per-partition feature extraction over binary payloads (the
  // mapInPandas-equivalent batch path). The stub kernel accumulates
  // exact integer byte sums then divides once, so feat0 is a
  // bit-deterministic float32 the oracle recomputes from the UTF-8 hex
  // bytes — the whole mapPartitions plumbing is hash-gated.
  // ---------------------------------------------------------------------
  private def m02(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.fromDocuments(Tables.documents(spark, dir))
    Multimodal
      .extractFeatures(media, featDim = 16)
      .select(
        col("media_id"),
        col("media_type"),
        size(col("features")).as("dim"),
        element_at(col("features"), 1).as("feat0")
      )
  }
  private val m02Sql =
    """WITH b AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, unnest(range(octet_length(encode(text)))) AS i
      |  FROM documents
      |),
      |s AS (
      |  SELECT doc_id, SUM(CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT)) AS s0
      |  FROM b WHERE i % 16 = 0 GROUP BY doc_id
      |)
      |SELECT d.doc_id AS media_id,
      |  CASE d.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
      |  16 AS dim,
      |  CAST(CAST(coalesce(s.s0, 0) AS DOUBLE) / 255.0 AS FLOAT) AS feat0
      |FROM documents d LEFT JOIN s ON d.doc_id = s.doc_id
      |ORDER BY media_id""".stripMargin

  // ---------------------------------------------------------------------
  // m03 — REAL image resize, decoded-pixel gated: engine-generated
  // quadrant PNGs (a doc-keyed constant color per quadrant) run the
  // production decode → bilinear rescale → PNG re-encode kernel
  // (Multimodal.resizeImagesReal, javax.imageio — the JDK codec, no
  // external library), and the gate DECODES THE EMITTED BYTES and
  // samples a pixel deep inside each quadrant: constant regions are
  // exact under any convex interpolation, so the oracle states the
  // color in closed form while the engine must run the full real-codec
  // chain (and the quadrant layout pins the geometric mapping — a
  // flip/transpose/mis-crop breaks the hash). The stub byte-scaling
  // resize remains spec-covered plumbing (MultimodalSpec).
  // ---------------------------------------------------------------------
  private def m03(spark: SparkSession, dir: String): DataFrame =
    Multimodal
      .decodeQuadSample(
        Multimodal.resizeImagesReal(
          Multimodal.syntheticQuadPng(Tables.documents(spark, dir), everyNth = 5), 64, 64))
  private val m03Sql =
    """SELECT doc_id AS media_id, CAST(q AS INT) AS quadrant,
      |  64 AS largeur, 64 AS hauteur,
      |  CAST(((7 * doc_id + 37 * q + 11) % 256) * 65536
      |     + ((17 * doc_id + 23 * q + 5) % 256) * 256
      |     + ((13 * doc_id + 41 * q + 3) % 256) AS INT) AS couleur
      |FROM documents CROSS JOIN (SELECT unnest(range(4)) AS q) qs
      |WHERE doc_id % 15 = 0
      |ORDER BY media_id, quadrant""".stripMargin

  // ---------------------------------------------------------------------
  // m04 — frame sampling over video payloads: n byte slices per row (the
  // explode-wide-binary pattern). Offsets are integer-defined, so the
  // oracle reslices the UTF-8 hex stream and digests the same bytes
  // (md5 over the uppercase hex rendering, which both engines emit —
  // DuckDB 1.0 has no BLOB-digest function).
  // ---------------------------------------------------------------------
  private def m04(spark: SparkSession, dir: String): DataFrame =
    Multimodal
      .sampleFrames(Multimodal.fromDocuments(Tables.documents(spark, dir)), 4)
      .select(
        col("media_id"),
        col("frame_no"),
        octet_length(col("frame_bytes")).as("n_bytes"),
        md5(hex(col("frame_bytes"))).as("digest")
      )
  private val m04Sql =
    """WITH v AS (
      |  SELECT doc_id, hex(encode(text)) AS hx, octet_length(encode(text)) AS total
      |  FROM documents WHERE doc_id % 3 = 2
      |),
      |f AS (
      |  SELECT doc_id, unnest(range(4)) AS frame_no, hx, total // 4 AS step FROM v
      |),
      |sl AS (
      |  SELECT doc_id, frame_no,
      |    substr(hx, CAST(2 * frame_no * step + 1 AS INT), CAST(2 * greatest(step, 1) AS INT)) AS fhx
      |  FROM f
      |)
      |SELECT doc_id AS media_id, frame_no,
      |  CAST(length(fhx) // 2 AS INT) AS n_bytes,
      |  md5(fhx) AS digest
      |FROM sl
      |ORDER BY media_id, frame_no""".stripMargin

  // ---------------------------------------------------------------------
  // m06 — INTERLEAVED multimodal packing: the pack tier meets the media
  // tier. Interleaved documents (text tokens with per-media placeholder
  // RUNS at reading-order positions — Multimodal.interleaved) go through
  // the UNCHANGED Pack machinery (placeholders are tokens; sequences cut
  // across documents and media runs straddle boundaries), and the gate
  // reassembles each doc from slice provenance and must reproduce BOTH
  // tiers: the placeholder-stripped text hash, each run's position and
  // width in the reassembled stream (array_position proves the re-cut
  // moved nothing), and the media payload fingerprint sequence from the
  // parallel media columns — all stated in closed form by the oracle.
  // ---------------------------------------------------------------------
  private def m06(spark: SparkSession, dir: String): DataFrame = {
    val inter = Multimodal.interleaved(Tables.documents(spark, dir))
      .localCheckpoint(true) // feeds the pack AND the report join
    val back = Pack
      .packedSequencesTokens(inter.select(col("doc_id"), col("jetons")),
        "doc_id", "jetons", 256)
      .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
      .select(col("d.doc_id").as("doc_id"),
        (col("seq_id") * lit(256L) + col("d.debut_dans_seq")).as("deb"),
        expr("slice(tokens, d.debut_dans_seq + 1, d.n_tokens)").as("tranche"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("deb"), col("tranche")))),
        p => p.getField("tranche"))).as("toks"))
    back
      .join(inter.drop("jetons"), Seq("doc_id"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_jetons"),
        (array_position(col("toks"), "<img>") - 1).as("debut_image"),
        size(filter(col("toks"), t => t === "<img>")).as("n_jetons_image"),
        (array_position(col("toks"), "<aud>") - 1).as("debut_audio"),
        size(filter(col("toks"), t => t === "<aud>")).as("n_jetons_audio"),
        md5(concat_ws(" ",
          filter(col("toks"), t => t =!= "<img>" && t =!= "<aud>"))).as("empreinte_texte"),
        sha2(encode(col("media_image"), "UTF-8"), 256).as("empreinte_image"),
        sha2(encode(col("media_audio"), "UTF-8"), 256).as("empreinte_audio"),
        // the reassembled runs must sit exactly where the interleave
        // placed them — a re-cut that shifted anything breaks these
        (array_position(col("toks"), "<img>") - 1 === col("debut_image"))
          .as("position_image_ok"),
        (array_position(col("toks"), "<aud>") - 1 === col("debut_audio"))
          .as("position_audio_ok"))
  }
  private val m06Sql =
    """WITH arr AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS a, text
      |  FROM documents
      |  WHERE doc_id % 3 = 0 AND text IS NOT NULL AND length(trim(text)) > 0
      |)
      |SELECT doc_id,
      |  CAST(len(a) + 12 AS BIGINT) AS n_jetons,
      |  CAST(len(a) // 3 AS BIGINT) AS debut_image,
      |  CAST(8 AS INT) AS n_jetons_image,
      |  CAST((2 * len(a)) // 3 + 8 AS BIGINT) AS debut_audio,
      |  CAST(4 AS INT) AS n_jetons_audio,
      |  md5(array_to_string(a, ' ')) AS empreinte_texte,
      |  sha256(substring(text, 1, length(text) // 2)) AS empreinte_image,
      |  sha256(substring(text, length(text) // 2 + 1, length(text))) AS empreinte_audio,
      |  TRUE AS position_image_ok,
      |  TRUE AS position_audio_ok
      |FROM arr
      |ORDER BY doc_id""".stripMargin
  // payloads → deterministic centered byte-histogram features
  // (mapPartitions batch kernel, exact integer centering — engine-
  // reproducible from the raw bytes) → hyperplane-LSH embedding
  // near-dup pairs at cosine ≥ 0.99. The fixture plants a near-copy of
  // every 5th image (id + 1e6, last byte incremented — feature cosine
  // ≈ 0.99999 to its source, vs ≤ ~0.977 between distinct payloads);
  // the oracle recomputes the features from the UTF-8 hex bytes and ALL
  // pairs exhaustively, so the gate checks LSH recall AND the exact
  // cosine verification. The production path runs the same screen over
  // imageGridFeatures (real decoded pixels) — MultimodalSpec.
  // ---------------------------------------------------------------------
  private def m05(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id").as("media_id"), col("text"))
    val planted = base
      .filter(pmod(col("media_id"), lit(15)) === 0)
      .select(
        (col("media_id") + 1000000L).as("media_id"),
        concat(
          expr("substring(text, 1, length(text) - 1)"),
          expr("char(ascii(substring(text, -1, 1)) + 1)")).as("text"))
    val media = base.unionByName(planted)
      .select(col("media_id"), encode(col("text"), "UTF-8").as("payload"))
    val feats = Multimodal.centeredByteFeatures(media, featDim = 16)
    // the feature relation is computed (not a scan), so the bucket
    // width is sized explicitly from the known media row count — one
    // narrow count over the projection, the documented contract
    val bits = Dedup.autoBits(media.count())
    Dedup
      .embeddingNearDup(feats, "media_id", "features",
        threshold = 0.99, nBits = bits, nTables = 8)
  }
  private val m05Sql =
    """WITH img AS (
      |  SELECT doc_id AS media_id, text FROM documents WHERE doc_id % 3 = 0
      |), planted AS (
      |  SELECT media_id + 1000000 AS media_id,
      |    substr(text, 1, length(text) - 1) || chr(ascii(substr(text, -1, 1)) + 1) AS text
      |  FROM img WHERE media_id % 15 = 0
      |), media AS (
      |  SELECT media_id, text FROM img UNION ALL SELECT media_id, text FROM planted
      |), by AS (
      |  SELECT media_id, hex(encode(text)) AS hx,
      |    unnest(range(octet_length(encode(text)))) AS i
      |  FROM media
      |), f AS (
      |  SELECT media_id, CAST(i % 16 AS INT) AS j,
      |    CAST(SUM(CAST('0x' || substr(hx, CAST(2*i+1 AS INT), 2) AS INT)) AS BIGINT) AS s
      |  FROM by GROUP BY 1, 2
      |), tot AS (
      |  SELECT media_id, CAST(SUM(s) AS BIGINT) AS st FROM f GROUP BY 1
      |), vecs AS (
      |  SELECT f.media_id, list(CAST(16 * f.s - tot.st AS DOUBLE) ORDER BY f.j) AS v
      |  FROM f JOIN tot USING (media_id) GROUP BY f.media_id
      |), pairs AS (
      |  SELECT a.media_id AS id_a, b.media_id AS id_b,
      |    ROUND(list_dot_product(a.v, b.v)
      |          / sqrt(list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6) AS cosine
      |  FROM vecs a JOIN vecs b ON a.media_id < b.media_id
      |)
      |SELECT id_a, id_b, cosine FROM pairs WHERE cosine >= 0.99
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------------
  // u01 — MERGE upsert semantics (SURVEY §2.1 S7): an updates batch (every
  // even orderkey, price bumped) merged new-wins into the current
  // snapshot; verified via post-merge aggregate.
  // ---------------------------------------------------------------------
  private def u01(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val current = o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
    val updates = o
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
    Upsert
      .merge(current, updates, Seq("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType).as("ca")
      )
  }
  private val u01Sql =
    """WITH current AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
      |updates AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority
      |            FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT * FROM updates
      |  UNION ALL
      |  SELECT * FROM current WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
      |)
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS ca
      |FROM merged
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // u02 — ON CONFLICT DO NOTHING semantics (SURVEY §2.1 S8): existing
  // rows win; incoming fills absent keys only (dim_date's idempotent
  // insert). Same construction as u01 so both conflict policies are
  // observable against the same base.
  // ---------------------------------------------------------------------
  private def u02(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val current = o.filter(pmod(col("o_orderkey"), lit(3)) =!= 0)
    val incoming = o
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 10.0)
    Upsert
      .insertIfAbsent(current, incoming, Seq("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast(DecimalType(12, 2))).cast(DoubleType).as("ca")
      )
  }
  private val u02Sql =
    """WITH current AS (SELECT * FROM orders WHERE o_orderkey % 3 <> 0),
      |incoming AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice + 10.0 AS o_totalprice, o_orderdate, o_orderpriority
      |             FROM orders WHERE o_orderkey % 2 = 0),
      |merged AS (
      |  SELECT * FROM current
      |  UNION ALL
      |  SELECT * FROM incoming WHERE o_orderkey NOT IN (SELECT o_orderkey FROM current)
      |)
      |SELECT o_orderstatus, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS ca
      |FROM merged
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // w01 — partitioned write + pruned read-back (SURVEY §2.1 S3: the
  // monthly payment partitions). Writes events partitioned by month under
  // java.io.tmpdir, reads back with a month predicate — partition pruning
  // asserted in PlanSpec.
  // ---------------------------------------------------------------------
  private def w01(spark: SparkSession, dir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_w01_events"
    val events = Tables.events(spark, dir)
    events
      .withColumn("mois", date_format(col("ts"), "yyyy-MM"))
      .write
      .mode("overwrite")
      .partitionBy("mois")
      .parquet(out)
    // prune to the EARLIEST month present — derived from the data like
    // the reference's partition queries (requetes_clees.sql:3-7), not a
    // hard-coded literal that goes silently empty when the fixture's
    // time span shifts. min over the PARTITION column of the table just
    // written: every data column is pruned, so the value comes from the
    // directory names — no second scan of the events source. (Lexico
    // min of zero-padded yyyy-MM == chronological min.)
    val written = spark.read.parquet(out)
    val firstMonth = written.agg(min(col("mois"))).head().getString(0)
    written
      .filter(col("mois") === firstMonth)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total_value")
      )
  }
  private val w01Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |WHERE strftime(ts, '%Y-%m') = (SELECT MIN(strftime(ts, '%Y-%m')) FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // k01 — salted skew join (SURVEY §4 skew): events carry only 5 distinct
  // event_type keys over the whole table — the canonical hot-key shape.
  // The salted join spreads each key over 8 reducers and must produce
  // row-identical results to the plain join the oracle runs.
  // ---------------------------------------------------------------------
  private def k01(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_type"), col("value"))
    val dim = e.groupBy(col("event_type")).agg(avg(col("value")).as("valeur_moyenne"))
    graft.operators.SkewJoin
      .salted(e, dim, "event_type", salts = 8)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"),
        round(max(col("valeur_moyenne")), 6).as("valeur_moyenne")
      )
  }
  private val k01Sql =
    """WITH dim AS (SELECT event_type, AVG(value) AS valeur_moyenne FROM events GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
      |  ROUND(MAX(d.valeur_moyenne), 6) AS valeur_moyenne
      |FROM events e JOIN dim d ON e.event_type = d.event_type
      |GROUP BY e.event_type
      |ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------------------
  // io02 — bucketed co-partitioned join (SURVEY §4 join strategy): both
  // sides written bucketed+sorted on the join key, merge-join hint forces
  // the sort-merge path — which then needs NO shuffle and NO sort below
  // the join (asserted in PlanSpec). The 100 TB pattern for repeated
  // fact-to-fact joins.
  // ---------------------------------------------------------------------
  /** One-time load phase for io02: writes both join sides bucketed +
    * sorted on the join key. Idempotent per input dir (marker file;
    * table names and paths carry a dir hash): after the first write, a
    * fresh session re-attaches with metadata-only DDL over the existing
    * bucket files. Split from the query — the bucketed write is setup
    * (TPC-style load phase), not part of the measured shuffle-free join;
    * `Bench` invokes it during untimed warmup.
    */
  def io02Setup(spark: SparkSession, dir: String): (String, String) = synchronized {
    val h = Integer.toHexString(dir.hashCode)
    val base = Fixture.workDir("io02_buckets", dir)
    val oTab = s"graft_orders_bucketed_$h"
    val lTab = s"graft_lineitem_bucketed_$h"
    // prune BEFORE the bucketed write: the downstream join only needs
    // key + status/price, so don't pay to write (or later scan) the rest
    val orders = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderstatus"))
    val lines = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_extendedprice"))
    // the marker records the source files' (length, mtime) fingerprint:
    // a regenerated fixture at the same path invalidates the buckets
    // instead of silently serving stale data
    val fingerprint = Seq("orders", "lineitem")
      .map(t => s"$t:${Fixture.stamp(spark, s"$dir/$t.parquet")}").mkString("\n")
    Fixture.once(spark, base, fingerprint) {
      orders.write.mode("overwrite")
        .option("path", s"$base/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(oTab)
      lines.write.mode("overwrite")
        .option("path", s"$base/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lTab)
    }
    // a fresh session re-attaches the existing bucket files
    def register(tab: String, df: DataFrame, key: String, sub: String): Unit =
      if (!spark.catalog.tableExists(tab))
        spark.sql(
          s"CREATE TABLE $tab (${df.schema.toDDL}) USING parquet " +
            s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS LOCATION '$base/$sub'")
    register(oTab, orders, "o_orderkey", "orders")
    register(lTab, lines, "l_orderkey", "lineitem")
    (oTab, lTab)
  }

  private def io02(spark: SparkSession, dir: String): DataFrame = {
    val (oTab, lTab) = io02Setup(spark, dir)
    val o = spark.table(oTab)
    val li = spark.table(lTab)
    li.join(o.hint("merge"), li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(
        count(lit(1)).as("n_lignes"),
        sum(col("l_extendedprice").cast(DecimalType(12, 2))).cast(DoubleType).as("ca_lignes")
      )
  }
  private val io02Sql =
    """SELECT o_orderstatus, COUNT(*) AS n_lignes,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS ca_lignes
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------------
  // io03 — small-file compaction (§2.9): rewrite the documents table
  // range-clustered on doc_id and return the compacted content — the
  // oracle proves the rewrite is content-exact (no row lost, duplicated
  // or mutated). File-count and min/max-clustering assertions live in
  // CompactSpec; this gate covers the data-preservation contract.
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // d14 — incremental dedup: screen an arriving batch against the
  // standing corpus (Dedup.minhashLshAgainst) — the 100 TB ingestion
  // flow. Batch = every 50th doc (the planted near-dup copies), corpus
  // = the rest; the oracle is the exhaustive cross-split Jaccard.
  // ---------------------------------------------------------------------
  private def d14(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val batch = docs.filter(col("doc_id") % 50 === 0 && col("doc_id") > 0)
    val corpus = docs.filter(!(col("doc_id") % 50 === 0 && col("doc_id") > 0))
    Dedup
      .minhashLshAgainst(batch, corpus, "doc_id", "text",
        shingleN = 3, k = 64, bands = 32, threshold = 0.5)
  }
  private val d14Sql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 1)),
      |      i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+2])) AS s
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
      |)
      |SELECT a.doc_id AS id_batch, b.doc_id AS id_corpus,
      |  ROUND(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE), 6) AS jaccard
      |FROM sh a JOIN sh b
      |  ON (a.doc_id % 50 = 0 AND a.doc_id > 0)
      | AND NOT (b.doc_id % 50 = 0 AND b.doc_id > 0)
      |WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |      / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
      |ORDER BY id_batch, id_corpus""".stripMargin

  // ---------------------------------------------------------------------
  // s06 — streaming ingestion screen (§2.9 × dedup tier): the d14
  // batch-vs-corpus screen run as a Structured Streaming feed — 4
  // micro-batches through foreachBatch, pairs appended per batch. The
  // drained log must equal the one-shot screen (same oracle as d14).
  // ---------------------------------------------------------------------
  private def s06WorkDir(dir: String): String = Fixture.workDir("s06", dir)

  /** Untimed load-phase setup for Bench: the feed staging and the
    * corpus signature store are published-once ingest artifacts, not
    * part of the measured per-batch screen (io02Setup pattern).
    */
  def s06Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestDedup.setup(spark, dir, s06WorkDir(dir))

  private def s06(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestDedup
      .run(spark, dir, s06WorkDir(dir))

  // ---------------------------------------------------------------------
  // s15 — streaming decontamination screen (§2.9 × the d16 operator):
  // arriving train batches are checked for eval-set gram collisions
  // against the PUBLISHED gram store (derived once when the benchmark
  // set lands) before they join the corpus. Zero cross-batch state, so
  // the drained per-doc report must equal the one-shot d16 screen —
  // same oracle.
  // ---------------------------------------------------------------------
  private def s15WorkDir(dir: String): String = Fixture.workDir("s15", dir)

  /** Feed staging + eval-gram store publish (load phase, Bench-untimed). */
  def s15Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestDecon.setup(spark, dir, s15WorkDir(dir))

  private def s15(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestDecon
      .run(spark, dir, s15WorkDir(dir))

  // ---------------------------------------------------------------------
  // s16 — streaming classifier screen (§2.9 × the d24 operator): the
  // hashed-NB quality filter trained once at publish, persisted, and
  // applied per micro-batch as one compiled pure-map pass. Drained ==
  // one-shot d24 — same oracle. The last batch screen without a
  // streaming twin.
  // ---------------------------------------------------------------------
  private def s16WorkDir(dir: String): String = Fixture.workDir("s16", dir)

  /** Feed staging + classifier publish (load phase, Bench-untimed). */
  def s16Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestClassify.setup(spark, dir, s16WorkDir(dir))

  private def s16(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestClassify
      .run(spark, dir, s16WorkDir(dir))

  // ---------------------------------------------------------------------
  // d21 — dataset mixing: the per-source sampling-weight recipe step.
  // Four weight tiers over the 20 synthetic sources (curated 2.5×,
  // baseline 1×, downsampled 0.5× and 0.25×); copy counts are
  // deterministic md5 decisions, so DuckDB recomputes every row
  // including the fractional upsample epochs.
  // ---------------------------------------------------------------------
  private val d21Weights: Map[String, Double] =
    (0 to 4).map(i => s"src$i" -> 2.5).toMap ++
      (5 to 9).map(i => s"src$i" -> 1.0).toMap ++
      (10 to 14).map(i => s"src$i" -> 0.5).toMap ++
      (15 to 19).map(i => s"src$i" -> 0.25).toMap
  private def d21(spark: SparkSession, dir: String): DataFrame =
    Mix
      .weightedSample(Tables.documents(spark, dir), "doc_id", "source", d21Weights)
  private val d21Sql =
    """WITH w AS (
      |  SELECT doc_id, source,
      |    CASE WHEN source IN ('src0','src1','src2','src3','src4') THEN 2.5
      |         WHEN source IN ('src5','src6','src7','src8','src9') THEN 1.0
      |         WHEN source IN ('src10','src11','src12','src13','src14') THEN 0.5
      |         ELSE 0.25 END AS poids,
      |    CAST('0x' || substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 4) AS INT) AS slot
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, source, poids,
      |    CAST(FLOOR(poids) AS INT)
      |      + CASE WHEN slot < CAST((poids - FLOOR(poids)) * 65536 AS INT) THEN 1 ELSE 0 END AS n_copies
      |  FROM w
      |)
      |SELECT doc_id, source, poids, n_copies,
      |  unnest(generate_series(0, n_copies - 1)) AS epoque
      |FROM c
      |WHERE n_copies >= 1
      |ORDER BY doc_id, epoque""".stripMargin

  // ---------------------------------------------------------------------
  // d27 — stratified quota sampling: exact per-source document COUNTS
  // (vs d21's per-source RATES), selected by md5 rank so the sample is
  // deterministic and engine-reproducible. The two-phase operator
  // (uniform-hash candidate threshold + checked fallback + rank over
  // candidates only — operators/Sampling) must equal the oracle's naive
  // full window rank bit-for-bit. Quotas exercise every branch:
  // larger-than-stratum (src0 keeps all), partial (src1), top-1 (src2),
  // explicit zero (src3), and the default for the unlisted 16 sources.
  // ---------------------------------------------------------------------
  private val d27Quotas: Map[String, Int] =
    Map("src0" -> 1000, "src1" -> 10, "src2" -> 1, "src3" -> 0)
  private def d27(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Sampling
      .stratifiedQuota(Tables.documents(spark, dir), "doc_id", "source",
        d27Quotas, defaultQuota = 5)
  private val d27Sql =
    """WITH q AS (
      |  SELECT doc_id, source,
      |    CASE source WHEN 'src0' THEN 1000 WHEN 'src1' THEN 10
      |                WHEN 'src2' THEN 1 WHEN 'src3' THEN 0 ELSE 5 END AS quota,
      |    md5(source || ':' || CAST(doc_id AS VARCHAR)) AS h
      |  FROM documents),
      |r AS (
      |  SELECT doc_id, source, quota,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rang
      |  FROM q)
      |SELECT doc_id, source AS stratum, CAST(rang AS BIGINT) AS rang
      |FROM r WHERE rang <= quota
      |ORDER BY stratum, rang""".stripMargin

  // ---------------------------------------------------------------------
  // s07 — streaming incremental sequence packing (§2.9 × packing tier):
  // the d18 concat-and-chunk packing run as a Structured Streaming feed
  // — 4 doc_id-ranged micro-batches, each resuming from the stored
  // global token offset. The drained log must equal the one-shot pack
  // (same oracle as d18).
  // ---------------------------------------------------------------------
  private def s07WorkDir(dir: String): String = Fixture.workDir("s07", dir)

  /** Untimed load-phase setup: the staged 4-range feed. */
  def s07Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestPack.setup(spark, dir, s07WorkDir(dir))

  private def s07(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestPack.run(spark, dir, s07WorkDir(dir))

  // ---------------------------------------------------------------------
  // s08 — streaming SEMANTIC ingestion screen: embedding micro-batches
  // probed against the persisted corpus sketch store (d26's pair
  // machinery in s06's incremental harness). Batch = jittered copies of
  // every 10th corpus vector (ids +1e6, cosine ≈ 0.9999 to source); the
  // oracle recomputes the exhaustive cross-split cosine pairs, so the
  // gate checks LSH recall AND the exact verification values across the
  // drained 4-micro-batch log.
  // ---------------------------------------------------------------------
  private def s08WorkDir(dir: String): String = Fixture.workDir("s08", dir)

  /** Untimed load-phase setup for Bench: feed staging + the corpus
    * sketch store are published-once ingest artifacts (the s06
    * pattern), not per-screen work.
    */
  def s08Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestSemantic.setup(spark, dir, s08WorkDir(dir))

  private def s08(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestSemantic
      .run(spark, dir, s08WorkDir(dir))

  private def s11WorkDir(dir: String): String = Fixture.workDir("s11", dir)

  /** Untimed load-phase setup for Bench: feed staging + the stored
    * corpus vocabulary distribution (the s06/s09 pattern).
    */
  def s11Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestDrift.setup(spark, dir, s11WorkDir(dir))

  // ---------------------------------------------------------------------
  // s11 — streaming ingest DRIFT monitor: micro-batches of arriving
  // docs (4 synthetic feed sources, one carrying a planted common-token
  // burst) KL-screened per source against the STORED corpus top-K
  // vocabulary distribution — the d37 selector applied incrementally,
  // never re-derived per batch. The feed is staged hash-partitioned by
  // source so a source never straddles a trigger and the drained log
  // equals the one-shot screen row-for-row. Oracle re-derives the
  // corpus vocabulary, rebuilds the feed and recomputes every KL in SQL.
  // ---------------------------------------------------------------------
  private def s11(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestDrift
      .run(spark, dir, s11WorkDir(dir))
  private val s11Sql =
    """WITH corpus_tok AS (
      |  SELECT unnest(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |       ELSE regexp_split_to_array(trim(text), '\s+') END) AS token
      |  FROM documents
      |), top AS (
      |  SELECT token, CAST(COUNT(*) AS BIGINT) AS ct FROM corpus_tok GROUP BY 1
      |  ORDER BY COUNT(*) DESC, token ASC LIMIT 500
      |), qt AS (
      |  SELECT CAST(SUM(ct) AS BIGINT) AS nq, CAST(COUNT(*) AS BIGINT) AS kk FROM top
      |), feed AS (
      |  SELECT doc_id + 2000000 AS doc_id,
      |    CASE WHEN doc_id % 20 = 0 THEN text || ' key key key key' ELSE text END AS text,
      |    'feed_' || CAST(doc_id % 4 AS VARCHAR) AS source
      |  FROM documents WHERE doc_id % 5 = 0
      |), t AS (
      |  SELECT doc_id, source,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM feed
      |), tok AS (
      |  SELECT source, unnest(toks) AS token FROM t
      |), st AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
      |), nd AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM feed GROUP BY 1
      |), cells AS (
      |  SELECT s.source, p.token, p.ct, COALESCE(st.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM feed) s
      |  CROSS JOIN top p
      |  LEFT JOIN st ON st.source = s.source AND st.token = p.token
      |), tot AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM cells GROUP BY 1
      |), contribs AS (
      |  SELECT c.source, c.token, c.c,
      |    ((CAST(c.c AS DOUBLE) + 0.5) / (CAST(tt.ns AS DOUBLE) + 0.5 * qt.kk))
      |      * ln(((CAST(c.c AS DOUBLE) + 0.5) / (CAST(tt.ns AS DOUBLE) + 0.5 * qt.kk))
      |           / ((CAST(c.ct AS DOUBLE) + 0.5) / (CAST(qt.nq AS DOUBLE) + 0.5 * qt.kk)))
      |      AS contrib
      |  FROM cells c JOIN tot tt USING (source) CROSS JOIN qt
      |), ranked AS (
      |  SELECT source, token, contrib,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY contrib DESC, token ASC) AS rn
      |  FROM contribs
      |), agg AS (
      |  SELECT source, ROUND(SUM(contrib), 6) AS kl,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens_vocab
      |  FROM contribs GROUP BY 1
      |)
      |SELECT a.source, nd.n_docs, a.n_tokens_vocab, a.kl,
      |  r.token AS token_principal, ROUND(r.contrib, 6) AS contrib_principal
      |FROM agg a
      |JOIN nd USING (source)
      |JOIN ranked r ON r.source = a.source AND r.rn = 1
      |ORDER BY a.source""".stripMargin

  private def s09WorkDir(dir: String): String = Fixture.workDir("s09", dir)

  /** Untimed load-phase setup for Bench: feed staging + the corpus
    * model store are published-once ingest artifacts (the s06/s08
    * pattern), not per-screen work.
    */
  def s09Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestQuality.setup(spark, dir, s09WorkDir(dir))

  // ---------------------------------------------------------------------
  // s09 — streaming ingest QUALITY screen: micro-batches of arriving
  // docs (with planted out-of-vocabulary tokens) perplexity-scored
  // against the STORED corpus bigram LM — the d29 model applied
  // incrementally, never retrained per batch. Oracle retrains the
  // corpus model and rescores the rebuilt feed entirely in SQL,
  // exercising the unseen-count smoothing path.
  // ---------------------------------------------------------------------
  private def s09(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestQuality
      .run(spark, dir, s09WorkDir(dir))
  private val s09Sql =
    """WITH arr AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
      |  FROM documents
      |), bl AS (
      |  SELECT doc_id, list_transform(range(1, len(a)), i -> [a[i], a[i+1]]) AS bs
      |  FROM arr WHERE len(a) >= 2
      |), bx AS (
      |  SELECT doc_id, unnest(bs) AS b FROM bl
      |), big AS (
      |  SELECT doc_id, b[1] AS w1, b[2] AS w2, COUNT(*) AS n FROM bx GROUP BY 1, 2, 3
      |), bic AS (
      |  SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12 FROM big GROUP BY 1, 2
      |), uni AS (
      |  SELECT w1, CAST(SUM(n) AS BIGINT) AS c1 FROM big GROUP BY 1
      |), voc AS (
      |  SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(a) AS tok FROM arr)
      |), feed AS (
      |  SELECT src_id + 1000000 AS doc_id,
      |         text || ' zzqx' || CAST(src_id % 7 AS VARCHAR) AS text
      |  FROM (SELECT doc_id AS src_id, text FROM documents WHERE doc_id % 10 = 0)
      |), arrb AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
      |  FROM feed
      |), blb AS (
      |  SELECT doc_id, list_transform(range(1, len(a)), i -> [a[i], a[i+1]]) AS bs
      |  FROM arrb WHERE len(a) >= 2
      |), bxb AS (
      |  SELECT doc_id, unnest(bs) AS b FROM blb
      |), bigb AS (
      |  SELECT doc_id, b[1] AS w1, b[2] AS w2, COUNT(*) AS n FROM bxb GROUP BY 1, 2, 3
      |), sc AS (
      |  SELECT bigb.doc_id, CAST(SUM(bigb.n) AS BIGINT) AS nb,
      |         SUM(bigb.n * ln((COALESCE(bic.c12, 0) + 0.5)
      |                         / (COALESCE(uni.c1, 0) + 0.5 * voc.v))) AS s
      |  FROM bigb LEFT JOIN bic USING (w1, w2) LEFT JOIN uni USING (w1), voc
      |  GROUP BY 1
      |)
      |SELECT f.doc_id,
      |  COALESCE(sc.nb, 0) AS n_bigrams,
      |  ROUND(sc.s / sc.nb, 6) AS lm_score,
      |  ROUND(exp(-sc.s / sc.nb), 6) AS ppl
      |FROM feed f LEFT JOIN sc ON f.doc_id = sc.doc_id
      |ORDER BY f.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // s10 — the COMPOSED streaming ingest pipeline (p02's streaming twin,
  // the production shape): each micro-batch runs corpus near-dup screen
  // → stored-LM quality screen (corpus-median bar fixed at publish
  // time) → incremental packing, all in ONE foreachBatch. The oracle
  // recomputes every stage from the raw table: exhaustive cross-split
  // Jaccard flags, the corpus-trained bigram LM with its quantile_cont
  // median, unseen-bigram smoothing for the batch, and the d18 packing
  // prefix sum over the kept docs.
  // ---------------------------------------------------------------------
  private def s10WorkDir(dir: String): String = Fixture.workDir("s10", dir)

  /** Untimed load-phase setup for Bench: feed staging + the signature /
    * LM / threshold stores are published-once ingest artifacts (the
    * s06/s08/s09 pattern), not per-batch work.
    */
  def s10Setup(spark: SparkSession, dir: String): Unit =
    graft.streaming.IngestCurate.setup(spark, dir, s10WorkDir(dir))

  private def s10(spark: SparkSession, dir: String): DataFrame =
    graft.streaming.IngestCurate
      .run(spark, dir, s10WorkDir(dir))
  private val s10Sql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 1)),
      |      i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+2])) AS s
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
      |), flagged AS (
      |  SELECT DISTINCT a.doc_id
      |  FROM sh a JOIN sh b
      |    ON (a.doc_id % 25 = 0 AND a.doc_id > 0)
      |   AND NOT (b.doc_id % 25 = 0 AND b.doc_id > 0)
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
      |), arrc AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
      |  FROM documents WHERE NOT (doc_id % 25 = 0 AND doc_id > 0)
      |), blc AS (
      |  SELECT doc_id, list_transform(range(1, len(a)), i -> [a[i], a[i+1]]) AS bs
      |  FROM arrc WHERE len(a) >= 2
      |), bxc AS (
      |  SELECT doc_id, unnest(bs) AS b FROM blc
      |), bigc AS (
      |  SELECT doc_id, b[1] AS w1, b[2] AS w2, COUNT(*) AS n FROM bxc GROUP BY 1, 2, 3
      |), bic AS (
      |  SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12 FROM bigc GROUP BY 1, 2
      |), uni AS (
      |  SELECT w1, CAST(SUM(n) AS BIGINT) AS c1 FROM bigc GROUP BY 1
      |), voc AS (
      |  SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(a) AS tok FROM arrc)
      |), scc AS (
      |  SELECT bigc.doc_id, CAST(SUM(bigc.n) AS BIGINT) AS nb,
      |         SUM(bigc.n * ln((bic.c12 + 0.5) / (uni.c1 + 0.5 * voc.v))) AS s
      |  FROM bigc JOIN bic USING (w1, w2) JOIN uni USING (w1), voc
      |  GROUP BY 1
      |), med AS (
      |  SELECT quantile_cont(ROUND(s / nb, 6), 0.5) AS m FROM scc
      |), arrb AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
      |  FROM documents WHERE doc_id % 25 = 0 AND doc_id > 0
      |), blb AS (
      |  SELECT doc_id, list_transform(range(1, len(a)), i -> [a[i], a[i+1]]) AS bs
      |  FROM arrb WHERE len(a) >= 2
      |), bxb AS (
      |  SELECT doc_id, unnest(bs) AS b FROM blb
      |), bigb AS (
      |  SELECT doc_id, b[1] AS w1, b[2] AS w2, COUNT(*) AS n FROM bxb GROUP BY 1, 2, 3
      |), scb AS (
      |  SELECT bigb.doc_id, CAST(SUM(bigb.n) AS BIGINT) AS nb,
      |         SUM(bigb.n * ln((COALESCE(bic.c12, 0) + 0.5)
      |                         / (COALESCE(uni.c1, 0) + 0.5 * voc.v))) AS s
      |  FROM bigb LEFT JOIN bic USING (w1, w2) LEFT JOIN uni USING (w1), voc
      |  GROUP BY 1
      |), kept AS (
      |  SELECT d.doc_id, d.text
      |  FROM documents d
      |  JOIN scb ON d.doc_id = scb.doc_id, med
      |  WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)
      |    AND ROUND(scb.s / scb.nb, 6) >= med.m
      |), t AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |  FROM kept
      |), c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t
      |), r AS (
      |  SELECT doc_id, n_tokens,
      |    cum - n_tokens AS tok_debut,
      |    (cum - n_tokens) // 1024 AS seq_debut,
      |    GREATEST((cum - n_tokens) // 1024, (GREATEST(cum, 1) - 1) // 1024) AS seq_fin
      |  FROM c
      |)
      |SELECT doc_id, n_tokens, tok_debut, seq_debut, seq_fin,
      |  seq_fin - seq_debut + 1 AS n_seqs
      |FROM r
      |ORDER BY doc_id""".stripMargin

  private val s08Sql =
    """WITH orig AS (SELECT vec_id, embedding AS e FROM embeddings),
      |jit AS (
      |  SELECT src_id + 1000000 AS vec_id,
      |    list_transform(range(1, len(e) + 1),
      |      i -> CAST(CAST(e[i] AS DOUBLE) * (1.0 + (((src_id * 31 + (i - 1) * 7) % 100) / 100.0 - 0.5) * 0.04) AS FLOAT)) AS e
      |  FROM (SELECT vec_id AS src_id, e FROM orig WHERE vec_id % 10 = 0)
      |),
      |b AS (SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM jit),
      |c AS (SELECT vec_id, CAST(e AS DOUBLE[]) AS v FROM orig),
      |pairs AS (
      |  SELECT b.vec_id AS id_batch, c.vec_id AS id_corpus,
      |    ROUND(list_dot_product(b.v, c.v) / sqrt(list_dot_product(b.v, b.v) * list_dot_product(c.v, c.v)), 6) AS cosine
      |  FROM b CROSS JOIN c
      |)
      |SELECT id_batch, id_corpus, cosine FROM pairs WHERE cosine >= 0.99
      |ORDER BY id_batch, id_corpus""".stripMargin

  // ---------------------------------------------------------------------
  // d15 — chunk-level (paragraph) dedup: every doc scored by how much of
  // it is made of 16-token chunks that occur ≥ 2 times anywhere in the
  // corpus (CCNet-style boilerplate fraction). Oracle recomputes the
  // chunking + corpus frequency + join-back in DuckDB.
  // ---------------------------------------------------------------------
  private def d15(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .chunkDedup(Tables.documents(spark, dir), "doc_id", "text", chunkTokens = 16)
  private val d15Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(toks) < 16 THEN CAST([] AS VARCHAR[])
      |      ELSE list_transform(range(0, len(toks) // 16),
      |             i -> md5(array_to_string(list_slice(toks, i*16 + 1, i*16 + 16), ' ')))
      |      END) AS h
      |  FROM t
      |),
      |f AS (SELECT h, COUNT(*) AS n_occ FROM c GROUP BY h),
      |p AS (
      |  SELECT c.doc_id, COUNT(*) AS n_chunks,
      |    CAST(SUM(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_chunks_dupliques
      |  FROM c JOIN f USING (h) GROUP BY c.doc_id
      |)
      |SELECT d.doc_id,
      |  COALESCE(p.n_chunks, 0) AS n_chunks,
      |  COALESCE(p.n_chunks_dupliques, 0) AS n_chunks_dupliques,
      |  ROUND(CAST(COALESCE(p.n_chunks_dupliques, 0) AS DOUBLE)
      |        / CAST(GREATEST(COALESCE(p.n_chunks, 0), 1) AS DOUBLE), 6) AS ratio_duplique
      |FROM documents d LEFT JOIN p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d17 — duplicated-chunk scrub (the APPLY side of d15): every doc
  // rebuilt from its corpus-unique chunks only; boilerplate chunks
  // (n_occ >= 2 anywhere) are removed in place. Oracle recomputes the
  // scrub with an ORDER BY pos string_agg in DuckDB.
  // ---------------------------------------------------------------------
  private def d17(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .chunkScrub(Tables.documents(spark, dir), "doc_id", "text", chunkTokens = 16)
  private val d17Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id,
      |    unnest(CASE WHEN len(toks) < 16
      |      THEN CAST([] AS STRUCT(pos BIGINT, chunk VARCHAR)[])
      |      ELSE list_transform(range(0, len(toks) // 16),
      |             i -> {'pos': i, 'chunk': array_to_string(list_slice(toks, i*16 + 1, i*16 + 16), ' ')})
      |      END) AS s
      |  FROM t
      |),
      |cc AS (SELECT doc_id, s.pos AS pos, s.chunk AS chunk, md5(s.chunk) AS h FROM c),
      |f AS (SELECT h, COUNT(*) AS n_occ FROM cc GROUP BY h),
      |kept AS (
      |  SELECT cc.doc_id, cc.pos, cc.chunk
      |  FROM cc JOIN f USING (h) WHERE f.n_occ < 2
      |),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_chunks_gardes,
      |    string_agg(chunk, ' ' ORDER BY pos) AS texte_nettoye
      |  FROM kept GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  COALESCE(agg.texte_nettoye, '') AS texte_nettoye,
      |  COALESCE(agg.n_chunks_gardes, 0) AS n_chunks_gardes
      |FROM documents d LEFT JOIN agg USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d25 — document-level near-dup scrub (the APPLY side of d06/d09):
  // MinHash-LSH pairs → connected components → keep one survivor (the
  // minimum id) per duplicate cluster plus every unique document. The
  // removal list is O(duplicate members), so the final anti-join
  // broadcasts it; no stage after pair generation touches text. Oracle
  // recomputes the transitive closure over exhaustive-Jaccard pairs and
  // anti-joins the non-canonical members.
  // ---------------------------------------------------------------------
  private def d25(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .neardupScrubPairs(Tables.documents(spark, dir), pairsStore(spark, dir), "doc_id")
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
  private val d25Sql =
    """WITH RECURSIVE sh AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text), '\s+')) - 1, 1)),
      |      i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
      |           regexp_split_to_array(trim(text), '\s+')[i+2])) AS s
      |  FROM documents
      |  WHERE len(regexp_split_to_array(trim(text), '\s+')) >= 3
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
      |        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL
      |  SELECT id_b, id_a FROM pairs
      |), reach(id, r) AS (
      |  SELECT DISTINCT src, src FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
      |), removed AS (
      |  SELECT id FROM (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
      |  WHERE id <> cluster_id
      |)
      |SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
      |FROM documents d
      |WHERE d.doc_id NOT IN (SELECT id FROM removed)
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d28 — bloom-pruned decontamination: the d16 screen with the eval
  // vocabulary compressed to a distributed-built bit array (a plan
  // literal the corpus probes map-side); false positives die in the
  // exact semi-join over survivors, so the result — and the oracle —
  // are EXACTLY d16's. The scale story is the payload: ~1.5 bytes/gram
  // instead of ~50, and the verify shuffle is O(survivors).
  // ---------------------------------------------------------------------
  private def d28(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isEval = col("doc_id") % 50 === 0 && col("doc_id") > 0
    graft.operators.Decontaminate
      .ngramOverlapBloom(docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", n = 3)
  }

  // ---------------------------------------------------------------------
  // d16 — benchmark decontamination: the corpus screened against a held
  // eval slice (the planted every-50th near-dup copies stand in for a
  // benchmark that leaked into the crawl) on shared token 3-grams.
  // Oracle recomputes the distinct-gram intersection in DuckDB.
  // ---------------------------------------------------------------------
  private def d16(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val isEval = col("doc_id") % 50 === 0 && col("doc_id") > 0
    graft.operators.Decontaminate
      .ngramOverlap(docs.filter(!isEval), docs.filter(isEval), "doc_id", "text", n = 3)
  }
  private val d16Sql =
    """WITH sh AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0
      |           OR len(regexp_split_to_array(trim(text), '\s+')) < 3
      |         THEN CAST([] AS VARCHAR[])
      |         ELSE list_distinct(list_transform(
      |           range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1),
      |           i -> regexp_split_to_array(trim(text), '\s+')[i] || ' ' ||
      |                regexp_split_to_array(trim(text), '\s+')[i+1] || ' ' ||
      |                regexp_split_to_array(trim(text), '\s+')[i+2]))
      |    END AS s
      |  FROM documents
      |),
      |ev AS (
      |  SELECT DISTINCT unnest(s) AS g FROM sh
      |  WHERE doc_id % 50 = 0 AND doc_id > 0
      |),
      |tr AS (SELECT doc_id, s FROM sh WHERE NOT (doc_id % 50 = 0 AND doc_id > 0)),
      |shared AS (
      |  SELECT doc_id, COUNT(*) AS n_partages
      |  FROM (SELECT doc_id, unnest(s) AS g FROM tr) x
      |  JOIN ev USING (g)
      |  GROUP BY doc_id
      |)
      |SELECT tr.doc_id,
      |  len(tr.s) AS n_grams,
      |  COALESCE(shared.n_partages, 0) AS n_partages,
      |  COALESCE(shared.n_partages, 0) > 0 AS contamine
      |FROM tr LEFT JOIN shared USING (doc_id)
      |ORDER BY tr.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // p01 — the composed training-data pipeline: language-ID + quality
  // screen + chunk-level boilerplate fraction + deterministic split, one
  // retention verdict per document — the end-to-end shape the dedup /
  // text-analysis tier exists for, gated as one query so the COMPOSITION
  // (not just each stage) is oracle-checked.
  //
  // Scale shape: langue/qualite/slot/split are ONE pure-map select over
  // the corpus (the compiled langQualityCounts kernel + md5 slot); the
  // only exchanges are chunkDedup's two (fingerprint window + per-doc
  // rollup) and the final doc_id join of the two per-doc tables.
  // ---------------------------------------------------------------------
  private def p01(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val slot = conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
      .cast(IntegerType)
    val rep = Text.repetitionCounts(Text.tokens(col("text")))
    val scored = docs.select(
      col("doc_id"),
      Text.langGuess(col("text")).as("langue"),
      Text.qualityScore(col("text")).as("qualite"),
      round(element_at(rep, 5).cast("double") /
        greatest(element_at(rep, 3), lit(1L)).cast("double"), 6)
        .as("frac_bigrammes_dupliques"),
      when(pmod(slot, lit(10)) <= 7, lit("train"))
        .when(pmod(slot, lit(10)) === 8, lit("val"))
        .otherwise(lit("test")).as("split")
    )
    val chunk = Dedup
      .chunkDedup(docs, "doc_id", "text", chunkTokens = 16)
      .select(col("doc_id"), col("ratio_duplique"))
    scored
      .join(chunk, Seq("doc_id"))
      .select(
        col("doc_id"), col("langue"), col("qualite"), col("ratio_duplique"),
        col("frac_bigrammes_dupliques"), col("split"),
        (col("qualite") >= 0.75 && col("ratio_duplique") < 0.5 &&
          col("frac_bigrammes_dupliques") < 0.9 && col("langue") =!= "und")
          .as("retenu")
      )
  }
  // Oracle parity caveat: the kernel reproduces Java-regex \b (Unicode
  // isLetterOrDigit word chars) while DuckDB's RE2 \b is ASCII-only —
  // e.g. 'idées' contains \bes\b for RE2 but not for Java, and NFD
  // combining marks diverge further. The documents fixture is ASCII by
  // construction (TESTDATA.md), which is what makes this gate exact; if
  // non-ASCII text ever enters the fixture, normalize the word-char
  // definition on one side before trusting a hash mismatch here.
  private val p01Sql = {
    val nTok = """len(regexp_split_to_array(trim(text), '\s+'))"""
    val stop = """len(regexp_extract_all(text, '\b(the|a|of|to|in|and|is|it|that|for)\b'))"""
    val punct = """len(regexp_extract_all(text, '[.,!?;:]'))"""
    val nTokG = s"greatest($nTok, 1)"
    def sc(p: String) = s"""CAST(len(regexp_extract_all(text, '$p')) AS DOUBLE) / $nTokG"""
    val en = sc("\\b(the|a|of|to|in|and|is|it|that|for)\\b")
    val fr = sc("\\b(le|la|les|de|des|un|une|et|est|que)\\b")
    val de = sc("\\b(der|die|das|und|ist|ein|eine|nicht|mit|auf)\\b")
    val es = sc("\\b(el|la|los|las|de|un|una|y|es|que)\\b")
    val zh =
      s"""CAST(len(regexp_extract_all(text, '[一-鿿]')) AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0)"""
    s"""WITH scored AS (
       |  SELECT doc_id,
       |    CASE WHEN greatest($en, $fr, $de, $es, $zh) = 0 THEN 'und'
       |         WHEN $en = greatest($en, $fr, $de, $es, $zh) THEN 'en'
       |         WHEN $fr = greatest($en, $fr, $de, $es, $zh) THEN 'fr'
       |         WHEN $de = greatest($en, $fr, $de, $es, $zh) THEN 'de'
       |         WHEN $es = greatest($en, $fr, $de, $es, $zh) THEN 'es'
       |         ELSE 'zh' END AS langue,
       |    ROUND((
       |      (CASE WHEN $nTok >= 10 AND $nTok <= 100000 THEN 1.0 ELSE 0.0 END)
       |      + (CASE WHEN (CAST(length(text) AS DOUBLE) - ($nTok - 1)) / $nTok >= 2
       |              AND (CAST(length(text) AS DOUBLE) - ($nTok - 1)) / $nTok <= 12 THEN 1.0 ELSE 0.0 END)
       |      + (CASE WHEN CAST($punct AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 ELSE 0.0 END)
       |      + (CASE WHEN CAST($stop AS DOUBLE) / greatest(CAST($nTokG AS DOUBLE), 1.0) > 0 THEN 1.0 ELSE 0.0 END)
       |    ) / 4.0, 6) AS qualite,
       |    CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 10 <= 7 THEN 'train'
       |         WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) % 10 = 8 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM documents
       |),
       |t AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS toks
       |  FROM documents
       |),
       |c AS (
       |  SELECT doc_id,
       |    unnest(CASE WHEN len(toks) < 16 THEN CAST([] AS VARCHAR[])
       |      ELSE list_transform(range(0, len(toks) // 16),
       |             i -> md5(array_to_string(list_slice(toks, i*16 + 1, i*16 + 16), ' ')))
       |      END) AS h
       |  FROM t
       |),
       |f AS (SELECT h, COUNT(*) AS n_occ FROM c GROUP BY h),
       |p AS (
       |  SELECT c.doc_id, COUNT(*) AS n_chunks,
       |    CAST(SUM(CASE WHEN f.n_occ >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
       |  FROM c JOIN f USING (h) GROUP BY c.doc_id
       |),
       |ratios AS (
       |  SELECT d.doc_id,
       |    ROUND(CAST(COALESCE(p.n_dup, 0) AS DOUBLE)
       |          / CAST(GREATEST(COALESCE(p.n_chunks, 0), 1) AS DOUBLE), 6) AS ratio_duplique
       |  FROM documents d LEFT JOIN p USING (doc_id)
       |),
       |bg AS (
       |  SELECT doc_id,
       |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS g
       |  FROM t
       |),
       |bgc AS (SELECT doc_id, g, COUNT(*) AS c FROM bg GROUP BY doc_id, g),
       |rep AS (
       |  SELECT d.doc_id,
       |    ROUND(CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END), 0) AS DOUBLE)
       |          / CAST(GREATEST(COALESCE(SUM(c), 0), 1) AS DOUBLE), 6) AS frac_bigrammes_dupliques
       |  FROM documents d LEFT JOIN bgc ON d.doc_id = bgc.doc_id
       |  GROUP BY d.doc_id
       |)
       |SELECT s.doc_id, s.langue, s.qualite, r.ratio_duplique,
       |  g.frac_bigrammes_dupliques, s.split,
       |  (s.qualite >= 0.75 AND r.ratio_duplique < 0.5
       |   AND g.frac_bigrammes_dupliques < 0.9 AND s.langue <> 'und') AS retenu
       |FROM scored s JOIN ratios r USING (doc_id) JOIN rep g USING (doc_id)
       |ORDER BY s.doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // io04 — S4 remote scan, driver-gated: the reference's dblink extract
  // (sql/datawarehouse/insertion_dataware.sql:7-10) as a REAL JDBC round
  // trip. nation is staged into embedded Derby (standing in for the
  // remote OLTP), pulled back through Tables.jdbc with partitionColumn
  // range parallelism (4 range-predicate partitions — the dblink pull a
  // 1000-executor ETL would fan out), then joined to the local region
  // dim. The oracle checks the extracted values against the same parquet.
  // ---------------------------------------------------------------------
  private def io04(spark: SparkSession, dir: String): DataFrame = {
    val url = s"jdbc:derby:memory:graft_io04_${Integer.toHexString(dir.hashCode)};create=true"
    Tables
      .nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.mode("overwrite").format("jdbc").option("url", url)
      .option("dbtable", "nation_remote").save()
    val remote = Tables
      .jdbc(spark, url, "nation_remote", partitionColumn = Some(("N_NATIONKEY", 0L, 25L, 4)))
      .select( // Derby uppercases identifiers; restore source names/types
        col("N_NATIONKEY").cast(IntegerType).as("n_nationkey"),
        col("N_NAME").as("n_name"),
        col("N_REGIONKEY").cast(IntegerType).as("n_regionkey")
      )
    remote
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
  }
  private val io04Sql =
    """SELECT n_nationkey, n_name, r_name
      |FROM nation JOIN region ON n_regionkey = r_regionkey
      |ORDER BY n_nationkey""".stripMargin

  private def io03(spark: SparkSession, dir: String): DataFrame = {
    val dst = Fixture.workDir("io03", dir)
    graft.operators.Compact
      .parquet(spark, s"$dir/documents.parquet", dst, Seq(col("doc_id")))
  }
  private val io03Sql =
    """SELECT doc_id, text, lang, source, n_chars
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // io05 — slice-log finalize/compaction, the maintenance pass of
  // continuous shard emission (io03's Compact applied to the packed
  // stream): three arrival batches append packed slices at continued
  // global offsets with a finalize pass BETWEEN appends — every closed
  // whole shard moves into immutable shard files, the log is trimmed
  // to its open tail, and the next append resumes from
  // Pack.recoveredOffset (which must consult the store watermark when
  // a trim emptied the log). The gate reassembles every document from
  // shard store ∪ residual log — d39's losslessness convention through
  // the finalized store. Immutability/idempotence/trim-bound
  // assertions live in PackSpec; this gate pins data preservation.
  // ---------------------------------------------------------------------
  private def io05(spark: SparkSession, dir: String): DataFrame = {
    val wd = Fixture.workDir("io05", dir)
    val logDir = s"$wd/slices"
    val shardDir = s"$wd/shards"
    val fs = new org.apache.hadoop.fs.Path(wd)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(wd), true)
    val seqTokens = 256
    val seqsPerShard = 16
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("toks"))
    // two contiguous doc_id ranges = arrival order (packing is
    // order-sensitive; the cut is scalar arithmetic, not a sort). Two
    // batches is the minimum that exercises a MID-STREAM finalize +
    // offset recovery; the richer three-batch shape (and the exact-
    // boundary empty-log recovery) is PackSpec's, at spec scale — the
    // gate's cost is per-stage plan floor, so it stays at the minimum
    // composition that proves the contract.
    // the batch split point is "the current high id" — a footer-stats
    // question (ScanStats.maxLongNoJob: parquet min/max metadata, no
    // Spark job), not a full column scan; the aggregate stays as the
    // fallback for a stats-less fixture. Same value either way.
    val maxId = graft.sources.ScanStats
      .maxLongNoJob(Tables.documents(spark, dir), "doc_id")
      .getOrElse(docs.agg(max(col("doc_id"))).collect()(0).getLong(0))
    val batches = Seq(
      docs.filter(col("doc_id") <= maxId / 2),
      docs.filter(col("doc_id") > maxId / 2))
    batches.zipWithIndex.foreach { case (b, i) =>
      val off = Pack.recoveredOffset(spark, logDir, shardDir, seqTokens, seqsPerShard)
      Pack.packedSlicesTokens(b, "doc_id", "toks", seqTokens, startOffset = off)
        .write.mode("append").parquet(logDir)
      if (i < batches.size - 1)
        Pack.finalizeSliceLog(spark, logDir, shardDir, seqTokens, seqsPerShard,
          countResidual = false) // result discarded — skip the reporting count
    }
    Pack.finalizeSliceLog(spark, logDir, shardDir, seqTokens, seqsPerShard,
      countResidual = false)
    // reassembly: store slices recover their GLOBAL positions from
    // seq_id·budget + in-sequence offset; tail slices carry theirs
    val fromStore = Pack.readShards(spark, shardDir)
      .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
      .select(col("d.doc_id").as("doc_id"),
        (col("seq_id") * seqTokens + col("d.debut_dans_seq")).as("deb"),
        expr("slice(tokens, d.debut_dans_seq + 1, d.n_tokens)").as("tranche"))
    val fromTail = spark.read.parquet(logDir)
      .select(col("doc_id"), col("deb"), col("tranche"))
    val back = fromStore.unionByName(fromTail)
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("deb"), col("tranche")))),
        p => p.getField("tranche"))).as("toks"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(back, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(coalesce(concat_ws(" ", col("toks")), lit(""))).as("empreinte_recomposee"))
  }

  // ---------------------------------------------------------------------
  // io06 — shard-store RESHARD: context-length migration. A trainer
  // config change (new sequence length) re-cuts the PUBLISHED shard
  // store at the new budget without re-tokenizing or re-reading the
  // raw corpus — global token positions are invariant under a re-cut,
  // so the result equals a direct pack at the new budget bit-for-bit
  // (PackSpec pins the equality including provenance; this gate pins
  // losslessness: every document reassembles from the resharded
  // sequences to the d39 text fingerprint). The old store is the
  // published artifact (untimed setup); the measured query is the
  // migration itself: two exchanges, no prefix sum, offsets read from
  // the store.
  // ---------------------------------------------------------------------
  private def io06WorkDir(dir: String): String = Fixture.workDir("io06", dir)

  /** Publish the source-of-truth shard store at the OLD budget (load
    * phase, Bench-untimed; fingerprinted per input).
    */
  def io06Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val w = io06WorkDir(dir)
    Fixture.once(spark, w, s"documents:${docStamp(spark, dir)}:reshard-ws-b256-s16-v1") {
      Pack.writeShardsTokens(
        Tables.documents(spark, dir)
          .select(col("doc_id"), Text.tokens(col("text")).as("toks")),
        "doc_id", "toks", seqTokens = 256, seqsPerShard = 16,
        outDir = s"$w/shards_256")
    }
  }

  private def io06(spark: SparkSession, dir: String): DataFrame = {
    io06Setup(spark, dir)
    val res = Pack.reshard(
      Pack.readShards(spark, s"${io06WorkDir(dir)}/shards_256"), 256, 384)
    val back = res
      .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
      .select(col("d.doc_id").as("doc_id"),
        (col("seq_id") * lit(384L) + col("d.debut_dans_seq")).as("deb"),
        expr("slice(tokens, d.debut_dans_seq + 1, d.n_tokens)").as("tranche"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("deb"), col("tranche")))),
        p => p.getField("tranche"))).as("toks"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(back, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(coalesce(concat_ws(" ", col("toks")), lit(""))).as("empreinte_recomposee"))
  }

  // ---------------------------------------------------------------------
  // io07 — shard-store TOMBSTONE: the deletion-request path against an
  // immutable packed artifact. Removing a document would shift every
  // global offset after it (invalidating downstream shards, manifests
  // and logs), so the compliance-honest operation is masking: the
  // document's token ranges are overwritten with a pad IN PLACE — one
  // pure-map pass, tombstone ids as a bounded plan literal, every
  // sequence id / length / boundary / provenance entry frozen
  // (untouched sequences bit-identical; PackSpec pins the commutation
  // tombstone(pack(corpus)) == pack(scrub(corpus))). Reads io06's
  // published store read-only; the oracle recomputes each doc's
  // post-scrub fingerprint directly from the raw table.
  // ---------------------------------------------------------------------
  private def io07(spark: SparkSession, dir: String): DataFrame = {
    io06Setup(spark, dir)
    val scrubbed = Pack.tombstone(
      Pack.readShards(spark, s"${io06WorkDir(dir)}/shards_256"),
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 97 === 0).select(col("doc_id")),
      lit("~PAD~"))
    val back = scrubbed
      .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
      .select(col("d.doc_id").as("doc_id"),
        (col("seq_id") * lit(256L) + col("d.debut_dans_seq")).as("deb"),
        expr("slice(tokens, d.debut_dans_seq + 1, d.n_tokens)").as("tranche"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("deb"), col("tranche")))),
        p => p.getField("tranche"))).as("toks"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(back, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(coalesce(concat_ws(" ", col("toks")), lit(""))).as("empreinte_recomposee"))
  }
  private val io07Sql =
    """SELECT doc_id,
      |  md5(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN ''
      |      WHEN doc_id % 97 = 0 THEN array_to_string(
      |        list_transform(regexp_split_to_array(trim(text), '\s+'), x -> '~PAD~'), ' ')
      |      ELSE array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ') END)
      |    AS empreinte_recomposee
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // io08 — MASS tombstone (the io07 contract past the bounded-set
  // budget): a takedown-scale deletion relation — every doc_id % 2 = 0,
  // HALF the corpus — masks through Pack.tombstone's join fallback
  // (maxIds forced tiny here so the gate provably exercises the
  // distributed path; past the real 1M default the dispatch is
  // automatic). Ids never collect to the driver: provenance entries
  // (narrow) join the deletion relation, hit entry-indices roll up per
  // sequence, the token arrays cross exactly one seq_id-keyed exchange.
  // Same oracle shape as io07 — every masked doc's reassembled stream
  // must hash as all-pads, every survivor bit-identical.
  // ---------------------------------------------------------------------
  private def io08(spark: SparkSession, dir: String): DataFrame = {
    io06Setup(spark, dir)
    val scrubbed = Pack.tombstone(
      Pack.readShards(spark, s"${io06WorkDir(dir)}/shards_256"),
      Tables.documents(spark, dir)
        .filter(col("doc_id") % 2 === 0).select(col("doc_id")),
      lit("~PAD~"),
      maxIds = 16)
    val back = scrubbed
      .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
      .select(col("d.doc_id").as("doc_id"),
        (col("seq_id") * lit(256L) + col("d.debut_dans_seq")).as("deb"),
        expr("slice(tokens, d.debut_dans_seq + 1, d.n_tokens)").as("tranche"))
      .groupBy(col("doc_id"))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("deb"), col("tranche")))),
        p => p.getField("tranche"))).as("toks"))
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(back, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(coalesce(concat_ws(" ", col("toks")), lit(""))).as("empreinte_recomposee"))
  }
  private val io08Sql =
    """SELECT doc_id,
      |  md5(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN ''
      |      WHEN doc_id % 2 = 0 THEN array_to_string(
      |        list_transform(regexp_split_to_array(trim(text), '\s+'), x -> '~PAD~'), ' ')
      |      ELSE array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ') END)
      |    AS empreinte_recomposee
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // io09 — shard-store REPACK POLICY: the p08/e13 maintenance doctrine
  // applied to the packed-shard tier. Deletion waves are LOGICAL first
  // (the _TOMBSTONES registry; serves mask at read —
  // Pack.readShardsMasked), and the policy measures the store's
  // dead-token fraction after each wave: the first wave stays under the
  // watermark (files untouched, O(wave) registration), the second
  // crosses it and fires the repack — survivors reassembled from the
  // store's OWN offsets (never a corpus re-read), re-packed at the same
  // budget in the original document order, staged and Swap-published
  // atomically with the registry cleared and the generation bumped.
  // The gate re-derives the FINAL store per shard from the raw table
  // alone (the d22 boundary-exact formulation over the survivor corpus
  // — an over-repack, an under-repack, a shifted boundary or a leaked
  // masked token all break the hash) and pins the policy contract as a
  // literal row: generation 2, registry 0, fired pattern w1=0,w2=1.
  // ---------------------------------------------------------------------
  private def io09WorkDir(dir: String): String = Fixture.workDir("io09", dir)

  /** Publish the PRISTINE pre-window store once, STAGED ASIDE — the
    * timed cell mutates its live copy, so every run (first, retry, warm
    * re-run) restores the same pre-window state from here and re-times
    * the same maintenance work (the e13 measurement-parity convention);
    * fingerprinted per input.
    */
  def io09Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val w = io09WorkDir(dir)
    // a stale marker means the input corpus changed: the rebuild's wipe
    // of `w` also drops the DERIVED live copies (io09's store, io10's
    // store_serve), whose own restore predicates check only
    // generation/registry state and cannot see a fingerprint change
    // (r20 ADVICE #1: a prior run's gen-1 store_serve was reused over a
    // new corpus and served stale data)
    Fixture.once(spark, w, s"documents:${docStamp(spark, dir)}:repack-ws-b256-s16-w15-v1") {
      Pack.writeShardsTokens(
        Tables.documents(spark, dir)
          .select(col("doc_id"), Text.tokens(col("text")).as("toks")),
        "doc_id", "toks", seqTokens = 256, seqsPerShard = 16,
        outDir = s"$w/store_staged")
    }
  }

  private def io09(spark: SparkSession, dir: String): DataFrame = {
    io09Setup(spark, dir)
    val w = io09WorkDir(dir)
    val store = s"$w/store"
    val hconf = spark.sparkContext.hadoopConfiguration
    val storePath = new org.apache.hadoop.fs.Path(store)
    val fs = storePath.getFileSystem(hconf)
    // re-run parity: restore the pristine store unless it is EXACTLY the
    // pre-window state (generation 1, empty registry) — a crash
    // mid-window leaves a partial registry or a bumped generation, both
    // of which replay from pristine
    // all three probes are filesystem-only (marker read + registry
    // listing): the former registry-emptiness check ran a Spark job —
    // a full plan/schedule round on the timed path for one bit a
    // listing answers (a registry dir present at all is not pristine)
    val needRestore = !fs.exists(storePath) ||
      Pack.repackVersion(spark, store) != 1L ||
      Pack.tombstoneRegistryHasFiles(spark, store)
    if (needRestore) {
      fs.delete(storePath, true)
      graft.operators.Stores.duplicate(
        fs, new org.apache.hadoop.fs.Path(s"$w/store_staged"),
        storePath, hconf)
    }
    val ids = Tables.documents(spark, dir).select(col("doc_id"))
    def wave(pred: org.apache.spark.sql.Column) = Pack.maintainTombstone(spark, store,
      ids.filter(pred),
      deadFracWatermark = 0.15, seqTokens = 256, seqsPerShard = 16)
    // wave 1 (~9% dead tokens): logical only — registry grows, files
    // untouched; wave 2 (~27% cumulative): crosses the watermark — the
    // repack fires (PackSpec pins the repeated-below-watermark and
    // empty-wave behaviors the cell doesn't pay stage floors for)
    val r1 = wave(pmod(col("doc_id"), lit(19L)) === 0 ||
      pmod(col("doc_id"), lit(23L)) === 0)
    val r2 = wave(pmod(col("doc_id"), lit(5L)) === 0)
    val fired = (if (r1.repacked) 10L else 0L) + (if (r2.repacked) 1L else 0L)
    val shards = Pack.readShards(spark, store)
      .select(col("shard_id"), col("seq_id"),
        md5(array_join(col("tokens"), " ")).as("h"),
        size(col("tokens")).cast("long").as("n_tok"),
        size(col("docs")).cast("long").as("n_tranches"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_seqs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_tranches")).as("n_tranches"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("seq_id"), col("h")))),
            p => p.getField("h")), ":")).as("empreinte"))
    // the policy contract as a data row (the p09 politique convention):
    // final generation, registry left pending, which waves fired
    val politique = spark.range(1).select(
      lit(-1L).as("shard_id"),
      lit(r2.version).as("n_seqs"),
      lit(r2.pending).as("n_tokens"),
      lit(fired).as("n_tranches"),
      lit("politique").as("empreinte"))
    shards.unionByName(politique)
  }
  private val io09Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents
      |  WHERE NOT (doc_id % 19 = 0 OR doc_id % 23 = 0 OR doc_id % 5 = 0)
      |),
      |c AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CAST(len(toks) AS BIGINT))
      |         OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t
      |),
      |r AS (
      |  SELECT doc_id, toks, n_tokens, cum - n_tokens AS tok_debut,
      |    (cum - n_tokens) // 256 AS seq_debut,
      |    GREATEST((cum - n_tokens) // 256, (GREATEST(cum, 1) - 1) // 256) AS seq_fin
      |  FROM c WHERE n_tokens > 0
      |),
      |x AS (
      |  SELECT r.doc_id, r.toks, r.tok_debut, r.n_tokens, s.seq_id
      |  FROM r, LATERAL (SELECT unnest(generate_series(r.seq_debut, r.seq_fin)) AS seq_id) s
      |),
      |sl AS (
      |  SELECT seq_id, doc_id,
      |    GREATEST(seq_id * 256, tok_debut) AS deb,
      |    LEAST((seq_id + 1) * 256, tok_debut + n_tokens) AS fin,
      |    toks[CAST(GREATEST(seq_id * 256, tok_debut) - tok_debut + 1 AS BIGINT)
      |         :CAST(LEAST((seq_id + 1) * 256, tok_debut + n_tokens) - tok_debut AS BIGINT)]
      |      AS tranche
      |  FROM x
      |),
      |q AS (
      |  SELECT seq_id,
      |    md5(string_agg(array_to_string(tranche, ' '), ' ' ORDER BY deb)) AS h,
      |    CAST(SUM(fin - deb) AS BIGINT) AS n_tok,
      |    COUNT(*) AS n_tranches
      |  FROM sl GROUP BY seq_id
      |),
      |fin AS (
      |  SELECT seq_id // 16 AS shard_id, COUNT(*) AS n_seqs,
      |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_tranches) AS BIGINT) AS n_tranches,
      |    md5(string_agg(h, ':' ORDER BY seq_id)) AS empreinte
      |  FROM q GROUP BY 1
      |)
      |SELECT * FROM fin
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT),
      |  CAST(1 AS BIGINT), 'politique'
      |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------------
  // io10 — MASKED SERVE under logical deletion: the compliance property
  // of the io09 registry path. A deletion wave registers logically (no
  // repack — the wave stays under the watermark) and the gate proves the
  // SERVE is immediately clean AND the artifact immutable:
  // Pack.readShardsMasked over the still-unrewritten files is rolled up
  // per shard (the d22 boundary-exact formulation) against the oracle's
  // one-shot pack of the corpus WITH the registered classes' tokens
  // replaced by pads — same sequence boundaries, same provenance counts
  // (masking never shifts an offset), every registered token padded,
  // every survivor token bit-identical. The politique row pins that the
  // policy did NOT repack (generation 1) and the registry holds exactly
  // the wave. Re-run parity: re-registering the same wave is IDEMPOTENT
  // (the registry reads distinct), so the store restores from the
  // pristine staged copy only when absent or past generation 1.
  // ---------------------------------------------------------------------
  private def io10(spark: SparkSession, dir: String): DataFrame = {
    io09Setup(spark, dir)
    val w = io09WorkDir(dir)
    val store = s"$w/store_serve"
    val hconf = spark.sparkContext.hadoopConfiguration
    val storePath = new org.apache.hadoop.fs.Path(store)
    val fs = storePath.getFileSystem(hconf)
    // restore when absent, past generation 1, OR when the registry has
    // accumulated more than one part file: each warm re-run appends its
    // (idempotent) re-registration as another file, so without this
    // bound the registry directory grows one file per run without limit
    // (r20 ADVICE #2) — one pristine copy gets one idempotent
    // re-register, which still exercises the warm no-restore path
    val registryParts = {
      val reg = new org.apache.hadoop.fs.Path(s"$store/_TOMBSTONES")
      if (!fs.exists(reg)) 0
      else fs.listStatus(reg).count(_.getPath.getName.endsWith(".parquet"))
    }
    if (!fs.exists(storePath) || Pack.repackVersion(spark, store) != 1L ||
        registryParts > 1) {
      fs.delete(storePath, true)
      graft.operators.Stores.duplicate(
        fs, new org.apache.hadoop.fs.Path(s"$w/store_staged"),
        storePath, hconf)
    }
    val r = Pack.maintainTombstone(spark, store,
      Tables.documents(spark, dir).select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(19L)) === 0 ||
          pmod(col("doc_id"), lit(23L)) === 0),
      deadFracWatermark = 0.15, seqTokens = 256, seqsPerShard = 16)
    val shards = Pack.readShardsMasked(spark, store, lit("~PAD~"))
      .select(col("shard_id"), col("seq_id"),
        md5(array_join(col("tokens"), " ")).as("h"),
        size(col("tokens")).cast("long").as("n_tok"),
        size(col("docs")).cast("long").as("n_tranches"))
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_seqs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_tranches")).as("n_tranches"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("seq_id"), col("h")))),
            p => p.getField("h")), ":")).as("empreinte"))
    val politique = spark.range(1).select(
      lit(-1L).as("shard_id"),
      lit(r.version).as("n_seqs"),
      lit(r.pending).as("n_tokens"),
      lit(if (r.repacked) 1L else 0L).as("n_tranches"),
      lit("politique").as("empreinte"))
    shards.unionByName(politique)
  }
  private val io10Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         WHEN doc_id % 19 = 0 OR doc_id % 23 = 0 THEN
      |           list_transform(regexp_split_to_array(trim(text), '\s+'), x -> '~PAD~')
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CAST(len(toks) AS BIGINT))
      |         OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t
      |),
      |r AS (
      |  SELECT doc_id, toks, n_tokens, cum - n_tokens AS tok_debut,
      |    (cum - n_tokens) // 256 AS seq_debut,
      |    GREATEST((cum - n_tokens) // 256, (GREATEST(cum, 1) - 1) // 256) AS seq_fin
      |  FROM c WHERE n_tokens > 0
      |),
      |x AS (
      |  SELECT r.doc_id, r.toks, r.tok_debut, r.n_tokens, s.seq_id
      |  FROM r, LATERAL (SELECT unnest(generate_series(r.seq_debut, r.seq_fin)) AS seq_id) s
      |),
      |sl AS (
      |  SELECT seq_id, doc_id,
      |    GREATEST(seq_id * 256, tok_debut) AS deb,
      |    LEAST((seq_id + 1) * 256, tok_debut + n_tokens) AS fin,
      |    toks[CAST(GREATEST(seq_id * 256, tok_debut) - tok_debut + 1 AS BIGINT)
      |         :CAST(LEAST((seq_id + 1) * 256, tok_debut + n_tokens) - tok_debut AS BIGINT)]
      |      AS tranche
      |  FROM x
      |),
      |q AS (
      |  SELECT seq_id,
      |    md5(string_agg(array_to_string(tranche, ' '), ' ' ORDER BY deb)) AS h,
      |    CAST(SUM(fin - deb) AS BIGINT) AS n_tok,
      |    COUNT(*) AS n_tranches
      |  FROM sl GROUP BY seq_id
      |),
      |fin AS (
      |  SELECT seq_id // 16 AS shard_id, COUNT(*) AS n_seqs,
      |    CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |    CAST(SUM(n_tranches) AS BIGINT) AS n_tranches,
      |    md5(string_agg(h, ':' ORDER BY seq_id)) AS empreinte
      |  FROM q GROUP BY 1
      |)
      |SELECT * FROM fin
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT), CAST(1 AS BIGINT),
      |  (SELECT COUNT(DISTINCT doc_id) FROM documents
      |   WHERE doc_id % 19 = 0 OR doc_id % 23 = 0),
      |  CAST(0 AS BIGINT), 'politique'
      |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------------
  // d08 — BPE-ish regex tokenization vs whitespace tokens (word pieces +
  // standalone punctuation — the pre-training token-count estimator).
  // ---------------------------------------------------------------------
  private def d08(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit("\\w+|[^\\w\\s]"), lit(0))).as("n_tokens_regex"),
        Text.tokenCount(col("text")).as("n_tokens_ws")
      )
  private val d08Sql = {
    val ws = """CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
               |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END""".stripMargin
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_tokens_regex,
       |  $ws AS n_tokens_ws
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d23 — TRAINABLE BPE subword tokenizer (the production upgrade of
  // d08's regex estimator): merges learned from the corpus's
  // deterministic top-word frequency head (one map-side-combinable
  // groupBy + a driver merge loop over the bounded table — Bpe.train),
  // applied corpus-wide as the compiled BpeEncode expression (pure
  // map). The gate hash-checks LOSSLESSNESS: re-concatenating every
  // word's pieces and re-joining words must reproduce the whitespace-
  // normalized document exactly — any dropped/duplicated/reordered
  // piece anywhere in the corpus breaks the md5. The merge table's
  // SEMANTICS (which pairs merge, in which order, which ids) are pinned
  // by BpeSpec against an independent naive reference implementation —
  // BPE training is iterative and not expressible in one DuckDB query.
  // ---------------------------------------------------------------------
  private def d23(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = Bpe.train(docs, "text", numMerges = 256, topWords = 20000)
    docs
      .select(
        col("doc_id"),
        Text.tokenCount(col("text")).cast("long").as("n_mots"),
        md5(Bpe.detokenize(Bpe.encodePieces(model, col("text")))).as("empreinte_recomposee"))
  }
  private val d23Sql =
    """SELECT doc_id,
      |  CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
      |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_mots,
      |  md5(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN ''
      |      ELSE array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ') END)
      |    AS empreinte_recomposee
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d39 — BPE-ID TRAINING SHARDS: the trained tokenizer (d23) composed
  // into the pack path (d22) — shards carry id sequences, the artifact
  // a trainer actually reads, not whitespace words. The id stream is
  // DECODABLE (Bpe.encodeIdStream: a reserved separator id between
  // words, exactly where the text had spaces), the budget is counted
  // in BPE ids (sequencesTokens over the id arrays), and the gate is
  // the d23 losslessness convention LIFTED THROUGH THE SINK: encode →
  // pack → parquet shards ON DISK → read back → per-doc slice
  // reassembly (provenance rows) → decode must rebuild every
  // document's whitespace-normalized text to the oracle's direct md5.
  // Any dropped/duplicated/reordered id, any wrong sequence boundary,
  // any vocab corruption breaks the fingerprint. Scale shape: train is
  // the bounded driver-side fit (top-k word histogram); encode is a
  // pure map (compiled BpeEncode); pack/emit is the d22 machinery over
  // id arrays (ints, ~4× narrower than word strings — the production
  // win of id shards); read-back reassembly shuffles one slice row per
  // (doc, touched sequence).
  // ---------------------------------------------------------------------
  private def d39(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val model = Bpe.train(docs, "text", numMerges = 256, topWords = 20000)
    val out = Fixture.workDir("d39", dir)
    Pack.writeShardsTokens(
      docs.select(col("doc_id"), Bpe.encodeIdStream(model, col("text")).as("ids")),
      "doc_id", "ids", seqTokens = 512, seqsPerShard = 16, outDir = out)
    val back = Pack.readShards(spark, out)
      .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
      .select(col("d.doc_id").as("doc_id"), col("seq_id"),
        col("d.debut_dans_seq").as("off"), col("d.n_tokens").as("n"),
        expr("slice(tokens, off + 1, n)").as("tranche"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(struct(col("seq_id"), col("off"), col("tranche"))))
        .as("parts"))
      .select(col("doc_id"),
        flatten(transform(col("parts"), p => p.getField("tranche"))).as("ids"))
    // zero-token docs never reach the pack (no slice to carry) — they
    // reassemble to the empty text, the d23 empty-doc convention
    docs.select(col("doc_id"))
      .join(back, Seq("doc_id"), "left")
      .select(col("doc_id"),
        md5(coalesce(Bpe.decodeIdStream(model, col("ids")), lit("")))
          .as("empreinte_recomposee"))
  }
  private val d39Sql =
    """SELECT doc_id,
      |  md5(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN ''
      |      ELSE array_to_string(regexp_split_to_array(trim(text), '\s+'), ' ') END)
      |    AS empreinte_recomposee
      |FROM documents
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d24 — hashed-bag-of-words quality classifier (the fastText-style
  // pipeline filter): Naive-Bayes log-odds over md5-hashed token
  // buckets, trained as ONE bounded distributed aggregation (≤ 65 536
  // narrow rows shuffled at any corpus size) and scored by the compiled
  // HashedScore kernel (pure map). The label here is a deterministic
  // fixture rule (source id < 10) — the MECHANICS are what the gate
  // pins: DuckDB recomputes the training counts, the smoothed weights,
  // the prior AND every document's dot product from the raw tables.
  // Planted separable classes live in ClassifierSpec.
  // ---------------------------------------------------------------------
  private def d24(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val label = expr("CAST(substring(source, 4, 8) AS INT) < 10")
    val model = graft.operators.QualityClassifier.train(docs, "text", label)
    docs
      .select(
        col("doc_id"),
        round(model.score(col("text")), 6).as("score"),
        (round(model.score(col("text")), 6) > 0).as("classe"))
  }
  private val d24Sql =
    """WITH lab AS (
      |  SELECT doc_id, text, CAST(substr(source, 4) AS INT) < 10 AS pos FROM documents
      |),
      |tok AS (
      |  SELECT doc_id, pos,
      |    unnest(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |           ELSE regexp_split_to_array(trim(text), '\s+') END) AS tok
      |  FROM lab
      |),
      |bk AS (SELECT doc_id, pos, CAST('0x' || substr(md5(tok), 1, 4) AS INT) AS b FROM tok),
      |cnt AS (
      |  SELECT b, CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS cp,
      |         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS cn
      |  FROM bk GROUP BY b
      |),
      |tot AS (SELECT CAST(SUM(cp) AS BIGINT) AS np, CAST(SUM(cn) AS BIGINT) AS nn FROM cnt),
      |pri AS (
      |  SELECT ln(CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS DOUBLE)
      |         / SUM(CASE WHEN pos THEN 0 ELSE 1 END)) AS pr
      |  FROM lab
      |),
      |w AS (
      |  SELECT b, ln((cp + 1.0) / (np + 65536)) - ln((cn + 1.0) / (nn + 65536)) AS w
      |  FROM cnt, tot
      |),
      |sc AS (SELECT bk.doc_id, SUM(w.w) AS sw FROM bk JOIN w USING (b) GROUP BY bk.doc_id)
      |SELECT l.doc_id,
      |  ROUND(pri.pr + COALESCE(sc.sw, 0), 6) AS score,
      |  ROUND(pri.pr + COALESCE(sc.sw, 0), 6) > 0 AS classe
      |FROM lab l LEFT JOIN sc ON l.doc_id = sc.doc_id, pri
      |ORDER BY l.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d29 — corpus-trained bigram-LM scoring (the CCNet/Gopher perplexity
  // filter). The oracle retrains the same add-0.5-smoothed bigram model
  // in SQL — counts, vocabulary, every document's mean log-likelihood
  // and perplexity — from the raw table. Model cardinality is bigram
  // TYPES (vocabulary-bounded), never token volume; see LangModel.
  // ---------------------------------------------------------------------
  private def d29(spark: SparkSession, dir: String): DataFrame =
    LangModel
      .bigramScore(Tables.documents(spark, dir), "doc_id", "text")
  private val d29Sql =
    """WITH arr AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
      |  FROM documents
      |), bl AS (
      |  SELECT doc_id, list_transform(range(1, len(a)), i -> [a[i], a[i+1]]) AS bs
      |  FROM arr WHERE len(a) >= 2
      |), bx AS (
      |  SELECT doc_id, unnest(bs) AS b FROM bl
      |), big AS (
      |  SELECT doc_id, b[1] AS w1, b[2] AS w2, COUNT(*) AS n FROM bx GROUP BY 1, 2, 3
      |), bic AS (
      |  SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12 FROM big GROUP BY 1, 2
      |), uni AS (
      |  SELECT w1, CAST(SUM(n) AS BIGINT) AS c1 FROM big GROUP BY 1
      |), voc AS (
      |  SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(a) AS tok FROM arr)
      |), sc AS (
      |  SELECT big.doc_id, CAST(SUM(big.n) AS BIGINT) AS nb,
      |         SUM(big.n * ln((bic.c12 + 0.5) / (uni.c1 + 0.5 * voc.v))) AS s
      |  FROM big JOIN bic USING (w1, w2) JOIN uni USING (w1), voc
      |  GROUP BY 1
      |)
      |SELECT d.doc_id,
      |  COALESCE(sc.nb, 0) AS n_bigrams,
      |  ROUND(sc.s / sc.nb, 6) AS lm_score,
      |  ROUND(exp(-sc.s / sc.nb), 6) AS ppl
      |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d30 — exact duplicated-span detection over SLIDING 8-token grams
  // (the suffix-array-style "exact substring dedup" of pretraining
  // pipelines; d15's fixed chunks miss runs straddling chunk borders).
  // Oracle re-derives every gram, the corpus frequency pass, and the
  // gaps-and-islands span merge in SQL.
  // ---------------------------------------------------------------------
  private def d30(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .spanDedup(Tables.documents(spark, dir), "doc_id", "text", gramTokens = 8)
  private val d30Sql =
    """WITH arr AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
      |  FROM documents
      |), gpos AS (
      |  SELECT doc_id, a, unnest(range(1, len(a) - 8 + 2)) AS pos
      |  FROM arr WHERE len(a) >= 8
      |), grams AS (
      |  SELECT doc_id, pos, md5(array_to_string(a[pos:pos+7], ' ')) AS h FROM gpos
      |), dup AS (
      |  SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2
      |), hits AS (
      |  SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)
      |), brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS b
      |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |), isl AS (
      |  SELECT doc_id, pos,
      |    SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      |  FROM brk
      |), spans AS (
      |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 7 AS e FROM isl GROUP BY 1, 2
      |), agg AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
      |         CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens
      |  FROM spans GROUP BY 1
      |)
      |SELECT arr.doc_id,
      |  CAST(len(a) AS BIGINT) AS n_tokens,
      |  COALESCE(agg.n_spans, 0) AS n_spans,
      |  COALESCE(agg.dup_tokens, 0) AS dup_tokens,
      |  ROUND(CAST(COALESCE(agg.dup_tokens, 0) AS DOUBLE)
      |        / greatest(CAST(len(a) AS DOUBLE), 1.0), 6) AS ratio_duplique
      |FROM arr LEFT JOIN agg ON arr.doc_id = agg.doc_id
      |ORDER BY arr.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d31 — duplicated-span REMOVAL (the apply side of d30, ExactSubstr
  // style): every corpus-duplicated ≥8-token run is scrubbed from all
  // its occurrences EXCEPT the global first (survivor in (doc_id, pos)
  // order), so duplicated content survives exactly once. The oracle
  // re-derives the grams, the survivor pick, the island merge AND the
  // rebuilt text (ORDER BY position string_agg) entirely in SQL.
  // ---------------------------------------------------------------------
  private def d31(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .spanScrub(Tables.documents(spark, dir), "doc_id", "text", gramTokens = 8)
  private val d31Sql =
    """WITH arr AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
      |  FROM documents
      |), gpos AS (
      |  SELECT doc_id, a, unnest(range(1, len(a) - 8 + 2)) AS pos
      |  FROM arr WHERE len(a) >= 8
      |), grams AS (
      |  SELECT doc_id, pos, md5(array_to_string(a[pos:pos+7], ' ')) AS h FROM gpos
      |), occ AS (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
      |    COUNT(*) OVER (PARTITION BY h) AS c
      |  FROM grams
      |), hits AS (
      |  SELECT doc_id, pos FROM occ WHERE c >= 2 AND rn > 1
      |), brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS b
      |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |), isl AS (
      |  SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM brk
      |), spans AS (
      |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 7 AS e FROM isl GROUP BY 1, 2
      |), tv AS (
      |  SELECT doc_id, i, a[i] AS t
      |  FROM (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS i FROM arr)
      |), removed AS (
      |  SELECT DISTINCT tv.doc_id, tv.i
      |  FROM tv JOIN spans s ON tv.doc_id = s.doc_id AND tv.i BETWEEN s.s AND s.e
      |), keptv AS (
      |  SELECT tv.doc_id, tv.i, tv.t
      |  FROM tv LEFT JOIN removed r ON tv.doc_id = r.doc_id AND tv.i = r.i
      |  WHERE r.i IS NULL
      |), rebuilt AS (
      |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS texte_nettoye,
      |         CAST(COUNT(*) AS BIGINT) AS n_tokens_gardes
      |  FROM keptv GROUP BY doc_id
      |)
      |SELECT arr.doc_id,
      |  COALESCE(rebuilt.texte_nettoye, '') AS texte_nettoye,
      |  COALESCE(rebuilt.n_tokens_gardes, 0) AS n_tokens_gardes
      |FROM arr LEFT JOIN rebuilt ON arr.doc_id = rebuilt.doc_id
      |ORDER BY arr.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d36 — INTRA-document repetition scrub (the apply side of d19's
  // repetition signals; the doc-scoped twin of d31): every 3-gram
  // occurrence repeating an earlier same-document gram drops with its
  // window, first occurrence kept. The Spark side is one compiled
  // per-row kernel (zero exchange at any scale); the oracle re-derives
  // grams, per-document first occurrences, island coverage and the
  // rebuilt text the expensive way in SQL — d31's machinery with the
  // occurrence window re-scoped from corpus to document. Gate gram = 3:
  // the fixture's Zipfian 27-word vocabulary plants real intra-doc
  // trigram repeats (27 docs / 29 removals at sf0.01) while 8-grams
  // never repeat within one random doc.
  // ---------------------------------------------------------------------
  private def d36(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .repetitionScrub(Tables.documents(spark, dir), "doc_id", "text", gramTokens = 3)
  private val d36Sql =
    """WITH arr AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
      |  FROM documents
      |), gpos AS (
      |  SELECT doc_id, a, unnest(range(1, len(a) - 3 + 2)) AS pos
      |  FROM arr WHERE len(a) >= 3
      |), grams AS (
      |  SELECT doc_id, pos, array_to_string(a[pos:pos+2], ' ') AS h FROM gpos
      |), occ AS (
      |  SELECT doc_id, pos,
      |    ROW_NUMBER() OVER (PARTITION BY doc_id, h ORDER BY pos) AS rn
      |  FROM grams
      |), hits AS (
      |  SELECT doc_id, pos FROM occ WHERE rn > 1
      |), spans AS (
      |  SELECT doc_id, pos AS s, pos + 2 AS e FROM hits
      |), tv AS (
      |  SELECT doc_id, i, a[i] AS t
      |  FROM (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS i FROM arr)
      |), removed AS (
      |  SELECT DISTINCT tv.doc_id, tv.i
      |  FROM tv JOIN spans s ON tv.doc_id = s.doc_id AND tv.i BETWEEN s.s AND s.e
      |), keptv AS (
      |  SELECT tv.doc_id, tv.i, tv.t
      |  FROM tv LEFT JOIN removed r ON tv.doc_id = r.doc_id AND tv.i = r.i
      |  WHERE r.i IS NULL
      |), rebuilt AS (
      |  SELECT doc_id, string_agg(t, ' ' ORDER BY i) AS texte_nettoye,
      |         CAST(COUNT(*) AS BIGINT) AS n_tokens_gardes
      |  FROM keptv GROUP BY doc_id
      |)
      |SELECT arr.doc_id,
      |  COALESCE(rebuilt.texte_nettoye, '') AS texte_nettoye,
      |  COALESCE(rebuilt.n_tokens_gardes, 0) AS n_tokens_gardes
      |FROM arr LEFT JOIN rebuilt ON arr.doc_id = rebuilt.doc_id
      |ORDER BY arr.doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d32 — d30's PRODUCTION fast path: identical span detection with
  // xxhash64 gram keys (8-byte longs) instead of 32-hex-char md5 —
  // ~4× less key weight through the frequency exchange, the hottest
  // shuffle of the span tier (the d05 md5-gated / xxhash64-production
  // precedent). Gated with d30's OWN oracle: absent a 64-bit collision
  // (birthday-bounded ≈ 3e-10 at gate scale) the spans are identical.
  // ---------------------------------------------------------------------
  private def d32(spark: SparkSession, dir: String): DataFrame =
    Dedup
      .spanDedup(Tables.documents(spark, dir), "doc_id", "text", gramTokens = 8,
        exactFingerprints = false)

  // the d03 quality expression as DuckDB SQL, shared by the curation
  // oracles (d33/d34 select BY this score, so the oracle must rebuild
  // the exact rounded value)
  private val qualityExprSql: String = {
    val nTok = """len(regexp_split_to_array(trim(text), '\s+'))"""
    val stop = """len(regexp_extract_all(text, '\b(the|a|of|to|in|and|is|it|that|for)\b'))"""
    val punct = """len(regexp_extract_all(text, '[.,!?;:]'))"""
    s"""ROUND((
       |    (CASE WHEN $nTok >= 10 AND $nTok <= 100000 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN (CAST(length(text) AS DOUBLE) - ($nTok - 1)) / $nTok >= 2
       |            AND (CAST(length(text) AS DOUBLE) - ($nTok - 1)) / $nTok <= 12 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN CAST($punct AS DOUBLE) / greatest(CAST(length(text) AS DOUBLE), 1.0) <= 0.2 THEN 1.0 ELSE 0.0 END)
       |    + (CASE WHEN CAST($stop AS DOUBLE) / greatest(CAST($nTok AS DOUBLE), 1.0) > 0 THEN 1.0 ELSE 0.0 END)
       |  ) / 4.0, 6)""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d33 — token-BUDGET selection: keep the highest-quality documents
  // (d03's score, ties → ascending doc_id) while the running token
  // total stays within a global budget — the data-constrained "best N
  // tokens" curation step. Spark runs Curate.budgetSelect's two-phase
  // prefix sum (range exchange on (score, id), one narrow row per
  // partition to the driver, NEVER a single-partition window — pinned
  // in CurateSpec); the oracle is the textbook cumulative window.
  // ---------------------------------------------------------------------
  // ---------------------------------------------------------------------
  // d37 — per-source token-distribution drift: KL(source ‖ corpus) over
  // the corpus top-K vocabulary with add-half smoothing, plus each
  // source's top drift contributor — the ingest-monitoring selector. The
  // Spark side is one pure-map explode into a (source, token) rollup
  // whose output is vocabulary-bounded; the oracle recomputes the
  // vocabulary, the smoothed probabilities, every contribution and the
  // argmax in SQL.
  // ---------------------------------------------------------------------
  private def d37(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curate
      .sourceDrift(Tables.documents(spark, dir), "doc_id", "text", "source", topK = 500)
  private val d37Sql =
    """WITH t AS (
      |  SELECT doc_id, source,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents
      |), tok AS (
      |  SELECT source, unnest(toks) AS token FROM t
      |), st AS (
      |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1, 2
      |), top AS (
      |  SELECT token, CAST(SUM(c) AS BIGINT) AS ct FROM st GROUP BY 1
      |  ORDER BY SUM(c) DESC, token ASC LIMIT 500
      |), nd AS (
      |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1
      |), qt AS (
      |  SELECT CAST(SUM(ct) AS BIGINT) AS nq, CAST(COUNT(*) AS BIGINT) AS kk FROM top
      |), cells AS (
      |  SELECT s.source, p.token, p.ct, COALESCE(st.c, 0) AS c
      |  FROM (SELECT DISTINCT source FROM documents) s
      |  CROSS JOIN top p
      |  LEFT JOIN st ON st.source = s.source AND st.token = p.token
      |), tot AS (
      |  SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM cells GROUP BY 1
      |), contribs AS (
      |  SELECT c.source, c.token, c.c,
      |    ((CAST(c.c AS DOUBLE) + 0.5) / (CAST(tt.ns AS DOUBLE) + 0.5 * qt.kk))
      |      * ln(((CAST(c.c AS DOUBLE) + 0.5) / (CAST(tt.ns AS DOUBLE) + 0.5 * qt.kk))
      |           / ((CAST(c.ct AS DOUBLE) + 0.5) / (CAST(qt.nq AS DOUBLE) + 0.5 * qt.kk)))
      |      AS contrib
      |  FROM cells c JOIN tot tt USING (source) CROSS JOIN qt
      |), ranked AS (
      |  SELECT source, token, contrib,
      |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY contrib DESC, token ASC) AS rn
      |  FROM contribs
      |), agg AS (
      |  SELECT source, ROUND(SUM(contrib), 6) AS kl,
      |    CAST(SUM(c) AS BIGINT) AS n_tokens_vocab
      |  FROM contribs GROUP BY 1
      |)
      |SELECT a.source, nd.n_docs, a.n_tokens_vocab, a.kl,
      |  r.token AS token_principal, ROUND(r.contrib, 6) AS contrib_principal
      |FROM agg a
      |JOIN nd USING (source)
      |JOIN ranked r ON r.source = a.source AND r.rn = 1
      |ORDER BY a.source""".stripMargin

  private def d33(spark: SparkSession, dir: String): DataFrame = {
    val prepared = Tables.documents(spark, dir).select(
      col("doc_id"),
      Text.qualityScore(col("text")).as("qualite"),
      Text.tokenCount(col("text")).cast("long").as("n_jetons"))
    graft.operators.Curate
      .budgetSelect(prepared, "doc_id", "qualite", "n_jetons", budget = 10000L)
      .withColumnRenamed("cum", "jetons_cumules")
  }
  private val d33Sql =
    s"""WITH q AS (
       |  SELECT doc_id,
       |    $qualityExprSql AS qualite,
       |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
       |         ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) END AS n_jetons
       |  FROM documents
       |), w AS (
       |  SELECT doc_id, qualite, n_jetons,
       |    ROW_NUMBER() OVER (ORDER BY qualite DESC, doc_id) AS rang,
       |    SUM(n_jetons) OVER (ORDER BY qualite DESC, doc_id
       |                        ROWS UNBOUNDED PRECEDING) AS jetons_cumules
       |  FROM q
       |)
       |SELECT doc_id, qualite, n_jetons,
       |  CAST(rang AS BIGINT) AS rang,
       |  CAST(jetons_cumules AS BIGINT) AS jetons_cumules
       |FROM w WHERE jetons_cumules <= 10000
       |ORDER BY rang""".stripMargin

  // ---------------------------------------------------------------------
  // d38 — global quality-percentile calibration: every doc's exact
  // PERCENT_RANK of its quality score (ties share a percentile) plus
  // the dense (score, id) global position — the normalization step
  // before "keep the top X% by quality" thresholds. Spark runs the
  // two-phase prefix pass + a score-keyed min rollup (no
  // single-partition window, pinned in CurateSpec); the oracle is the
  // literal ROW_NUMBER + PERCENT_RANK window pair.
  // ---------------------------------------------------------------------
  private def d38(spark: SparkSession, dir: String): DataFrame = {
    val prepared = Tables.documents(spark, dir).select(
      col("doc_id"),
      Text.qualityScore(col("text")).as("qualite"))
    graft.operators.Curate
      .percentileRank(prepared, "doc_id", "qualite")
  }
  private val d38Sql =
    s"""WITH q AS (
       |  SELECT doc_id, $qualityExprSql AS qualite FROM documents
       |)
       |SELECT doc_id, qualite,
       |  ROW_NUMBER() OVER (ORDER BY qualite, doc_id) AS rang,
       |  ROUND(CAST(PERCENT_RANK() OVER (ORDER BY qualite) AS DOUBLE), 6) AS pct_qualite
       |FROM q
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d34 — quality-aware duplicate-cluster survivors: d09's near-dup
  // clusters re-adjudicated to keep each cluster's BEST-quality member
  // (ties → lowest id) instead of the canonical minimum id — the
  // curation-correct survivor (first-occurrence keeps whatever crawled
  // first). One map-side-combinable groupBy(cluster) over the labels;
  // the oracle recomputes the exhaustive-Jaccard components, the
  // quality scores, and the deterministic argmax in SQL.
  // ---------------------------------------------------------------------
  private def d34(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val scored = docs.select(col("doc_id"), Text.qualityScore(col("text")).as("qualite"))
    graft.operators.Curate
      .bestSurvivors(scored, Dedup.clusters(pairsStore(spark, dir)), "doc_id", "qualite")
  }
  private val d34Sql =
    s"""WITH RECURSIVE sh AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 1, 1)),
       |      i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' ||
       |           regexp_split_to_array(trim(text), '\\s+')[i+1] || ' ' ||
       |           regexp_split_to_array(trim(text), '\\s+')[i+2])) AS s
       |  FROM documents
       |  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= 3
       |), pairs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT id_b, id_a FROM pairs
       |), reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
       |), labels AS (
       |  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
       |), q AS (
       |  SELECT doc_id, $qualityExprSql AS score FROM documents
       |), m AS (
       |  SELECT l.cluster_id, l.id, q.score,
       |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id ORDER BY q.score DESC, l.id) AS rn,
       |    COUNT(*) OVER (PARTITION BY l.cluster_id) AS nm
       |  FROM labels l JOIN q ON q.doc_id = l.id
       |)
       |SELECT cluster_id, id AS doc_id_garde, score AS score_garde,
       |  CAST(nm AS BIGINT) AS n_membres
       |FROM m WHERE rn = 1
       |ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------------
  // d35 — deterministic training-order shuffle: every document ranked
  // by md5(seed ":" id) — the seed-stable, engine-portable epoch
  // permutation (d13's hash convention applied to ORDER instead of
  // split). Spark assigns the dense global rank with the two-phase
  // prefix pass (range exchange on the hash key, no single-partition
  // ROW_NUMBER); the oracle is the literal window formulation.
  // ---------------------------------------------------------------------
  private def d35(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Curate
      .trainingOrder(Tables.documents(spark, dir), "doc_id", seed = "melange42")
  private val d35Sql =
    """WITH k AS (
      |  SELECT doc_id,
      |    md5('melange42:' || CAST(doc_id AS VARCHAR)) AS cle_melange
      |  FROM documents
      |)
      |SELECT doc_id, cle_melange,
      |  CAST(ROW_NUMBER() OVER (ORDER BY cle_melange, doc_id) AS BIGINT) AS rang
      |FROM k ORDER BY rang""".stripMargin

  // ---------------------------------------------------------------------
  // p02 — the round-11 curation pipeline over PUBLISHED quality signals:
  // the duplicated-span screen (d30) and corpus-LM scoring (d29) run
  // once per corpus at ingest ([[p02Setup]] — both ops gated live by
  // their own cells, and the s10 streaming twin runs the same screens
  // live per arriving batch); the measured cell is the CURATION
  // DECISION each training run re-makes over the published signal
  // store: the in-query exact MEDIAN bar, the coverage < 0.5 filter,
  // and the per-source quota sample of the survivors (d27's two-phase
  // exact top-n). The oracle still recomputes every stage in SQL from
  // the raw table, median included (quantile_cont == Spark exact
  // percentile, the q13-gated pair) — a wrong published signal fails
  // the hash exactly as an in-cell bug would.
  // Scale shape: the signal store is one narrow row per doc; the median
  // is one broadcast scalar; the sample's per-stratum sort is O(quota).
  // ---------------------------------------------------------------------
  private[graft] def p02StoreDir(dir: String): String = Fixture.workDir("p02", dir)

  /** One-time publish of the per-doc quality signals (span-duplication
    * ratio + corpus-LM score) — load-phase setup, Bench untimed.
    * ONE corpus tokenization feeds the span screen's two gram passes,
    * LM train and LM score (the round-12 shared-token discipline).
    */
  def p02Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val st = p02StoreDir(dir)
    Fixture.once(spark, st, s"documents:${docStamp(spark, dir)}:span8-lm0.5-signals-v1") {
      val toks = Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), Text.tokens(col("text")).as("a"))
        .localCheckpoint(true)
      val spans = Dedup
        .spanDedupTokens(toks, "doc_id", "a", gramTokens = 8)
        .select(col("doc_id"), col("ratio_duplique"))
      val lm = LangModel
        .scoreWithTokens(LangModel.trainTokens(toks, "doc_id", "a"), toks, "doc_id", "a")
        .select(col("doc_id"), col("lm_score"))
      toks.select(col("doc_id"), col("source"))
        .join(spans, Seq("doc_id"))
        .join(lm, Seq("doc_id"))
        .write.mode("overwrite").parquet(s"$st/signals")
    }
  }

  private def p02(spark: SparkSession, dir: String): DataFrame = {
    p02Setup(spark, dir)
    val signals = spark.read.parquet(s"${p02StoreDir(dir)}/signals")
    val med = signals.agg(expr("percentile(lm_score, 0.5)").as("med"))
    // kept is consumed TWICE (the quota sample + the final column
    // join) — narrow columns per surviving doc, checkpointed once
    val kept = signals
      .crossJoin(broadcast(med))
      .filter(col("ratio_duplique") < 0.5 && col("lm_score") >= col("med"))
      .localCheckpoint(true)
    graft.operators.Sampling
      .stratifiedQuota(kept, "doc_id", "source", Map.empty, defaultQuota = 10)
      .join(kept.select(col("doc_id"), col("ratio_duplique"), col("lm_score")), Seq("doc_id"))
      .select(col("stratum"), col("rang"), col("doc_id"), col("ratio_duplique"), col("lm_score"))
  }
  private val p02Sql =
    """WITH arr AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS a
      |  FROM documents
      |), gpos AS (
      |  SELECT doc_id, a, unnest(range(1, len(a) - 8 + 2)) AS pos
      |  FROM arr WHERE len(a) >= 8
      |), grams AS (
      |  SELECT doc_id, pos, md5(array_to_string(a[pos:pos+7], ' ')) AS h FROM gpos
      |), dup AS (
      |  SELECT h FROM grams GROUP BY h HAVING COUNT(*) >= 2
      |), hits AS (
      |  SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)
      |), brk AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS b
      |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |), isl AS (
      |  SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM brk
      |), spans AS (
      |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 7 AS e FROM isl GROUP BY 1, 2
      |), sagg AS (
      |  SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS dup_tokens FROM spans GROUP BY 1
      |), ratio AS (
      |  SELECT arr.doc_id,
      |    ROUND(CAST(COALESCE(sagg.dup_tokens, 0) AS DOUBLE)
      |          / greatest(CAST(len(a) AS DOUBLE), 1.0), 6) AS ratio_duplique
      |  FROM arr LEFT JOIN sagg ON arr.doc_id = sagg.doc_id
      |), bl AS (
      |  SELECT doc_id, list_transform(range(1, len(a)), i -> [a[i], a[i+1]]) AS bs
      |  FROM arr WHERE len(a) >= 2
      |), bx AS (
      |  SELECT doc_id, unnest(bs) AS b FROM bl
      |), big AS (
      |  SELECT doc_id, b[1] AS w1, b[2] AS w2, COUNT(*) AS n FROM bx GROUP BY 1, 2, 3
      |), bic AS (
      |  SELECT w1, w2, CAST(SUM(n) AS BIGINT) AS c12 FROM big GROUP BY 1, 2
      |), uni AS (
      |  SELECT w1, CAST(SUM(n) AS BIGINT) AS c1 FROM big GROUP BY 1
      |), voc AS (
      |  SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(a) AS tok FROM arr)
      |), sc AS (
      |  SELECT big.doc_id, CAST(SUM(big.n) AS BIGINT) AS nb,
      |         SUM(big.n * ln((bic.c12 + 0.5) / (uni.c1 + 0.5 * voc.v))) AS s
      |  FROM big JOIN bic USING (w1, w2) JOIN uni USING (w1), voc
      |  GROUP BY 1
      |), lm AS (
      |  SELECT d.doc_id, ROUND(sc.s / sc.nb, 6) AS lm_score
      |  FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
      |), med AS (
      |  SELECT quantile_cont(lm_score, 0.5) AS m FROM lm
      |), kept AS (
      |  SELECT d.doc_id, d.source, r.ratio_duplique, l.lm_score
      |  FROM documents d
      |  JOIN ratio r ON d.doc_id = r.doc_id
      |  JOIN lm l ON d.doc_id = l.doc_id, med
      |  WHERE r.ratio_duplique < 0.5 AND l.lm_score >= med.m
      |), rk AS (
      |  SELECT doc_id, source, ratio_duplique, lm_score,
      |    ROW_NUMBER() OVER (PARTITION BY source
      |                       ORDER BY md5(source || ':' || CAST(doc_id AS VARCHAR)), doc_id) AS rang
      |  FROM kept
      |)
      |SELECT source AS stratum, CAST(rang AS BIGINT) AS rang, doc_id, ratio_duplique, lm_score
      |FROM rk WHERE rang <= 10
      |ORDER BY stratum, rang""".stripMargin

  // ---------------------------------------------------------------------
  // p03 — the batch CURATION pipeline over the published cleaned
  // corpus (the artifact this engine exists to produce): intra-doc
  // repetition scrub (d36, gram 3) → corpus duplicated-span scrub
  // (d31, gram 8) → near-dup scrub (d06 pairs → d09 components → d25
  // removal) published ONCE as the shared front ([[p0345Setup]] —
  // load-phase, Bench untimed: in production the cleaned corpus is an
  // ingest artifact, gated stage by stage by d36/d31/d25 and run LIVE
  // per batch inside the timed p06 refresh), then the TRAINING-RUN
  // stages measured in-cell: quality scoring (d03) → token-budget
  // selection (d33) → deterministic training order (d35) → sequence
  // pack + SHARD EMIT (d18/d22), with the per-doc pack evidence read
  // BACK from the emitted files — a green gate proves the bytes ON
  // DISK are the selected corpus re-cut in training order. The oracle
  // still recomputes EVERY stage in SQL from the raw table — a wrong
  // published front fails the hash exactly as an in-cell bug would:
  // d36's per-doc occurrence windows, d31's corpus survivor pick +
  // island merge on the stage-1 output, exhaustive 3-shingle Jaccard +
  // recursive components on the stage-2 output, the d03 quality
  // expression, the budget window, the seeded md5 permutation and the
  // d18 prefix-sum pack over it.
  // Scale shape: the front is published once per corpus generation
  // (ONE corpus tokenization feeds both scrub stages — the p02
  // shared-token discipline; the near-dup screen keeps its gated
  // banded plan); each training run's quality/budget/order ride the
  // two-phase prefix machinery on narrow relations over the published
  // parquet, and the pack stage is the d22 emit.
  // ---------------------------------------------------------------------
  private[graft] def p03ShardDir(dir: String): String = Fixture.workDir("p03", dir)

  private[graft] def p04ShardDir(dir: String): String = Fixture.workDir("p04", dir)

  private[graft] def p05ShardDir(dir: String): String = Fixture.workDir("p05", dir)

  private[graft] def curationStoreDir(dir: String): String = Fixture.workDir("cur", dir)

  /** Bump when the published-front layout or any stage parameter
    * changes (the setup-fingerprint convention).
    */
  private val curationStoreFormat = "curation-kept-rep3-span8x-lsh3x64b32t05-decon5-v1"

  /** One-time publish of the curation pipelines' shared FRONT
    * (load-phase setup — Bench untimed, the p06/s06 store-publish
    * convention): the scrubbed + near-dup-deduped KEPT relation in
    * token space ([[curationKept]]) and the benchmark-contamination id
    * list over it (the d16 screen on the rebuilt post-scrub text). In
    * production the cleaned corpus is published ONCE at ingest —
    * d36/d31/d25/d16 gate the scrub/screen stages cell by cell and the
    * p06 refresh loop runs them live per batch and maintains the
    * published stores — while each TRAINING RUN's curation (quality
    * selection, budget, ordering, packing, tokenizer) re-runs over the
    * published artifact with its own budget and seed: exactly the
    * split the p03/p04/p05 cells measure. Idempotent per input via the
    * (length, mtime, format) fingerprint marker.
    */
  def p0345Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val st = curationStoreDir(dir)
    Fixture.once(spark, st, s"documents:${docStamp(spark, dir)}:$curationStoreFormat") {
      curationKept(spark, dir).write.mode("overwrite").parquet(s"$st/kept")
      val kept = spark.read.parquet(s"$st/kept")
      val evalDocs = Tables.documents(spark, dir)
        .filter(col("doc_id") % 50 === 0 && col("doc_id") > 0)
        .select(col("doc_id"), col("text").as("texte"))
      graft.operators.Decontaminate
        .contaminatedIdsTokens(kept, "doc_id", "jetons", evalDocs, "texte", n = 5)
        .write.mode("overwrite").parquet(s"$st/contaminated")
    }
  }

  /** The published kept relation (doc_id, jetons, n_jetons) — the
    * cleaned-corpus artifact every curation cell reads.
    */
  private def keptStore(spark: SparkSession, dir: String): DataFrame = {
    p0345Setup(spark, dir)
    spark.read.parquet(s"${curationStoreDir(dir)}/kept")
  }

  /** The curation pipelines' cleaned-corpus build — published once per
    * corpus by [[p0345Setup]]: repetition scrub → corpus span scrub →
    * near-dup scrub, returning the kept relation
    * (doc_id, jetons, n_jetons) in token space.
    */
  private def curationKept(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    // tokenize + repetition scrub as ONE fused compiled map (no
    // exchange) — deliberately NOT checkpointed although the span
    // screen reads it three times: the row is a WIDE token array, and
    // materializing it measured STRICTLY worse than recomputing the
    // codegen'd kernels (7.1 s → 3.5 s for the whole span stage at
    // sf0.1 — the embeddingNearDup projection precedent: storage and
    // serialization pressure dwarf pure-CPU map work)
    val rep = docs
      .select(col("doc_id"),
        org.apache.spark.sql.graft.TextExpr
          .repetitionScrub(Text.tokens(col("text")), 3).as("a1"))
    // corpus span scrub in TOKEN space (spanScrubTokens) on xxhash64
    // gram keys — the d32 production fast path; the oracle's md5 spans
    // are identical absent a 64-bit collision (d32's gating argument),
    // and the rebuilt text is what the gate hashes. The text is rebuilt
    // exactly once here; fully-scrubbed docs leave the pipeline.
    // Checkpointed — consumed by the near-dup screen (two scans),
    // quality scoring, the pack join and the fingerprint, each of which
    // would otherwise re-run the whole span stage.
    // the scrubbed corpus STAYS IN TOKEN SPACE (the minhashLshTokens /
    // writeShardsTokens composition contract): every downstream kernel
    // consumes tokens, so rebuilding a string here only to re-split it
    // in the near-dup screen and again in the pack paid two pointless
    // corpus passes; text materializes exactly where a STRING is the
    // semantic unit (the quality score and the md5 fingerprint —
    // Text.tokens(concat_ws(" ", a)) == a, so the gate is unchanged)
    val scrubbed = Dedup
      .spanScrubTokens(rep, "doc_id", "a1", gramTokens = 8, exactFingerprints = false)
      .select(col("doc_id"),
        col("jetons_gardes").as("jetons"),
        col("n_tokens_gardes").as("n_jetons"))
      .filter(col("n_jetons") > 0)
      .localCheckpoint(true)
    // near-dup scrub over the scrubbed tokens: banded pairs → star-
    // contraction components → drop non-canonical members (the d25
    // min-id survivor contract)
    val pairs = Dedup.minhashLshTokens(scrubbed, "doc_id", "jetons",
      shingleN = 3, k = 64, bands = 32, threshold = 0.5)
    val remove = Dedup.clusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as("doc_id"))
    scrubbed.join(remove, Seq("doc_id"), "left_anti")
  }

  /** Shared TAIL of the composed curation pipelines: quality scoring →
    * token-budget selection → deterministic training order → pack +
    * shard emit → per-doc sequence ranges read BACK from the emitted
    * files. `seed` keys the training-order permutation; `out` is the
    * shard directory.
    */
  private def curationEmit(
      spark: SparkSession, kept: DataFrame, seed: String, out: String): DataFrame = {
    // quality → token-budget selection (two-phase prefix pass on a
    // narrow prepared relation). The selection is BUDGET-BOUNDED
    // (≤ budget/min-doc-tokens rows at ANY corpus size), so the
    // selected set — consumed by the order pass, the pack input and
    // the final join — is eagerly materialized: every downstream
    // action would otherwise re-run the corpus-scale quality anti-join
    // lineage.
    val selected = graft.operators.Curate
      .budgetSelect(
        kept.select(col("doc_id"),
          Text.qualityScore(concat_ws(" ", col("jetons"))).as("qualite"), col("n_jetons")),
        "doc_id", "qualite", "n_jetons", budget = 10000L)
      .select(col("doc_id"), col("qualite"), col("n_jetons"), col("cum").as("jetons_cumules"))
      .localCheckpoint(true)
    // deterministic training order of the selected set (seed-stable)
    val ordered = graft.operators.Curate
      .trainingOrder(selected.select(col("doc_id")), "doc_id", seed = seed)
      .select(col("doc_id"), col("rang"))
    // pack + shard emit in training order (rang is the unique pack
    // key), then read the per-doc sequence ranges BACK from disk.
    // ONE budget-bounded checkpointed relation carries rang + texte +
    // every final-report column (fingerprint folded in here): it feeds
    // writeShards' THREE internal passes (range sampler, totals job,
    // data/write pass) AND the final report, so the tail pays a single
    // fromDisk join instead of the previous selected ⋈ ordered ⋈
    // fromDisk ⋈ kept chain plus a second checkpoint — all of which
    // re-joined the same ≤ budget/min-tokens rows (the r13 fixed-cost
    // watch: ~10 stages of plan/codegen floor dominated the cell). The
    // pack runs at 4 partitions (32 range partitions of a
    // budget-bounded set paid pure task floor; a larger budget scales
    // this knob with budget/seqTokens).
    // the ordered⋈selected composite is budget-bounded by a DRIVER
    // scalar (≤ budget/min-doc-tokens rows) — broadcast it STATICALLY
    // into the corpus-side join: un-hinted, the token-carrying kept
    // relation pays its full shuffle write before AQE's late flip (the
    // d29/d28/d10/d22 byte lesson)
    val packIn = kept.select(col("doc_id"), col("jetons"))
      .join(broadcast(ordered.join(selected, Seq("doc_id"))), Seq("doc_id"))
      .select(col("rang"), col("doc_id"),
        md5(concat_ws(" ", col("jetons"))).as("empreinte"),
        col("qualite"), col("n_jetons"), col("jetons_cumules"), col("jetons"))
      .localCheckpoint(true)
    Pack.writeShardsTokens(packIn, "rang", "jetons",
      seqTokens = 256, seqsPerShard = 8, outDir = out, numPartitions = 1)
    val fromDisk = Pack.readShards(spark, out)
      .select(col("seq_id"), explode(col("docs")).as("d"))
      .groupBy(col("d.doc_id").as("rang"))
      .agg(min(col("seq_id")).as("seq_debut"), max(col("seq_id")).as("seq_fin"))
    packIn
      .join(fromDisk, Seq("rang"))
      .select(col("rang"), col("doc_id"), col("empreinte"), col("qualite"),
        col("n_jetons"), col("jetons_cumules"), col("seq_debut"), col("seq_fin"))
  }

  /** The TRAINER-READY tail of the curation pipelines (p05):
    * [[curationEmit]]'s selection machinery, but the emitted shards
    * carry BPE-ID streams from a tokenizer trained on the PACKED SET
    * itself — the artifact a trainer actually reads. Stages:
    *
    *  1. quality → token-budget selection → training order, exactly
    *     [[curationEmit]] (oracle-checkable in whitespace tokens);
    *  2. ONE budget-bounded checkpointed relation (`packToks`) carries
    *     rang + jetons + every report column — the tokenizer trains on
    *     it (O(budget) rows driver-side histogram, the d23 fit), the
    *     encode maps over it, the final report joins back to it;
    *  3. [[Pack.writeShardsTokens]] over the id streams — the SEQUENCE
    *     budget is counted in BPE ids (the unit a trainer bills), the
    *     emitted arrays are int (≈4× narrower than word strings);
    *  4. the gate reads the shards BACK from disk, reassembles each
    *     doc's id stream from its slice provenance (the d39
    *     convention, keyed on rang), DECODES it, and fingerprints: the
    *     md5 must equal the oracle's direct hash of the selected text —
    *     losslessness of encode → pack → disk → reassembly → decode,
    *     end to end through the decontaminating pipeline.
    *
    * Training on the packed selection is the principled choice (the
    * tokenizer sees exactly the distribution the trainer will) AND the
    * scale choice: it adds zero corpus-scale passes on top of
    * [[curationEmit]], and every character of every packed word is
    * in-vocabulary by construction, so decode cannot hit UnkId.
    */
  private def curationEmitIds(
      spark: SparkSession, kept: DataFrame, seed: String, out: String): DataFrame = {
    val selected = graft.operators.Curate
      .budgetSelect(
        kept.select(col("doc_id"),
          Text.qualityScore(concat_ws(" ", col("jetons"))).as("qualite"), col("n_jetons")),
        "doc_id", "qualite", "n_jetons", budget = 10000L)
      .select(col("doc_id"), col("qualite"), col("n_jetons"), col("cum").as("jetons_cumules"))
      .localCheckpoint(true)
    val ordered = graft.operators.Curate
      .trainingOrder(selected.select(col("doc_id")), "doc_id", seed = seed)
      .select(col("doc_id"), col("rang"))
    // the budget-bounded packed set WITH its token arrays (the
    // curationEmit packIn, jetons kept): selection side broadcast
    // statically (budget-bounded by a driver scalar — the d29/d28/d10/
    // d22 byte lesson), checkpointed once for the three consumers
    val packToks = kept.select(col("doc_id"), col("jetons"))
      .join(broadcast(ordered.join(selected, Seq("doc_id"))), Seq("doc_id"))
      .select(col("rang"), col("doc_id"), col("qualite"), col("n_jetons"),
        col("jetons_cumules"), col("jetons"))
      .localCheckpoint(true)
    val model = graft.functions.Bpe.trainTokens(
      packToks.select(col("jetons")), "jetons", numMerges = 256, topWords = 20000)
    val idc = graft.functions.Bpe.idCodec(model)
    Pack.writeShardsTokens(
      packToks.select(col("rang"),
        org.apache.spark.sql.graft.TextExpr.bpeEncodeIdStream(col("jetons"), idc).as("ids")),
      "rang", "ids", seqTokens = 256, seqsPerShard = 8, outDir = out, numPartitions = 1)
    // read back → per-doc slice reassembly (d39, keyed on rang) → decode
    val back = Pack.readShards(spark, out)
      .select(col("seq_id"), col("tokens"), explode(col("docs")).as("d"))
      .select(col("d.doc_id").as("rang"), col("seq_id"),
        col("d.debut_dans_seq").as("off"), col("d.n_tokens").as("n"),
        expr("slice(tokens, off + 1, n)").as("tranche"))
      .groupBy(col("rang"))
      .agg(sort_array(collect_list(struct(col("seq_id"), col("off"), col("tranche"))))
        .as("parts"))
      .select(col("rang"),
        flatten(transform(col("parts"), p => p.getField("tranche"))).as("ids"))
    packToks
      .join(back, Seq("rang"))
      .select(col("rang"), col("doc_id"),
        md5(org.apache.spark.sql.graft.TextExpr.bpeDecodeIdStream(col("ids"), idc))
          .as("empreinte"),
        col("qualite"), col("n_jetons"), col("jetons_cumules"))
  }

  private def p03(spark: SparkSession, dir: String): DataFrame =
    curationEmit(spark, keptStore(spark, dir), "p03", p03ShardDir(dir))

  // ---------------------------------------------------------------------
  // p04 — the DECONTAMINATING curation pipeline (p03 + the mandatory
  // pre-training hygiene stage, MEASURED IN-CELL): before the budget is
  // spent, every kept document of the published front is screened for
  // n-gram overlap against the benchmark/eval set (d16's ngramOverlap
  // operator, n=5) computed on the REBUILT post-scrub text — the
  // cross-stage contract a real pipeline runs (eval grams must be
  // checked against what will actually be packed, not the raw text the
  // scrubs already rewrote) — and contaminated documents are removed.
  // The eval set is the d16 convention (doc_id % 50 = 0, raw text,
  // benchmarks arrive as external text); its scrubbed twins remain in
  // the train side, so real contamination hits are guaranteed and the
  // selection provably differs from p03's. Scale shape: the eval-gram
  // side rides d16's budget-gated broadcast (the train corpus is never
  // shuffled on the gram key); the selection/emission tail is the p03
  // machinery over the published parquet.
  // ---------------------------------------------------------------------
  private def p04(spark: SparkSession, dir: String): DataFrame = {
    val kept = keptStore(spark, dir)
    val evalDocs = Tables.documents(spark, dir)
      .filter(col("doc_id") % 50 === 0 && col("doc_id") > 0)
      .select(col("doc_id"), col("text").as("texte"))
    // the removal list is O(contaminated docs) narrow rows — eagerly
    // materialized so the tail's two checkpoint actions (quality prep,
    // pack input) re-read ids instead of re-running the corpus-wide
    // gram screen
    val contaminated = graft.operators.Decontaminate
      .contaminatedIdsTokens(kept, "doc_id", "jetons", evalDocs, "texte", n = 5)
      .localCheckpoint(true)
    curationEmit(spark, kept.join(contaminated, Seq("doc_id"), "left_anti"),
      "p04", p04ShardDir(dir))
  }

  // ---------------------------------------------------------------------
  // p05 — the TRAINER-READY pipeline: p04's decontaminated selection
  // base (both its stores published by [[p0345Setup]] — the decon id
  // list is itself an ingest artifact there; p04 measures the screen
  // live, this cell measures what is DISTINCTIVELY its own), emitting
  // BPE-ID shards from a tokenizer trained on the packed selection
  // itself (curationEmitIds). The sequence budget is counted in BPE
  // ids; the gate decodes the reassembled id streams read back from
  // disk and must reproduce the oracle's direct md5 of each selected
  // document's scrubbed text — the d39 losslessness convention lifted
  // through the WHOLE curation pipeline. The id-space sequence
  // boundaries are model-dependent (SQL cannot re-train the tokenizer),
  // so the gate's columns are the selection report + the decoded
  // fingerprint; boundary arithmetic is pinned by PackSpec in id units.
  // ---------------------------------------------------------------------
  private def p05(spark: SparkSession, dir: String): DataFrame = {
    val kept = keptStore(spark, dir)
    val cln = kept.join(
      spark.read.parquet(s"${curationStoreDir(dir)}/contaminated"),
      Seq("doc_id"), "left_anti")
    curationEmitIds(spark, cln, "p05", p05ShardDir(dir))
  }

  // ---------------------------------------------------------------------
  // p06 — the CHAINED INCREMENTAL CORPUS REFRESH LOOP (RefreshPipeline):
  // generation 0 is published over doc_id ≤ ⌊8·max/10⌋ (scrubbed corpus
  // + span-gram / signature / label / eval-gram / stats / selection
  // stores + packed shard store), then batch-1 = (⌊8·max/10⌋,⌊9·max/10⌋]
  // runs ONE FULL MAINTAINING REFRESH into generation 1 — batch-scale
  // deltas of the append-only stores, rewritten labels/stats/selection,
  // rebuilt probe accelerators, the maintained packed store: everything
  // the NEXT refresh probes. Both hops are load-phase setup (Bench
  // untimed, s13 convention). The TIMED query is the SECOND refresh:
  // batch-2 (doc_id > ⌊9·max/10⌋) screened against generation 1's
  // stores (never the raw corpus), the budget re-selected over narrow
  // stats, the store maintained in place — tombstone evictees, append
  // entrants, finalize. The gate hashes the generation-2 selection
  // report with per-doc fingerprints READ BACK through the refreshed
  // store against the oracle's ONE-SHOT rebuild over the WHOLE table —
  // certifying refresh ∘ refresh ≡ one-shot, the fixpoint property that
  // makes the loop a production loop rather than a one-hop trick.
  // ---------------------------------------------------------------------
  /** Generation-0 publish + maintaining batch-1 refresh — load-phase
    * setup (Bench, untimed).
    */
  def p06Setup(spark: SparkSession, dir: String): Unit =
    RefreshPipeline.setup(spark, dir)

  private def p06(spark: SparkSession, dir: String): DataFrame =
    RefreshPipeline.run(spark, dir)

  // ---------------------------------------------------------------------
  // p08 — the COMPACTION TRIGGER POLICY in the loop (r18 verdict ask #2):
  // p06 proves one maintaining hop and RefreshSpec's law proves the fold
  // is invariant, but nothing DECIDED when to fold. Here the production
  // loop itself decides: setup publishes gen-0 over ⌊6·max/10⌋ and runs
  // THREE policy-governed maintaining hops (RefreshPipeline
  // .maintainedRefresh — refresh, then fold when the chain hits the
  // CompactDepth watermark, the s13-alarm→e10-republish precedent), so
  // the chain runs g0 → [g1,g0] → fold fires at depth 3 → [g2-folded] →
  // [g3, g2-folded]. The TIMED query is the FOURTH refresh against the
  // policy's chain — a chain CONTAINING a policy-folded layer — and must
  // hash-match p06's one-shot oracle over the whole table verbatim (the
  // final conserve/entrant boundary is the same ⌊9·max/10⌋): refresh ∘
  // fold(policy) ∘ refresh³ ≡ one-shot. RefreshSpec pins the policy
  // mechanics (fires exactly at the watermark, never under it); the
  // probe-cost reset the fold buys is measured in SCALE.md (Dev
  // chainpolicy).
  // ---------------------------------------------------------------------
  def p08Setup(spark: SparkSession, dir: String): Unit =
    RefreshPipeline.policySetup(spark, dir)

  private def p08(spark: SparkSession, dir: String): DataFrame =
    RefreshPipeline.runPolicy(spark, dir)

  // ---------------------------------------------------------------------
  // p09 — THE COMPOSED PRODUCTION LOOP (r19 verdict ask #2): every
  // maintenance policy the catalog gates per tier — the chain-depth
  // fold (p08), the append-count index compaction (e13), the recall
  // drift gate (s13/e12) — firing POLICY-DRIVEN inside ONE maintenance
  // window, over ONE ingest batch's REAL survivor delta. p08 proves the
  // text fold, e13 the vector compact, e12 the alarm→republish gate;
  // nothing before this cell ran two policies in the same window, which
  // is where policy-interaction bugs live (a fold relocating the text
  // store that feeds the vector tier's delta mid-window).
  //
  // The deployment: the similarity-serving ANN store tracks the CLEANED
  // CORPUS (every span/near-dup/decon survivor — the generation's stats
  // store), while the budget selection picks the training subset — the
  // production split of concerns (you search everything clean, you
  // train on the best of it). The loop curates the EMBEDDING-COVERED id
  // range (doc_id ≤ max vec_id), so every survivor has a vector and the
  // tiers stay coupled: each hop's vector entrants ARE the text
  // window's batch survivors, its evictees the docs the batch's screens
  // retroactively evicted (a bridged near-dup cluster, a new
  // benchmark's grams).
  //
  // The window (hop 4 of p09's own 4-hop policy chain):
  //   TEXT  — maintainedRefresh runs the MAINTAINING fourth refresh and
  //           the depth watermark fires compactGen mid-window (chain
  //           [gen4,g3,g2-folded] hits CompactDepth=3 → one folded
  //           layer). Maintenance-cadence work, staged in setup like
  //           p08's own folds (the store-publish convention).
  //   VECTOR (timed) — the hop's survivor delta (stats(gen4-folded) −
  //           stats(g3), read THROUGH the policy's fold) drives the
  //           index store: maintainAppend's fourth append crosses the
  //           append watermark and fires the range-cluster compaction
  //           (e13's policy); evictees tombstone out when the batch
  //           evicted any.
  //   GATE  (timed) — the s13 production-config recall probe runs as
  //           the republish tripwire (floor 0.05: a healthy maintained
  //           store clears it by construction; a fold/compact
  //           interaction bug that corrupts codes craters recall, fires
  //           the alarm, republishes — and the politique row's pinned
  //           version then hash-mismatches), then the exhaustive serve.
  //
  // ONE oracle hash-gates all of it: the texte tier ≡ the one-shot
  // curation over the covered range (the p06 equality, now with TWO
  // policy folds in the history and the report read through the second
  // fold's byte-copied store); the vecteur tier ≡ brute force over the
  // final CLEANED corpus's embeddings (exhaustive config —
  // model-independent); and the politique row pins the POLICY CONTRACT
  // as literals — store version 1 (the tripwire stayed quiet), append
  // counter 0 (the compact fired exactly at the watermark), chain depth
  // 1 (the fold fired), alarm 0.0. An engine whose policies misfire
  // emits different constants and the hash mismatches; one whose
  // maintenance corrupts content fails the other two tiers.
  //
  // Re-run parity (the e13 staging convention): setup stages the
  // fragmented pre-window vector store beside the live one; a run that
  // finds the window already absorbed (counter ≠ staged, or the
  // entrant wave already present — the crash half-state) restores the
  // staged copy first, so every run re-times the same policy window.
  // Scale shape: deltas are batch-scale (broadcast), the vector
  // maintenance moves narrow code rows (the compact cost class), the
  // probe is a bounded 32-query sample, and the text tier's read-back
  // is budget-bounded store rows — the corpus crosses no exchange.
  // ---------------------------------------------------------------------
  private def p09WorkDir(dir: String): String = Fixture.workDir("p09", dir)

  /** The vector store's append watermark: three maintaining hops land in
    * setup (counters 1..3), the timed window's fourth append crosses.
    */
  private val p09VecWatermark = 4

  /** A generation's cleaned-corpus membership: the survivor stats ids
    * (span ∘ near-dup ∘ decon survivors — what the ANN store indexes).
    */
  private def p09StatsIds(spark: SparkSession, gen: String): DataFrame =
    spark.read.parquet(s"$gen/stats").select(col("doc_id"))

  /** Stage the production loop through hop 3 on BOTH tiers, then run
    * hop 4's TEXT side (maintaining refresh + the policy fold) — the
    * pre-window state the timed query's vector window applies its delta
    * against. Load-phase setup (untimed, the store-publish convention).
    */
  def p09Setup(spark: SparkSession, dir: String): Unit = synchronized {
    val w = p09WorkDir(dir)
    Fixture.once(spark, w, s"${docStamp(spark, dir)}:${emStamp(spark, dir)}:" +
        "p09-composedloop-v4-manifest") { // v4: fin in store logs
      val em = Tables.embeddings(spark, dir)
      val emMax = em.agg(coalesce(max(col("vec_id")), lit(0L))).collect()(0).getLong(0)
      // the loop's corpus: the embedding-covered id range (see header)
      val docs = Tables.documents(spark, dir).filter(col("doc_id") <= emMax)
      val mx = docs.agg(coalesce(max(col("doc_id")), lit(0L))).collect()(0).getLong(0)
      def t(frac: Int) = frac.toLong * mx / 10L
      // text tier gen-0 + vector store over its cleaned corpus (model
      // frozen at gen-0 — the production contract; the drift gate
      // decides retraining)
      RefreshPipeline.publish(spark, docs.filter(col("doc_id") <= t(6)), s"$w/g0")
      val ix = s"$w/index"
      graft.operators.AnnIndex.write(
        em.join(broadcast(p09StatsIds(spark, s"$w/g0")
            .select(col("doc_id").as("vec_id"))), Seq("vec_id"), "left_semi"),
        "vec_id", "embedding", ix, nList = 16, m = 8, codes = 16, iters = 3)
      // hops 1..3: the composed window, looped — policy-governed text
      // refresh, then the hop's survivor delta through the vector store
      var chain: Seq[String] = Seq(s"$w/g0")
      (1 to 3).foreach { h =>
        val prevHead = chain.head
        chain = RefreshPipeline.maintainedRefresh(spark, chain,
          docs.filter(col("doc_id") > t(5 + h) && col("doc_id") <= t(6 + h)),
          s"$w/g$h", threshold = t(5 + h), newThreshold = t(6 + h))
        val prev = p09StatsIds(spark, prevHead)
        val cur = p09StatsIds(spark, chain.head)
        val entrants = cur.join(prev, Seq("doc_id"), "left_anti")
        val evictees = prev.join(cur, Seq("doc_id"), "left_anti")
        val n = graft.operators.AnnIndex.maintainAppend(
          em.join(broadcast(entrants.select(col("doc_id").as("vec_id"))),
            Seq("vec_id"), "left_semi"),
          "vec_id", "embedding", ix, appendsWatermark = p09VecWatermark)
        assert(n == h, s"p09 setup: hop $h left the append counter at $n — " +
          "an empty survivor wave (the policy must not fire under the watermark)")
        if (!evictees.isEmpty)
          graft.operators.AnnIndex.tombstone(spark, ix,
            evictees.select(col("doc_id").as("vec_id")))
      }
      // hop 4's TEXT tier: the maintaining refresh whose chain crosses
      // the depth watermark — the fold fires HERE, relocating every
      // text store the timed vector window reads its delta from
      val t3 = t(9)
      val finalChain = RefreshPipeline.maintainedRefresh(spark, chain,
        docs.filter(col("doc_id") > t3), s"$w/gen4",
        threshold = t3, newThreshold = mx)
      // the WHOLE live chain, newest first (the generation manifest):
      // the politique row reads its depth from here, so an un-fired
      // fold surfaces as a 3-layer manifest → depth 3 ≠ the oracle's
      // pinned 1 → hash mismatch (a gate, not a setup crash)
      Fixture.write(spark, s"$w/_FINAL_CHAIN", finalChain.mkString("\n"))
      Fixture.write(spark, s"$w/_PREV_HEAD", chain.head)
      Fixture.write(spark, s"$w/_T3", t3.toString)
      // stage the fragmented pre-window vector store (counter 3) for
      // re-run parity — the e13 convention
      val hconf = spark.sparkContext.hadoopConfiguration
      val ixPath = new org.apache.hadoop.fs.Path(ix)
      graft.operators.Stores.duplicate(ixPath.getFileSystem(hconf), ixPath,
        new org.apache.hadoop.fs.Path(s"$w/index_staged"), hconf)
    }
  }

  private def p09(spark: SparkSession, dir: String): DataFrame = {
    p09Setup(spark, dir)
    val w = p09WorkDir(dir)
    val ix = s"$w/index"
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(w).getFileSystem(hconf)
    def readFile(f: String) = Fixture.read(spark, s"$w/$f").trim
    val finalChain = readFile("_FINAL_CHAIN").split("\n").toSeq
    val finalLayer = finalChain.head
    val prevHead = readFile("_PREV_HEAD")
    val t3 = readFile("_T3").toLong
    val em = Tables.embeddings(spark, dir)
    // the window's delta, read THROUGH the policy's fold — the
    // text-fold → vector-tier handoff under test
    val statsPrev = p09StatsIds(spark, prevHead)
    val statsNew = p09StatsIds(spark, finalLayer)
    val entrants = statsNew.join(statsPrev, Seq("doc_id"), "left_anti")
    val evictees = statsPrev.join(statsNew, Seq("doc_id"), "left_anti")
    val entrantEm = em.join(broadcast(entrants.select(col("doc_id").as("vec_id"))),
      Seq("vec_id"), "left_semi")
    // re-run parity: restore the staged pre-window store unless it is
    // exactly the pre-window state (counter 3 AND the entrant wave not
    // yet absorbed — a crash between append and compact leaves counter
    // 3 with the wave present, which must also replay)
    val staged = p09VecWatermark - 1
    val needRestore =
      graft.operators.AnnIndex.appendsSinceCompact(spark, ix) != staged || {
        val stored = graft.operators.AnnIndex.codes(spark, ix)
        entrantEm
          .join(stored.select(col(stored.schema.fieldNames.head).as("vec_id")),
            Seq("vec_id"), "left_anti")
          .isEmpty
      }
    if (needRestore) {
      fs.delete(new org.apache.hadoop.fs.Path(ix), true)
      graft.operators.Stores.duplicate(
        fs, new org.apache.hadoop.fs.Path(s"$w/index_staged"),
        new org.apache.hadoop.fs.Path(ix), hconf)
    }
    // ---- the vector window, policy-driven: the fourth append crosses
    // the watermark and fires the compaction; evictees leave when the
    // batch's screens evicted any (an empty eviction list is the
    // common steady-state window — no rewrite then)
    val counterAfter = graft.operators.AnnIndex.maintainAppend(
      entrantEm, "vec_id", "embedding", ix, appendsWatermark = p09VecWatermark)
    if (!evictees.isEmpty)
      graft.operators.AnnIndex.tombstone(spark, ix,
        evictees.select(col("doc_id").as("vec_id")))
    // ---- the drift gate: production-config recall on a bounded
    // deterministic sample of the maintained store, the republish
    // tripwire (s13's machinery; e12 gates the ALARMED transition —
    // here the healthy steady state is the pinned outcome)
    val vecCorpus = em.join(broadcast(statsNew.select(col("doc_id").as("vec_id"))),
      Seq("vec_id"), "left_semi")
    val probeQ = vecCorpus.orderBy(col("vec_id")).limit(32)
    val recall = graft.operators.AnnIndex
      .recallProbe(spark, ix, probeQ, vecCorpus, "vec_id", "embedding",
        k = 1, nProbe = 8, shortlist = 16)
      .agg(avg(col("rappel"))).collect()(0).getDouble(0)
    val alarm = recall < 0.05
    if (alarm)
      graft.operators.AnnIndex.republish(
        vecCorpus.select(col("vec_id"), col("embedding")),
        "vec_id", "embedding", ix, nList = 16, m = 8, codes = 16, iters = 3)
    val version = graft.operators.AnnIndex.version(spark, ix)
    // ---- exhaustive serve ≡ brute over the final cleaned corpus (the
    // p07 vector-tier gate: nProbe = nList, unbounded shortlist);
    // queries = fixed base ids ∪ a deterministic %7 thinning of the
    // final batch's survivors
    val (cents, books) = graft.operators.AnnIndex.readModel(spark, ix)
    val coded = graft.operators.AnnIndex.codes(spark, ix)
      .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
    val vecs = vecCorpus.select(col("vec_id").as("neighbor_id"),
      Vectors.toDouble(col("embedding")).as("v_c"))
    val queries = em.filter(col("vec_id") < 10)
      .unionByName(em.join(broadcast(statsNew
        .filter(col("doc_id") > t3 && pmod(col("doc_id"), lit(7L)) === 0)
        .select(col("doc_id").as("vec_id"))), Seq("vec_id"), "left_semi"))
    val serve = Similarity.pqKnnIvfCoded(coded, vecs, queries,
      "vec_id", "embedding", k = 5, cents, books,
      nProbe = 16, shortlist = Int.MaxValue)
    // ---- texte tier: the budget selection + fingerprints read back
    // through the FOLDED layer's byte-copied store (the p06 gate
    // columns — an over- or under-fold surfaces here)
    val texte = spark.read.parquet(s"$finalLayer/selection")
      .join(RefreshPipeline.storePerDoc(spark, s"$finalLayer/store"), Seq("doc_id"))
      .select(col("doc_id"), col("statut"),
        md5(concat_ws(" ", col("toks"))).as("empreinte"),
        col("qualite"), col("n_jetons"), col("jetons_cumules"))
    // ---- the composed report (sentinel-filled, the p07 convention);
    // the politique row pins the policy contract as constants
    val bN = lit(-1L); val bD = lit(-1.0); val bS = lit("")
    val rTexte = texte.select(
      lit("texte").as("tier"), col("doc_id"), col("statut"), col("empreinte"),
      col("qualite"), col("n_jetons"), col("jetons_cumules"),
      bN.as("rang"), bN.as("voisin"), bD.as("cosinus"))
    val rVec = serve.select(
      lit("vecteur").as("tier"), col("query_id").as("doc_id"), bS.as("statut"),
      bS.as("empreinte"), bD.as("qualite"), bN.as("n_jetons"), bN.as("jetons_cumules"),
      col("rank").cast("long").as("rang"), col("neighbor_id").as("voisin"),
      col("cosine").as("cosinus"))
    import spark.implicits._
    val rPol = Seq((
      "politique", -1L, "", "",
      if (alarm) 1.0 else 0.0, // the tripwire stayed quiet
      finalChain.length.toLong, // live manifest depth: the fold fired
      -1L,
      version, // no republish: the store still serves generation 1
      counterAfter.toLong, // the compact fired exactly at the watermark
      -1.0
    )).toDF("tier", "doc_id", "statut", "empreinte", "qualite", "n_jetons",
      "jetons_cumules", "rang", "voisin", "cosinus")
      .select(col("tier"), col("doc_id"), col("statut"), col("empreinte"),
        col("qualite"), col("n_jetons"), col("jetons_cumules"),
        col("rang"), col("voisin"), col("cosinus"))
    rTexte.unionByName(rVec).unionByName(rPol)
  }

  /** p09's oracle: the one-shot curation chain over the
    * embedding-covered id range (the p06 equality, now across two
    * policy folds), the brute-force vector tier over the final CLEANED
    * corpus (`cln` — the ANN store's membership), and the policy
    * contract as a literal row — version 1, counter 0, depth 1, alarm 0.
    */
  private val p09Sql = curationChainSql(decon = true,
    srcSql = "(SELECT * FROM documents " +
      "WHERE doc_id <= (SELECT max(vec_id) FROM embeddings))") +
    s"""
       |, t2v AS (SELECT (9 * max(doc_id)) // 10 AS t FROM documents
       |          WHERE doc_id <= (SELECT max(vec_id) FROM embeddings))
       |, vcorpus AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings JOIN cln ON vec_id = cln.doc_id
       |), vq AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 10
       |  UNION ALL
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings JOIN cln ON vec_id = cln.doc_id
       |  WHERE vec_id > (SELECT t FROM t2v) AND vec_id % 7 = 0
       |), vscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROUND(list_dot_product(q.v, c.v)
       |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)), 6) AS cosine
       |  FROM vq q CROSS JOIN vcorpus c WHERE q.vec_id <> c.vec_id
       |), vranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM vscored
       |)
       |SELECT 'texte' AS tier, sel.doc_id,
       |  CASE WHEN sel.doc_id <= (SELECT t FROM t2v) THEN 'conserve' ELSE 'entrant'
       |       END AS statut,
       |  md5(cln.texte) AS empreinte, sel.qualite, sel.n_jetons,
       |  CAST(sel.jc AS BIGINT) AS jetons_cumules,
       |  CAST(-1 AS BIGINT) AS rang, CAST(-1 AS BIGINT) AS voisin,
       |  CAST(-1 AS DOUBLE) AS cosinus
       |FROM sel JOIN cln USING (doc_id)
       |UNION ALL
       |SELECT 'vecteur', query_id, '', '', CAST(-1 AS DOUBLE), CAST(-1 AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(rank AS BIGINT), neighbor_id, cosine
       |FROM vranked WHERE rank <= 5
       |UNION ALL
       |SELECT 'politique', CAST(-1 AS BIGINT), '', '', CAST(0.0 AS DOUBLE),
       |  CAST(1 AS BIGINT), CAST(-1 AS BIGINT), CAST(1 AS BIGINT),
       |  CAST(0 AS BIGINT), CAST(-1 AS DOUBLE)
       |ORDER BY tier, doc_id, rang""".stripMargin

  // ---------------------------------------------------------------------
  // p07 — ONE REFRESH, THREE TIERS: the composed maintenance transaction
  // a production refresh actually is. One batch's selection delta (the
  // gen-1 → gen-2 re-selection p06 gates) drives, in a single run,
  //   - the TEXT tier: the gen-2 packed store + selection read back
  //     (fingerprints decoded from disk — the p06 gate columns);
  //   - the VECTOR tier: entrant embeddings appended with the frozen
  //     publish-time model, evictee rows tombstoned out of the codes
  //     store (e11's ops, driven here by the REAL text delta instead of
  //     a synthetic one), then an exhaustive serve;
  //   - the MEDIA tier: evictee docs pad-masked in the interleaved
  //     packed store (shards + open tail), entrant interleaved streams
  //     appended at the recovered offset, whole shards finalized
  //     (PackSpec's interleaved-maintenance laws run as a gated cell).
  // ONE oracle gate covers all three: the refreshed vector/media
  // membership is exactly the gen-2 selection ((sel1 − evictees) ∪
  // entrants = sel2 by construction), so the oracle computes the
  // one-shot selection ONCE and states each tier against it — text
  // report ≡ the p06 one-shot rebuild, exhaustive ANN serve ≡ brute
  // force over the refreshed selection's embeddings (evicted/base ids
  // among the probes), media reassembly ≡ the closed-form interleave
  // over the refreshed selection (an unmasked evictee would surface as
  // an EXTRA media row, an over-masked survivor as a broken hash).
  // Setup (untimed, the store-publish convention): gen-0/gen-1 via
  // p06Setup, ONE materialized gen-2 (the delta source — p06 itself
  // times that refresh; this cell times the COMPOSED application of its
  // delta, the d39-vs-d22 decomposition precedent), the vector store
  // over gen-1's selection, the media store over gen-1's interleaved
  // selection. The timed maintenance is idempotent-converging (append-
  // missing anti-joins, masking, staged swaps), so re-runs converge.
  // Scale shape: deltas are selection-scale (narrow, broadcast), vector
  // maintenance moves narrow code rows, media maintenance is budget-
  // bounded store rows; the corpus appears ONLY through the gen-2
  // artifacts setup built — nothing here exchanges corpus-scale data.
  // ---------------------------------------------------------------------
  private def p07WorkDir(dir: String): String = Fixture.workDir("p07", dir)

  private val p07Pad = "<scrub>"

  def p07Setup(spark: SparkSession, dir: String): Unit = synchronized {
    RefreshPipeline.setup(spark, dir)
    val w = p07WorkDir(dir)
    // bump the trailing tag when the p06 store layout (RefreshPipeline
    // `format`) or any published-store convention here changes
    Fixture.once(spark, w, s"${docStamp(spark, dir)}:${emStamp(spark, dir)}:" +
        "p07-threetier-cellpart-v3") { // v3: fin in media log
      val docs = Tables.documents(spark, dir)
      // the delta source: ONE materialized hop-2 refresh into p07's own
      // generation dir (p06's gen2 is rebuilt by every timed p06 run —
      // this cell must own a stable copy)
      val t2 = RefreshPipeline.publishedThreshold(spark, RefreshPipeline.gen1Dir(dir))
      RefreshPipeline.refreshGen(spark,
        Seq(RefreshPipeline.gen1Dir(dir), RefreshPipeline.gen0Dir(dir)),
        docs.filter(col("doc_id") > t2), s"$w/gen2", threshold = t2)
        .write.mode("overwrite").format("noop").save()
      val sel1 = spark.read
        .parquet(s"${RefreshPipeline.gen1Dir(dir)}/selection").select(col("doc_id"))
      // vector store: gen-1 selection's embeddings under the frozen model
      graft.operators.AnnIndex.write(
        Tables.embeddings(spark, dir)
          .join(broadcast(sel1.select(col("doc_id").as("vec_id"))),
            Seq("vec_id"), "left_semi"),
        "vec_id", "embedding", s"$w/index", nList = 16, m = 8, codes = 16, iters = 3)
      // media store: gen-1 selection's interleaved documents
      val med = Multimodal.interleaved(docs)
        .join(broadcast(sel1), Seq("doc_id"), "left_semi")
      Pack.packedSlicesTokens(med.select(col("doc_id"), col("jetons")),
          "doc_id", "jetons", 256, numPartitions = 1)
        .write.mode("overwrite").parquet(s"$w/media/log")
      Pack.finalizeSliceLog(spark, s"$w/media/log", s"$w/media/shards", 256, 8,
        numPartitions = 1)
    }
  }

  private def p07(spark: SparkSession, dir: String): DataFrame = {
    p07Setup(spark, dir)
    val w = p07WorkDir(dir)
    val t2 = RefreshPipeline.publishedThreshold(spark, RefreshPipeline.gen1Dir(dir))
    val sel1 = spark.read
      .parquet(s"${RefreshPipeline.gen1Dir(dir)}/selection").select(col("doc_id"))
    val sel2full = spark.read.parquet(s"$w/gen2/selection")
    val sel2 = sel2full.select(col("doc_id"))
    // the selection delta — narrow, checkpointed once, consumed by both
    // tier futures
    val entrants = sel2.join(sel1, Seq("doc_id"), "left_anti").localCheckpoint(true)
    val evictees = sel1.join(sel2, Seq("doc_id"), "left_anti").localCheckpoint(true)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global

    // ---- vector tier (concurrent with media maintenance) ----
    val vecF = scala.concurrent.Future {
      val em = Tables.embeddings(spark, dir)
      val stored = graft.operators.AnnIndex.codes(spark, s"$w/index")
      val missing = em
        .join(broadcast(entrants.select(col("doc_id").as("vec_id"))),
          Seq("vec_id"), "left_semi")
        .join(stored.select(col(stored.schema.fieldNames.head).as("vec_id")),
          Seq("vec_id"), "left_anti")
        .localCheckpoint(false) // one materializing count job, not checkpoint + isEmpty
      if (missing.count() > 0)
        graft.operators.AnnIndex.append(
          missing.select(col("vec_id"), col("embedding")), "vec_id", "embedding",
          s"$w/index")
      graft.operators.AnnIndex.tombstone(spark, s"$w/index",
        evictees.select(col("doc_id").as("vec_id")))
      // exhaustive serve (nProbe = nList, unbounded shortlist ⇒ ≡ brute
      // force): probes = fixed base ids (selected, evicted or never
      // indexed) ∪ the selection's entrant-side vectors
      val (cents, books) = graft.operators.AnnIndex.readModel(spark, s"$w/index")
      val coded = graft.operators.AnnIndex.codes(spark, s"$w/index")
        .select(col("vec_id").as("neighbor_id"), col("cell"), col("codes"))
      val vecs = em.select(col("vec_id").as("neighbor_id"),
        Vectors.toDouble(col("embedding")).as("v_c"))
      val queries = em.filter(col("vec_id") < 10)
        .unionByName(em
          .join(broadcast(sel2.filter(col("doc_id") > t2)
            .select(col("doc_id").as("vec_id"))), Seq("vec_id"), "left_semi"))
      Similarity
        .pqKnnIvfCoded(coded, vecs, queries, "vec_id", "embedding", k = 5,
          cents, books, nProbe = 16, shortlist = Int.MaxValue)
        .localCheckpoint(true)
    }

    // ---- media tier ----
    val mediaF = scala.concurrent.Future {
      val mw = s"$w/media"
      val hconf = spark.sparkContext.hadoopConfiguration
      val fs = new org.apache.hadoop.fs.Path(mw).getFileSystem(hconf)
      // interleave ONLY the entrant docs: the corpus-wide interleave ran
      // inside this timed future in r18, but only the entrant slices
      // (appended below) and the media payload columns (the report join,
      // a narrow substring projection) were ever consumed — the
      // maintained store alone carries every live doc's tokens
      // (r18 verdict ask #7)
      val entrantInter = Multimodal.interleaved(
        Tables.documents(spark, dir)
          .join(broadcast(entrants), Seq("doc_id"), "left_semi"))
      // evictee masking, staged + swapped (the AnnIndex.tombstone
      // convention — never rewrite a store over its own scan). A tiny
      // selection may never have closed a whole shard (finalize emitted
      // nothing) — every shard-tier read below is gated on the
      // watermark, the storePerDoc absent-tier convention.
      val hasShards = graft.operators.Pack.shardWatermarkSeqs(spark, s"$mw/shards", 8) > 0
      if (hasShards) {
        val tmp = new org.apache.hadoop.fs.Path(s"$mw/shards__mask_tmp")
        fs.delete(tmp, true)
        Pack.tombstone(Pack.readShards(spark, s"$mw/shards"), evictees, lit(p07Pad))
          .write.mode("overwrite").partitionBy("shard_id").parquet(tmp.toString)
        graft.operators.Swap.publish(fs, tmp,
          new org.apache.hadoop.fs.Path(s"$mw/shards"))
      }
      // open tail: mask evictees and append the MISSING entrants' slices
      // (append-missing on store provenance ids — re-runs converge) in
      // ONE staged write at the recovered offset
      val offset = Pack.recoveredOffset(spark, s"$mw/log", s"$mw/shards", 256, 8)
      val logIds = spark.read.parquet(s"$mw/log").select(col("doc_id"))
      val presentIds = (if (!hasShards) logIds
        else Pack.readShards(spark, s"$mw/shards")
          .select(explode(col("docs")).as("d")).select(col("d.doc_id").as("doc_id"))
          .unionByName(logIds))
        .distinct()
      val toAppend = entrantInter
        .join(presentIds, Seq("doc_id"), "left_anti")
      val newSlices = Pack.packedSlicesTokens(
        toAppend.select(col("doc_id"), col("jetons")), "doc_id", "jetons", 256,
        numPartitions = 1, startOffset = offset)
      val maskedLog = spark.read.parquet(s"$mw/log")
        .join(broadcast(evictees.withColumn("__evince", lit(true))), Seq("doc_id"), "left")
        .withColumn("tranche",
          when(col("__evince"), array_repeat(lit(p07Pad), col("n").cast("int")))
            .otherwise(col("tranche")))
        .drop("__evince")
      val logTmp = new org.apache.hadoop.fs.Path(s"$mw/log__mask_tmp")
      fs.delete(logTmp, true)
      maskedLog.unionByName(newSlices).write.mode("overwrite").parquet(logTmp.toString)
      graft.operators.Swap.publish(fs, logTmp, new org.apache.hadoop.fs.Path(s"$mw/log"))
      Pack.finalizeSliceLog(spark, s"$mw/log", s"$mw/shards", 256, 8,
        numPartitions = 1, countResidual = false)
      // report: every doc with live (non-pad) content in the maintained
      // store — an unmasked evictee would surface as an extra row here.
      // The join side is the narrow media-payload projection: the store
      // read-back supplies the token streams, so nothing re-interleaves
      RefreshPipeline.storePerDoc(spark, mw)
        .filter(size(filter(col("toks"), t => t =!= p07Pad)) > 0)
        .join(Multimodal.mediaPayloads(Tables.documents(spark, dir)), Seq("doc_id"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_jetons"),
          (array_position(col("toks"), "<img>") - 1).as("debut_image"),
          size(filter(col("toks"), t => t === "<img>")).cast("long").as("n_jetons_image"),
          (array_position(col("toks"), "<aud>") - 1).as("debut_audio"),
          size(filter(col("toks"), t => t === "<aud>")).cast("long").as("n_jetons_audio"),
          md5(concat_ws(" ",
            filter(col("toks"), t => t =!= "<img>" && t =!= "<aud>"))).as("empreinte_texte"),
          sha2(encode(col("media_image"), "UTF-8"), 256).as("empreinte_image"),
          sha2(encode(col("media_audio"), "UTF-8"), 256).as("empreinte_audio"))
        .localCheckpoint(true)
    }

    // ---- text tier (main thread): gen-2 selection + fingerprints read
    // back through the refreshed packed store — the p06 gate columns ----
    val texte = sel2full
      .join(RefreshPipeline.storePerDoc(spark, s"$w/gen2/store"), Seq("doc_id"))
      .select(col("doc_id"), col("statut"),
        md5(concat_ws(" ", col("toks"))).as("empreinte"),
        col("qualite"), col("n_jetons"), col("jetons_cumules"))
    val serve = scala.concurrent.Await
      .result(vecF, scala.concurrent.duration.Duration.Inf)
    val media = scala.concurrent.Await
      .result(mediaF, scala.concurrent.duration.Duration.Inf)

    // ---- the composed report: one wide relation, sentinel-filled (no
    // NULLs — cross-engine null sorting/hashing stays out of the gate) ----
    val bN = lit(-1L); val bD = lit(-1.0); val bS = lit("")
    val rTexte = texte.select(
      lit("texte").as("tier"), col("doc_id"), col("statut"), col("empreinte"),
      col("qualite"), col("n_jetons"), col("jetons_cumules"),
      bN.as("rang"), bN.as("voisin"), bD.as("cosinus"),
      bN.as("debut_image"), bN.as("n_jetons_image"),
      bN.as("debut_audio"), bN.as("n_jetons_audio"),
      bS.as("empreinte_image"), bS.as("empreinte_audio"))
    val rVec = serve.select(
      lit("vecteur").as("tier"), col("query_id").as("doc_id"), bS.as("statut"),
      bS.as("empreinte"), bD.as("qualite"), bN.as("n_jetons"), bN.as("jetons_cumules"),
      col("rank").cast("long").as("rang"), col("neighbor_id").as("voisin"),
      col("cosine").as("cosinus"),
      bN.as("debut_image"), bN.as("n_jetons_image"),
      bN.as("debut_audio"), bN.as("n_jetons_audio"),
      bS.as("empreinte_image"), bS.as("empreinte_audio"))
    val rMedia = media.select(
      lit("media").as("tier"), col("doc_id"), bS.as("statut"),
      col("empreinte_texte").as("empreinte"), bD.as("qualite"),
      col("n_jetons"), bN.as("jetons_cumules"),
      bN.as("rang"), bN.as("voisin"), bD.as("cosinus"),
      col("debut_image"), col("n_jetons_image"),
      col("debut_audio"), col("n_jetons_audio"),
      col("empreinte_image"), col("empreinte_audio"))
    rTexte.unionByName(rVec).unionByName(rMedia)
  }

  private val p07Sql = curationChainSql(decon = true) +
    s"""
       |, t2v AS (SELECT (9 * max(doc_id)) // 10 AS t FROM documents)
       |, vcorpus AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings JOIN sel ON vec_id = sel.doc_id
       |), vq AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 10
       |  UNION ALL
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings JOIN sel ON vec_id = sel.doc_id
       |  WHERE vec_id > (SELECT t FROM t2v)
       |), vscored AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |    ROUND(list_dot_product(q.v, c.v)
       |      / sqrt(list_dot_product(q.v, q.v) * list_dot_product(c.v, c.v)), 6) AS cosine
       |  FROM vq q CROSS JOIN vcorpus c WHERE q.vec_id <> c.vec_id
       |), vranked AS (
       |  SELECT query_id, neighbor_id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM vscored
       |), msrc AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS a, text
       |  FROM documents
       |  WHERE doc_id % 3 = 0 AND text IS NOT NULL AND length(trim(text)) > 0
       |)
       |SELECT 'texte' AS tier, sel.doc_id,
       |  CASE WHEN sel.doc_id <= (SELECT t FROM t2v) THEN 'conserve' ELSE 'entrant'
       |       END AS statut,
       |  md5(cln.texte) AS empreinte, sel.qualite, sel.n_jetons,
       |  CAST(sel.jc AS BIGINT) AS jetons_cumules,
       |  CAST(-1 AS BIGINT) AS rang, CAST(-1 AS BIGINT) AS voisin,
       |  CAST(-1 AS DOUBLE) AS cosinus,
       |  CAST(-1 AS BIGINT) AS debut_image, CAST(-1 AS BIGINT) AS n_jetons_image,
       |  CAST(-1 AS BIGINT) AS debut_audio, CAST(-1 AS BIGINT) AS n_jetons_audio,
       |  '' AS empreinte_image, '' AS empreinte_audio
       |FROM sel JOIN cln USING (doc_id)
       |UNION ALL
       |SELECT 'vecteur', query_id, '', '', CAST(-1 AS DOUBLE), CAST(-1 AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(rank AS BIGINT), neighbor_id, cosine,
       |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
       |  '', ''
       |FROM vranked WHERE rank <= 5
       |UNION ALL
       |SELECT 'media', msrc.doc_id, '', md5(array_to_string(a, ' ')),
       |  CAST(-1 AS DOUBLE), CAST(len(a) + 12 AS BIGINT), CAST(-1 AS BIGINT),
       |  CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), CAST(-1 AS DOUBLE),
       |  CAST(len(a) // 3 AS BIGINT), CAST(8 AS BIGINT),
       |  CAST((2 * len(a)) // 3 + 8 AS BIGINT), CAST(4 AS BIGINT),
       |  sha256(substring(text, 1, length(text) // 2)),
       |  sha256(substring(text, length(text) // 2 + 1, length(text)))
       |FROM msrc JOIN sel USING (doc_id)
       |ORDER BY tier, doc_id, rang""".stripMargin

  /** The shared curation-pipeline oracle: `seed` keys the training-order
    * permutation; `decon` inserts the benchmark-decontamination stage
    * (the d16 semantics recomputed over the REBUILT post-scrub text)
    * between the near-dup survivors and quality selection.
    */
  private def curationSrcRel(decon: Boolean): String = if (decon) "cln" else "keptd"

  /** The shared curation CTE chain alone — everything from the raw
    * `documents` tokenization through the budget selection `sel` (no
    * trailing SELECT), so composed oracles (p07's three-tier refresh)
    * can reuse the selection and append their own tier subqueries.
    * `srcSql` swaps the source relation (p09 curates the
    * embedding-covered id range, so its vector tier always has a
    * vector for every survivor).
    */
  private def curationChainSql(decon: Boolean, srcSql: String = "documents"): String = {
    val gram5 = (rel: String, guard: String) =>
      s"""SELECT doc_id, unnest(CASE WHEN len(a) < 5 THEN CAST([] AS VARCHAR[])
         |      ELSE list_distinct(list_transform(range(1, len(a) - 3),
         |        i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2] || ' ' || a[i+3] || ' ' || a[i+4]))
         |      END) AS g
         |    FROM $rel$guard""".stripMargin
    val deconCtes = if (!decon) "" else
      s""", evg AS (
         |  SELECT DISTINCT g FROM (
         |    ${gram5("arr", " WHERE doc_id % 50 = 0 AND doc_id > 0")})
         |), cont AS (
         |  SELECT DISTINCT k.doc_id FROM (
         |    ${gram5("keptd", "")}) k
         |  JOIN evg USING (g)
         |), cln AS (
         |  SELECT keptd.* FROM keptd
         |  LEFT JOIN cont rm ON keptd.doc_id = rm.doc_id
         |  WHERE rm.doc_id IS NULL
         |)""".stripMargin
    s"""WITH RECURSIVE arr AS (
       |  SELECT doc_id,
       |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
       |         ELSE regexp_split_to_array(trim(text), '\\s+') END AS a
       |  FROM $srcSql
       |), tv0 AS (
       |  SELECT doc_id, i, a[i] AS t
       |  FROM (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS i FROM arr)
       |), g3 AS (
       |  SELECT doc_id, pos FROM (
       |    SELECT doc_id, pos,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id, array_to_string(a[pos:pos+2], ' ')
       |                         ORDER BY pos) AS rn
       |    FROM (SELECT doc_id, a, unnest(range(1, len(a) - 3 + 2)) AS pos
       |          FROM arr WHERE len(a) >= 3)
       |  ) WHERE rn > 1
       |), rem1 AS (
       |  SELECT DISTINCT tv0.doc_id, tv0.i
       |  FROM tv0 JOIN g3 s ON tv0.doc_id = s.doc_id AND tv0.i BETWEEN s.pos AND s.pos + 2
       |), a1 AS (
       |  SELECT arr.doc_id, COALESCE(k.a, CAST([] AS VARCHAR[])) AS a
       |  FROM arr LEFT JOIN (
       |    SELECT tv0.doc_id, list(tv0.t ORDER BY tv0.i) AS a
       |    FROM tv0 LEFT JOIN rem1 r ON tv0.doc_id = r.doc_id AND tv0.i = r.i
       |    WHERE r.i IS NULL GROUP BY tv0.doc_id
       |  ) k USING (doc_id)
       |), g8 AS (
       |  SELECT doc_id, pos, md5(array_to_string(a[pos:pos+7], ' ')) AS h
       |  FROM (SELECT doc_id, a, unnest(range(1, len(a) - 8 + 2)) AS pos
       |        FROM a1 WHERE len(a) >= 8)
       |), occ AS (
       |  SELECT doc_id, pos,
       |    ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, pos) AS rn,
       |    COUNT(*) OVER (PARTITION BY h) AS c
       |  FROM g8
       |), hits AS (
       |  SELECT doc_id, pos FROM occ WHERE c >= 2 AND rn > 1
       |), brk AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 8 THEN 1 ELSE 0 END AS b
       |  FROM hits WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
       |), isl AS (
       |  SELECT doc_id, pos, SUM(b) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM brk
       |), spans AS (
       |  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 7 AS e FROM isl GROUP BY 1, 2
       |), tv1 AS (
       |  SELECT doc_id, i, a[i] AS t
       |  FROM (SELECT doc_id, a, unnest(range(1, len(a) + 1)) AS i FROM a1)
       |), rem2 AS (
       |  SELECT DISTINCT tv1.doc_id, tv1.i
       |  FROM tv1 JOIN spans s ON tv1.doc_id = s.doc_id AND tv1.i BETWEEN s.s AND s.e
       |), scrub AS (
       |  SELECT tv1.doc_id, list(tv1.t ORDER BY tv1.i) AS a,
       |         string_agg(tv1.t, ' ' ORDER BY tv1.i) AS texte,
       |         CAST(COUNT(*) AS BIGINT) AS n_jetons
       |  FROM tv1 LEFT JOIN rem2 r ON tv1.doc_id = r.doc_id AND tv1.i = r.i
       |  WHERE r.i IS NULL GROUP BY tv1.doc_id
       |), sh AS (
       |  SELECT doc_id, list_distinct(list_transform(range(1, len(a) - 1),
       |    i -> a[i] || ' ' || a[i+1] || ' ' || a[i+2])) AS s
       |  FROM scrub WHERE len(a) >= 3
       |), prs AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
       |        / CAST(len(list_distinct(list_concat(a.s, b.s))) AS DOUBLE) >= 0.5
       |), edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM prs
       |  UNION ALL
       |  SELECT id_b, id_a FROM prs
       |), reach(id, r) AS (
       |  SELECT DISTINCT src, src FROM edges
       |  UNION
       |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.id = e.dst
       |), labels AS (
       |  SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id
       |), keptd AS (
       |  SELECT scrub.* FROM scrub
       |  LEFT JOIN (SELECT id FROM labels WHERE id <> cluster_id) rm ON scrub.doc_id = rm.id
       |  WHERE rm.id IS NULL
       |)$deconCtes, q AS (
       |  SELECT doc_id, $qualityExprSql AS qualite, n_jetons
       |  FROM (SELECT doc_id, texte AS text, n_jetons FROM ${curationSrcRel(decon)})
       |), w AS (
       |  SELECT doc_id, qualite, n_jetons,
       |    SUM(n_jetons) OVER (ORDER BY qualite DESC, doc_id ROWS UNBOUNDED PRECEDING) AS jc
       |  FROM q
       |), sel AS (
       |  SELECT * FROM w WHERE jc <= 10000
       |)""".stripMargin
  }

  private def curationSql(
      seed: String, decon: Boolean, seqCols: Boolean = true,
      refreshStatut: Boolean = false): String = {
    val srcRel = curationSrcRel(decon)
    // id-shard gates (p05) drop the sequence-boundary columns: those
    // live in BPE-id space, which SQL cannot re-derive (the tokenizer
    // is a trained model); the decoded fingerprint carries the
    // losslessness proof instead
    val seqColsSql = if (seqCols)
      """,
        |  (pk.cum - pk.n_jetons) // 256 AS seq_debut,
        |  (pk.cum - 1) // 256 AS seq_fin""".stripMargin
    else ""
    curationChainSql(decon) + {
      if (refreshStatut)
        // the incremental-refresh gate (p06): no rang — the engine side
        // keeps the PUBLISHED pack order for survivors and appends
        // entrants at the tail, so positions differ from a one-shot
        // permutation by design while selection + fingerprints must not
        s"""
           |SELECT sel.doc_id,
           |  CASE WHEN sel.doc_id <= (SELECT (9 * max(doc_id)) // 10 FROM documents)
           |       THEN 'conserve' ELSE 'entrant' END AS statut,
           |  md5($srcRel.texte) AS empreinte,
           |  sel.qualite, sel.n_jetons, CAST(sel.jc AS BIGINT) AS jetons_cumules
           |FROM sel JOIN $srcRel USING (doc_id)
           |ORDER BY sel.doc_id""".stripMargin
      else
        s""", rk AS (
           |  SELECT doc_id,
           |    ROW_NUMBER() OVER (ORDER BY md5('$seed:' || CAST(doc_id AS VARCHAR)), doc_id) AS rang
           |  FROM sel
           |), pk AS (
           |  SELECT rk.doc_id, rk.rang, sel.n_jetons,
           |    CAST(SUM(sel.n_jetons) OVER (ORDER BY rk.rang ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM rk JOIN sel USING (doc_id)
           |)
           |SELECT CAST(pk.rang AS BIGINT) AS rang, pk.doc_id,
           |  md5($srcRel.texte) AS empreinte,
           |  sel.qualite, sel.n_jetons, CAST(sel.jc AS BIGINT) AS jetons_cumules$seqColsSql
           |FROM pk JOIN sel USING (doc_id) JOIN $srcRel USING (doc_id)
           |ORDER BY rang""".stripMargin
    }
  }

  private val p03Sql = curationSql("p03", decon = false)
  private val p04Sql = curationSql("p04", decon = true)
  private val p05Sql = curationSql("p05", decon = true, seqCols = false)
  private val p06Sql = curationSql("p06", decon = true, seqCols = false, refreshStatut = true)

  // ---------------------------------------------------------------------
  // d11 — corpus vocabulary: top-20 bigrams by frequency (multiplicity
  // kept, lowercased), with document frequency, deterministic
  // lexicographic tiebreak. Map-side-combined hash aggregate on bigram +
  // TakeOrdered top-k — the vocabulary-building shape, no full sort at
  // any corpus size.
  // ---------------------------------------------------------------------
  private def d11(spark: SparkSession, dir: String): DataFrame = {
    // Two separate hash aggregates, NOT one agg mixing count with
    // countDistinct: the mixed form plans an Expand over every exploded
    // bigram with a (bigramme, doc_id)-wide distinct key space —
    // measured 31x/decade at the 100x stress (51 s at 28.5M bigrams).
    // The occurrence count is irreducible for an EXACT top-k by
    // frequency (map-side partial combine bounds its exchange to
    // |vocab per partition| rows); the top-20 winners are then taken
    // FIRST (TakeOrdered, eagerly materialized — 20 rows), and only
    // they flow into the doc-frequency pass: the second corpus scan's
    // exploded bigrams die map-side against the broadcast 20-gram
    // list, so the DF aggregate and the final join carry 20 keys
    // instead of |vocab| — the vocab-wide agg⋈agg join this replaces
    // was the 8.1×/decade growth driver in the 100× stress.
    val toks = Tables
      .documents(spark, dir)
      .select(col("doc_id"), Text.tokens(lower(col("text"))).as("toks"))
    val top = toks
      .select(explode(Text.ngramsAll(col("toks"), 2)).as("bigramme"))
      .groupBy(col("bigramme"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigramme"))
      .limit(20)
      .localCheckpoint(true)
    val docFreq = toks
      .select(explode(array_distinct(Text.ngramsAll(col("toks"), 2))).as("bigramme"))
      .join(broadcast(top.select("bigramme")), Seq("bigramme"))
      .groupBy(col("bigramme"))
      .agg(count(lit(1)).as("n_docs"))
    top
      .join(broadcast(docFreq), Seq("bigramme"))
  }
  private val d11Sql =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS a
      |  FROM documents WHERE length(trim(text)) > 0
      |),
      |bg AS (
      |  SELECT doc_id, unnest(list_transform(range(1, len(a)), i -> a[i] || ' ' || a[i+1])) AS bigramme
      |  FROM t WHERE len(a) >= 2
      |)
      |SELECT bigramme, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
      |FROM bg GROUP BY bigramme
      |ORDER BY n DESC, bigramme LIMIT 20""".stripMargin

  // ---------------------------------------------------------------------
  // d12 — text scrubbing (PII-style redaction): emails, dotted-quad
  // IPs, separator-delimited phone numbers, then standalone number runs
  // replaced with placeholder tokens (Text.Pii — the order is
  // load-bearing, see its doc), with per-class match counts. Counts
  // are taken against the ORIGINAL text by convention (a digit run
  // inside an email counts as a number even though the email is
  // scrubbed first) — the oracle applies the identical convention.
  // Pure map over codegen'd regexp kernels; patterns kept in the
  // Java∩RE2 common dialect so the oracle applies the identical rewrite.
  // ---------------------------------------------------------------------
  private def d12(spark: SparkSession, dir: String): DataFrame =
    Tables
      .documents(spark, dir)
      .select(
        col("doc_id"),
        md5(Text.piiScrub(col("text"))).as("empreinte_nettoyee"),
        Text.matchCount(col("text"), Text.Pii.email).as("n_emails"),
        Text.matchCount(col("text"), Text.Pii.ip).as("n_ips"),
        Text.matchCount(col("text"), Text.Pii.phone).as("n_telephones"),
        Text.matchCount(col("text"), Text.Pii.number).as("n_nombres")
      )
  private val d12Sql = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+"
    val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val phone = "(\\+[0-9]{1,3}([-.][0-9]{1,4})+|[0-9]{2,4}(-[0-9]{2,4}){2,}|[0-9]{2,4}(\\.[0-9]{2,4}){4,})"
    val num = "[0-9]+"
    s"""SELECT doc_id,
       |  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
       |      '$email', '<EMAIL>', 'g'),
       |      '$phone', '<TEL>', 'g'),
       |      '$ip', '<IP>', 'g'),
       |      '$num', '<NUM>', 'g')) AS empreinte_nettoyee,
       |  len(regexp_extract_all(text, '$email')) AS n_emails,
       |  len(regexp_extract_all(text, '$ip')) AS n_ips,
       |  len(regexp_extract_all(text, '$phone')) AS n_telephones,
       |  len(regexp_extract_all(text, '$num')) AS n_nombres
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------------
  // d13 — deterministic train/val/test assignment: a 16-bit hash slot
  // from md5(doc_id) drives an 80/10/10 split and a 10% subsample flag.
  // Seed-stable, engine-portable, pure map — the reproducible-split
  // contract a training pipeline needs (resharding, re-runs, and other
  // engines all agree on every document's split).
  // ---------------------------------------------------------------------
  private def d13(spark: SparkSession, dir: String): DataFrame = {
    val slot = conv(substring(md5(col("doc_id").cast(StringType)), 1, 4), 16, 10)
      .cast(IntegerType)
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), slot.as("slot"))
      .withColumn(
        "split",
        when(pmod(col("slot"), lit(10)) <= 7, lit("train"))
          .when(pmod(col("slot"), lit(10)) === 8, lit("val"))
          .otherwise(lit("test"))
      )
      .withColumn("echantillon_10pct", (col("slot") < 6554).cast(IntegerType))
  }
  private val d13Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS INT) AS slot
      |  FROM documents
      |)
      |SELECT doc_id, slot,
      |  CASE WHEN slot % 10 <= 7 THEN 'train' WHEN slot % 10 = 8 THEN 'val' ELSE 'test' END AS split,
      |  CAST(slot < 6554 AS INT) AS echantillon_10pct
      |FROM h
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d18 — sequence packing: documents concatenated in doc_id order and
  // cut into 1024-token training sequences; each doc annotated with the
  // sequence range holding its tokens. The two-phase distributed prefix
  // sum (Pack.sequences) must equal the oracle's single ORDER BY window.
  // ---------------------------------------------------------------------
  private def d18(spark: SparkSession, dir: String): DataFrame =
    Pack
      .sequences(Tables.documents(spark, dir), "doc_id", "text", seqTokens = 1024)
  private val d18Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t
      |),
      |r AS (
      |  SELECT doc_id, n_tokens,
      |    cum - n_tokens AS tok_debut,
      |    (cum - n_tokens) // 1024 AS seq_debut,
      |    GREATEST((cum - n_tokens) // 1024, (GREATEST(cum, 1) - 1) // 1024) AS seq_fin
      |  FROM c
      |)
      |SELECT doc_id, n_tokens, tok_debut, seq_debut, seq_fin,
      |  seq_fin - seq_debut + 1 AS n_seqs
      |FROM r
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // d20 — the packing manifest: tokens and docs per packed sequence.
  // The invariant the oracle re-derives — every sequence except the
  // last holds exactly 1024 tokens — is the no-gaps-no-overlaps proof
  // of the d18 prefix sum.
  // ---------------------------------------------------------------------
  private def d20(spark: SparkSession, dir: String): DataFrame =
    Pack
      .manifest(Tables.documents(spark, dir), "doc_id", "text", seqTokens = 1024)
  private val d20Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CAST(CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN 0
      |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT) AS n_tokens
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, n_tokens,
      |    CAST(SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t
      |),
      |r AS (
      |  SELECT doc_id, n_tokens, cum - n_tokens AS tok_debut,
      |    (cum - n_tokens) // 1024 AS seq_debut,
      |    GREATEST((cum - n_tokens) // 1024, (GREATEST(cum, 1) - 1) // 1024) AS seq_fin
      |  FROM c WHERE n_tokens > 0
      |),
      |x AS (
      |  SELECT r.doc_id, r.tok_debut, r.n_tokens, s.seq_id
      |  FROM r, LATERAL (SELECT unnest(generate_series(r.seq_debut, r.seq_fin)) AS seq_id) s
      |)
      |SELECT seq_id, COUNT(*) AS n_docs,
      |  CAST(SUM(LEAST((seq_id + 1) * 1024, tok_debut + n_tokens)
      |           - GREATEST(seq_id * 1024, tok_debut)) AS BIGINT) AS n_tokens
      |FROM x
      |GROUP BY seq_id
      |ORDER BY seq_id""".stripMargin

  // ---------------------------------------------------------------------
  // d22 — shard emission: the packing tier's last mile. Pack.writeShards
  // MATERIALIZES the packed sequences (token streams + doc-slice
  // provenance, 16 sequences = 16·1024 tokens per shard directory); the
  // query reads the emitted files back and rolls them up per shard —
  // sequence count, token totals, slice count, and an order-sensitive
  // content fingerprint (md5 over the per-sequence md5s) — all of which
  // the oracle recomputes from the raw documents table alone. A
  // hash-green d22 therefore proves the bytes ON DISK are the corpus
  // re-cut at exactly the d18 boundaries, not merely that the
  // annotation said so.
  // ---------------------------------------------------------------------
  private def d22(spark: SparkSession, dir: String): DataFrame = {
    val out = Fixture.workDir("d22", dir)
    Pack.writeShards(Tables.documents(spark, dir), "doc_id", "text",
      seqTokens = 1024, seqsPerShard = 16, outDir = out)
    val seqs = Pack.readShards(spark, out)
      .select(col("shard_id"), col("seq_id"),
        md5(array_join(col("tokens"), " ")).as("h"),
        size(col("tokens")).cast("long").as("n_tok"),
        size(col("docs")).cast("long").as("n_tranches"))
    seqs
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_seqs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_tranches")).as("n_tranches"),
        md5(array_join(
          transform(array_sort(collect_list(struct(col("seq_id"), col("h")))),
            p => p.getField("h")), ":")).as("empreinte"))
  }
  private val d22Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents
      |),
      |c AS (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
      |    CAST(SUM(CAST(len(toks) AS BIGINT))
      |         OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      |  FROM t
      |),
      |r AS (
      |  SELECT doc_id, toks, n_tokens, cum - n_tokens AS tok_debut,
      |    (cum - n_tokens) // 1024 AS seq_debut,
      |    GREATEST((cum - n_tokens) // 1024, (GREATEST(cum, 1) - 1) // 1024) AS seq_fin
      |  FROM c WHERE n_tokens > 0
      |),
      |x AS (
      |  SELECT r.doc_id, r.toks, r.tok_debut, r.n_tokens, s.seq_id
      |  FROM r, LATERAL (SELECT unnest(generate_series(r.seq_debut, r.seq_fin)) AS seq_id) s
      |),
      |sl AS (
      |  SELECT seq_id, doc_id,
      |    GREATEST(seq_id * 1024, tok_debut) AS deb,
      |    LEAST((seq_id + 1) * 1024, tok_debut + n_tokens) AS fin,
      |    toks[CAST(GREATEST(seq_id * 1024, tok_debut) - tok_debut + 1 AS BIGINT)
      |         :CAST(LEAST((seq_id + 1) * 1024, tok_debut + n_tokens) - tok_debut AS BIGINT)]
      |      AS tranche
      |  FROM x
      |),
      |q AS (
      |  SELECT seq_id,
      |    md5(string_agg(array_to_string(tranche, ' '), ' ' ORDER BY deb)) AS h,
      |    CAST(SUM(fin - deb) AS BIGINT) AS n_tok,
      |    COUNT(*) AS n_tranches
      |  FROM sl GROUP BY seq_id
      |)
      |SELECT seq_id // 16 AS shard_id, COUNT(*) AS n_seqs,
      |  CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
      |  CAST(SUM(n_tranches) AS BIGINT) AS n_tranches,
      |  md5(string_agg(h, ':' ORDER BY seq_id)) AS empreinte
      |FROM q GROUP BY 1
      |ORDER BY shard_id""".stripMargin

  // ---------------------------------------------------------------------
  // d19 — repetition quality signals (the Gopher repetition-filter
  // family): most-common-token fraction, most-common-bigram fraction,
  // duplicated-bigram fraction — one compiled in-row pass per doc
  // (graft_repetition_counts), NEVER a corpus-wide (doc, gram) shuffle.
  // The oracle recomputes all three the expensive way (exploded gram
  // counts per doc) in DuckDB.
  // ---------------------------------------------------------------------
  private def d19(spark: SparkSession, dir: String): DataFrame = {
    val c = Text.repetitionCounts(Text.tokens(col("text")))
    Tables
      .documents(spark, dir)
      .select(col("doc_id"), c.as("c"))
      .select(
        col("doc_id"),
        element_at(col("c"), 1).as("n_tokens"),
        round(element_at(col("c"), 2).cast("double") /
          greatest(element_at(col("c"), 1), lit(1L)).cast("double"), 6)
          .as("frac_token_top"),
        round(element_at(col("c"), 4).cast("double") /
          greatest(element_at(col("c"), 3), lit(1L)).cast("double"), 6)
          .as("frac_bigramme_top"),
        round(element_at(col("c"), 5).cast("double") /
          greatest(element_at(col("c"), 3), lit(1L)).cast("double"), 6)
          .as("frac_bigrammes_dupliques")
      )
  }
  private val d19Sql =
    """WITH t AS (
      |  SELECT doc_id,
      |    CASE WHEN text IS NULL OR length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
      |         ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
      |  FROM documents
      |),
      |tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
      |tc AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
      |ts AS (
      |  SELECT doc_id, MAX(c) AS top_tok, CAST(SUM(c) AS BIGINT) AS n_tok
      |  FROM tc GROUP BY doc_id
      |),
      |b AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS bg
      |  FROM t
      |),
      |bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM b GROUP BY doc_id, bg),
      |bs AS (
      |  SELECT doc_id, MAX(c) AS top_bg, CAST(SUM(c) AS BIGINT) AS n_bg,
      |    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_bg
      |  FROM bc GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  COALESCE(ts.n_tok, 0) AS n_tokens,
      |  ROUND(CAST(COALESCE(ts.top_tok, 0) AS DOUBLE)
      |        / CAST(GREATEST(COALESCE(ts.n_tok, 0), 1) AS DOUBLE), 6) AS frac_token_top,
      |  ROUND(CAST(COALESCE(bs.top_bg, 0) AS DOUBLE)
      |        / CAST(GREATEST(COALESCE(bs.n_bg, 0), 1) AS DOUBLE), 6) AS frac_bigramme_top,
      |  ROUND(CAST(COALESCE(bs.dup_bg, 0) AS DOUBLE)
      |        / CAST(GREATEST(COALESCE(bs.n_bg, 0), 1) AS DOUBLE), 6) AS frac_bigrammes_dupliques
      |FROM documents d
      |LEFT JOIN ts USING (doc_id)
      |LEFT JOIN bs USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------------
  // s04 — streaming dedup: the event stream delivered twice, deduped
  // with watermark-evicted state, then aggregated — must equal the
  // batch aggregate over the clean table (which is what the oracle
  // computes).
  // ---------------------------------------------------------------------
  private def s04(spark: SparkSession, dir: String): DataFrame =
    EventsStream
      .runToCompletion(EventsStream.dedupCounts(spark, dir), "graft_s04")
  private val s04Sql =
    """SELECT event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------------
  // s01 — Structured Streaming daily rollup run to completion against the
  // static files (memory sink) — must equal the batch aggregation, which
  // is exactly what the oracle computes.
  // ---------------------------------------------------------------------
  private def s01(spark: SparkSession, dir: String): DataFrame =
    EventsStream
      .runToCompletion(EventsStream.tumblingDaily(spark, dir), "graft_s01")
  private val s01Sql =
    """SELECT CAST(ts AS DATE) AS jour, event_type, COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val all: Seq[Q] = Seq(
    Q("d01_dedup_exact", "exact dedup, min-id winner", d01, Some(d01Sql)),
    Q("d02_token_stats", "whitespace token statistics", d02, Some(d02Sql)),
    Q("d03_quality_score", "Gopher-style quality rules", d03, Some(d03Sql)),
    Q("d04_lang_guess", "stopword/CJK language ID", d04, Some(d04Sql)),
    Q("d05_fingerprints", "md5 winnowing fingerprints + sketch", d05, Some(d05Sql)),
    Q("d06_minhash_pairs", "MinHash+LSH near-dups vs exact-Jaccard oracle", d06, Some(d06Sql)),
    Q("d07_simhash", "md5-SimHash 64-bit fingerprints", d07, Some(d07Sql)),
    Q("d08_regex_tokens", "BPE-ish regex vs whitespace token counts", d08, Some(d08Sql)),
    Q("d23_bpe_tokenize", "trained BPE subword tokenization, lossless-reconstruction gate", d23, Some(d23Sql)),
    Q("d39_bpe_shards", "BPE-id training shards: encode → pack → disk → read back → decode rebuilds every doc (d23 losslessness through the sink)", d39, Some(d39Sql), heavy = true),
    Q("d24_quality_classifier", "hashed-NB quality filter; oracle recomputes training and dot products", d24, Some(d24Sql)),
    Q("d29_lm_perplexity", "corpus bigram-LM perplexity scoring; oracle retrains the smoothed model in SQL", d29, Some(d29Sql)),
    Q("d30_span_dedup", "sliding-gram duplicated-span detection (exact substring dedup shape)", d30, Some(d30Sql)),
    Q("d31_span_scrub", "duplicated-span removal keeping the first-occurrence survivor (apply side of d30)", d31, Some(d31Sql)),
    Q("d36_repetition_scrub", "intra-document repeated-span removal, one in-row kernel (apply side of d19)", d36, Some(d36Sql)),
    Q("d37_source_drift", "per-source KL drift vs the corpus distribution over the top-K vocabulary", d37, Some(d37Sql)),
    Q("d38_percentile_rank", "global quality-percentile calibration: exact PERCENT_RANK via the two-phase pass", d38, Some(d38Sql)),
    Q("d32_span_dedup_fast", "d30's xxhash64 production fast path == the md5-gated spans", d32, Some(d30Sql)),
    Q("d33_budget_select", "token-budget curation: best-quality docs under a global token budget (two-phase prefix sum)", d33, Some(d33Sql)),
    Q("d34_best_survivors", "quality-aware near-dup survivors: each cluster keeps its best-quality member", d34, Some(d34Sql), setup = Seq(pairsSetup)),
    Q("d35_training_order", "deterministic seeded training-order shuffle with dense global ranks", d35, Some(d35Sql)),
    Q("d09_dedup_clusters", "connected-component duplicate clusters", d09, Some(d09Sql), setup = Seq(pairsSetup)),
    Q("d10_tfidf_keywords", "per-doc TF-IDF top-3 keywords", d10, Some(d10Sql)),
    Q("d11_vocab_bigrams", "corpus top-20 bigram vocabulary", d11, Some(d11Sql)),
    Q("d12_text_scrub", "PII-style redaction with match counts", d12, Some(d12Sql)),
    Q("d13_split_assign", "deterministic md5 train/val/test split", d13, Some(d13Sql)),
    Q("d14_incremental_dedup", "batch-vs-corpus incremental near-dup screen", d14, Some(d14Sql)),
    Q("d15_chunk_dedup", "chunk-level boilerplate fraction (CCNet-style)", d15, Some(d15Sql)),
    Q("d16_decontaminate", "benchmark-decontamination n-gram overlap screen", d16, Some(d16Sql)),
    Q("d28_decontaminate_bloom", "bloom-pruned decontamination == d16 (bit-array prune + exact verify)", d28, Some(d16Sql)),
    Q("d17_chunk_scrub", "duplicated-chunk removal (the apply side of d15)", d17, Some(d17Sql)),
    Q("d25_neardup_scrub", "document near-dup removal (the apply side of d06/d09)", d25, Some(d25Sql), setup = Seq(pairsSetup)),
    Q("d26_semantic_scrub", "SemDeDup-style embedding-space dedup: cosine pairs -> components -> scrub", d26, Some(d26Sql), setup = Seq(vecPairsSetup)),
    Q("d18_sequence_pack", "concat-and-chunk sequence packing (two-phase prefix sum)", d18, Some(d18Sql)),
    Q("d19_repetition_stats", "Gopher repetition fractions, one in-row pass", d19, Some(d19Sql)),
    Q("d20_pack_manifest", "per-sequence manifest (no-gaps-no-overlaps proof of d18)", d20, Some(d20Sql)),
    Q("d21_source_mix", "per-source mixing weights with deterministic fractional epochs", d21, Some(d21Sql)),
    Q("d27_stratified_sample", "exact per-source quota sample by md5 rank (two-phase top-n)", d27, Some(d27Sql)),
    Q("d22_shard_emit", "materialized packed shards read back, per-shard content fingerprints", d22, Some(d22Sql), heavy = true),
    Q("p01_pipeline_composed", "end-to-end screen→score→repetition→chunk-dedup→split pipeline", p01, Some(p01Sql), heavy = true),
    Q("p02_curated_sample", "composed curation: span screen → LM median filter → per-source quota sample", p02, Some(p02Sql), heavy = true, setup = Seq(p02Setup)),
    Q("p03_curation_pipeline", "full batch curation: repetition scrub → span scrub → near-dup scrub → quality budget select → training order → shard emit read back", p03, Some(p03Sql), heavy = true, setup = Seq(p0345Setup)),
    Q("p04_decon_pipeline", "decontaminating curation: p03 + benchmark n-gram decontamination on the rebuilt post-scrub text before budget selection", p04, Some(p04Sql), heavy = true, setup = Seq(p0345Setup)),
    Q("p05_idshard_pipeline", "trainer-ready pipeline: p04's decontaminated selection emitted as BPE-id shards (tokenizer trained on the packed set, id-budget pack, decode-through-sink fingerprint)", p05, Some(p05Sql), heavy = true, setup = Seq(p0345Setup)),
    Q("p06_incremental_refresh", "CHAINED incremental corpus refresh: gen-0 publish → maintaining batch-1 refresh → gen-1 (setup), timed batch-2 refresh against gen-1's stores — gate ≡ one-shot rebuild over corpus ∪ b1 ∪ b2 (refresh ∘ refresh ≡ one-shot), fingerprints read back through the gen-2 store", p06, Some(p06Sql), heavy = true, setup = Seq(p06Setup)),
    Q("p07_threetier_refresh", "ONE refresh, THREE tiers: the gen-1→gen-2 selection delta drives text-store read-back, frozen-model ANN append+tombstone+exhaustive serve, and interleaved media-store mask+append+finalize in a single run — one oracle gates all three against the one-shot selection", p07, Some(p07Sql), heavy = true, setup = Seq(p07Setup)),
    Q("p08_compaction_policy", "the compaction TRIGGER policy in the refresh loop: three policy-governed maintaining hops (depth watermark fires the compactGen fold mid-chain), timed fourth refresh against the policy's chain ≡ the p06 one-shot oracle — refresh ∘ fold(policy) ∘ refresh³ ≡ one-shot", p08, Some(p06Sql), heavy = true, setup = Seq(p08Setup)),
    Q("p09_composed_loop", "THE COMPOSED PRODUCTION LOOP: one maintenance window in which the text chain-depth fold (p08), the vector append-watermark compaction (e13) and the recall-drift republish gate (s13/e12) all fire policy-driven over one real selection delta — texte ≡ one-shot curation, vecteur ≡ brute over the final selection, and a politique row pins version/counter/depth/alarm as the policy contract", p09, Some(p09Sql), heavy = true, setup = Seq(p09Setup)),
    Q("s06_stream_ingest_dedup", "streaming ingestion screen == one-shot d14 (§2.9)", s06, Some(d14Sql), heavy = true, setup = Seq(s06Setup)),
    Q("s15_stream_decon", "streaming decontamination screen: arriving batches vs the published eval-gram store == one-shot d16 (§2.9)", s15, Some(d16Sql), heavy = true, setup = Seq(s15Setup)),
    Q("s16_stream_classify", "streaming classifier screen: per-batch pure-map scoring with the published hashed-NB weights == one-shot d24 (§2.9)", s16, Some(d24Sql), heavy = true, setup = Seq(s16Setup)),
    Q("s07_stream_pack", "streaming incremental packing == one-shot d18 (§2.9)", s07, Some(d18Sql), heavy = true,
      setup = Seq(s07Setup)),
    Q("s08_stream_semantic_screen", "streaming embedding-space screen vs exhaustive cross-split cosine oracle (§2.9)", s08, Some(s08Sql), heavy = true, setup = Seq(s08Setup)),
    Q("s09_stream_quality_screen", "streaming perplexity screen against the stored corpus LM (§2.9 composed with d29)", s09, Some(s09Sql), heavy = true, setup = Seq(s09Setup)),
    Q("s10_stream_curate", "composed streaming ingest: dedup screen → LM quality screen → incremental pack in one foreachBatch (§2.9, p02's streaming twin)", s10, Some(s10Sql), heavy = true, setup = Seq(s10Setup)),
    Q("s11_stream_drift", "streaming per-source KL drift monitor against the stored corpus distribution (§2.9 composed with d37)", s11, Some(s11Sql), heavy = true, setup = Seq(s11Setup)),
    Q("e01_knn_brute", "exact brute-force cosine top-k", e01, Some(e01Sql)),
    Q("e02_knn_ivf", "IVF cell-join top-k, exhaustive probe vs brute oracle", e02, Some(e01Sql)),
    Q("e04_knn_ivf_trained", "k-means-trained IVF top-k, exhaustive probe", e04, Some(e01Sql)),
    Q("e05_knn_pq", "product-quantization ADC + exact re-rank, full shortlist vs brute oracle", e05, Some(e01Sql)),
    Q("e06_knn_ivf_pq", "composed IVF-PQ: cell-pruned ADC scan + exact re-rank, exhaustive config vs brute oracle", e06, Some(e01Sql)),
    Q("e08_knn_stored_index", "IVF-PQ served from the persisted index store (no retraining), exhaustive config vs brute oracle", e08, Some(e01Sql), heavy = true, setup = Seq(e08Setup)),
    Q("e09_index_append", "incremental index maintenance: frozen-model append to the published store, served over the grown corpus vs union brute oracle", e09, Some(e09Sql), heavy = true, setup = Seq(e09Setup)),
    Q("s12_stream_ann_serve", "streaming ANN serve: query micro-batches probe the stored IVF-PQ index (§2.9)", s12, Some(e01Sql), heavy = true, setup = Seq(e08Setup)),
    Q("e10_index_republish", "index re-publish (the recall-drift alarm's action): retrain on the drifted corpus, re-encode in one map pass, atomic swap; exhaustive serve over both regimes vs the union brute oracle", e10, Some(e10Sql), heavy = true, setup = Seq(e10Setup)),
    Q("e11_index_refresh", "ANN refresh maintenance (the p06 selection delta in the vector tier): frozen-model append of entrants + tombstone of evictees from the codes store, exhaustive serve ≡ one-shot index over the refreshed selection", e11, Some(e11Sql), heavy = true, setup = Seq(e11Setup)),
    Q("e13_index_compact", "ANN store compaction, POLICY-triggered: five policy-governed appends fragment the store in setup (counter under the watermark); the timed sixth wave crosses the append-count watermark, fires the range-cluster compaction (staged + atomic swap), and the exhaustive serve ≡ brute over the refreshed selection — the policy changes WHEN the fold runs, compaction changes layout, never content", e13, Some(e11Sql), heavy = true, setup = Seq(e13Setup)),
    Q("e12_drift_republish", "the drift→republish TRANSITION as one flow: frozen-model append of drifted arrivals → production-config recall alarm (s13) → republish driven BY the alarm (e10) → post-republish production probe clears the floor → exhaustive serve ≡ brute over the union; decision chain + serve under one oracle", e12, Some(e12Sql), heavy = true, setup = Seq(e12Setup)),
    Q("s13_stream_ann_drift", "ANN recall-drift monitor: per-append frozen-model serve vs brute on a deterministic sample (gate in the exhaustive e05/e06 configuration: recall ≡ 1.0 SQL-derivable; production-config alarm pinned in StreamingSpec)", s13, Some(s13Sql), heavy = true, setup = Seq(s13Setup)),
    Q("s14_stream_idshards", "streaming BPE-id shard emission: frozen published tokenizer, slice-grain incremental pack continuing the global offset; decode of the drained log rebuilds every doc (d39 through the stream)", s14, Some(d39Sql), heavy = true, setup = Seq(s14Setup)),
    Q("e07_triplet_mine", "contrastive triplet mining: LSH positives + exhaustive-probe IVF hard negatives, batched", e07, Some(e07Sql), setup = Seq(vecPairsSetup)),
    Q("e03_embedding_neardup", "hyperplane-LSH cosine near-dups vs exhaustive oracle", e03, Some(e03Sql)),
    Q("m01_media_meta", "binary payload metadata + sha256", m01, Some(m01Sql)),
    Q("m02_media_features", "mapPartitions feature extraction", m02, Some(m02Sql)),
    Q("m03_media_resize", "REAL image resize: engine-generated quadrant PNGs through decode -> bilinear -> re-encode (JDK codec), gate samples decoded pixels per quadrant against the closed-form oracle", m03, Some(m03Sql)),
    Q("m04_frame_sample", "n-slice frame sampling over video payloads", m04, Some(m04Sql)),
    Q("m05_media_neardup", "media near-dup screen: centered byte-histogram features -> hyperplane-LSH pairs vs exhaustive-cosine oracle", m05, Some(m05Sql)),
    Q("m06_interleaved_pack", "interleaved multimodal packing: text + per-media placeholder runs through the unchanged Pack machinery; gate reassembles and reproduces text hash, run positions/widths and the media sha256 sequence", m06, Some(m06Sql)),
    Q("u01_upsert_merge", "new-wins MERGE upsert", u01, Some(u01Sql)),
    Q("u02_insert_if_absent", "ON CONFLICT DO NOTHING upsert (S8)", u02, Some(u02Sql)),
    Q("k01_salted_skew_join", "salted hot-key join == plain join", k01, Some(k01Sql)),
    Q("t01_typed_agg", "Dataset[T] groupByKey with custom Aggregators", graft.typed.Typed.caByStatus,
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS ca,
             |  COUNT(*) AS n_orders
             |FROM orders
             |GROUP BY o_orderstatus
             |ORDER BY o_orderstatus""".stripMargin)),
    Q("io02_bucketed_join", "bucketed co-partitioned shuffle-free SMJ", io02, Some(io02Sql), setup = Seq(io02Setup)),
    Q("io03_compact_roundtrip", "range-clustered small-file compaction (§2.9)", io03, Some(io03Sql)),
    Q("io05_slicelog_finalize", "slice-log finalize: closed whole shards become immutable files, the log trims to its open tail, appends resume from the recovered offset (d39 losslessness through the finalized store)", io05, Some(d39Sql), heavy = true),
    Q("io06_shard_reshard", "shard-store reshard (context-length migration): re-cut the published store at a new budget from stored offsets, no corpus re-read; every doc reassembles from the re-cut (equality with the direct pack pinned in PackSpec)", io06, Some(d39Sql), heavy = true, setup = Seq(io06Setup)),
    Q("io07_shard_tombstone", "shard-store tombstone (deletion request): mask a bounded id set's token ranges in place with a pad — offsets, boundaries and provenance frozen; oracle recomputes each doc's post-scrub fingerprint", io07, Some(io07Sql), heavy = true, setup = Seq(io06Setup)),
    Q("io08_tombstone_mass", "takedown-scale tombstone: a deletion RELATION (half the corpus) masks through the distributed join fallback — ids never collect to the driver, token arrays cross one seq-keyed exchange; same per-doc fingerprint oracle as io07", io08, Some(io08Sql), heavy = true, setup = Seq(io06Setup)),
    Q("io09_repack_policy", "shard-store REPACK POLICY (the p08/e13 doctrine in the packed-shard tier): deletion waves register logically, serves mask at read, and the dead-token-fraction watermark fires a survivors-repack staged+swapped with the registry cleared; gate = d22 boundary-exact oracle over the survivor corpus + the policy contract row", io09, Some(io09Sql), heavy = true, setup = Seq(io09Setup)),
    Q("io10_masked_serve", "MASKED SERVE under logical deletion (the io09 registry's compliance property): a below-watermark wave registers, no repack runs, and readShardsMasked over the unrewritten files rolls up boundary-exact against the one-shot pack with the registered classes padded — same offsets/provenance, every registered token padded, every survivor bit-identical, plus the no-repack politique pin", io10, Some(io10Sql), heavy = true, setup = Seq(io09Setup)),
    Q("io04_jdbc_extract", "JDBC remote-scan extract via embedded Derby (S4)", io04, Some(io04Sql)),
    Q("w01_partitioned_io", "partitioned write + pruned read", w01, Some(w01Sql)),
    Q("s01_stream_daily", "Structured Streaming daily rollup", s01, Some(s01Sql), heavy = true),
    Q("s04_stream_dedup", "watermarked streaming dedup of a doubled feed", s04, Some(s04Sql), heavy = true)
  )
}
