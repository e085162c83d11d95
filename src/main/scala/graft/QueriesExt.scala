package graft

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

import graft.functions.TextAnalysis
import graft.operators.{Dedup, Dimension, Multimodal, Quality, Similarity}

/** The training-data-pipeline extension slice of the correctness gate:
  * deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard / embedding
  * cosine), similarity search (brute-force + LSH-bucketed ANN), multimodal
  * binary columns (stubbed decode, real plumbing), and text analysis —
  * each with a DuckDB oracle that replays the exact math (md5-based hashes,
  * strict-left-fold double reductions).
  */
object QueriesExt {

  import QueriesParity.Q

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  // --------------------------------------------------------------- dedup
  private val dedupExact: Q = "x_dedup_exact" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.exact(docs(s, dir), "doc_id", md5(col("text"))),
    """SELECT md5(text) AS dup_key, min(doc_id) AS kept_id, count(*) AS dup_cnt
      |FROM documents GROUP BY md5(text)""".stripMargin))

  private def minhashOracle: String = minhashOracleWhere("")

  private def minhashOracleWhere(extraWhere: String): String =
    s"""WITH $minhashCtes
       |$minhashPairsSelect$extraWhere""".stripMargin

  /** The minhash-LSH CTE chain and pair select, exposed separately so other
    * oracles (e.g. the PageRank gate's edge list) can compose the SAME pair
    * semantics instead of re-deriving them.
    */
  private def minhashCtes: String = {
    // Same hash family as Dedup.minHashAggs: one md5 per (doc, shingle),
    // 32-bit base hash, (a_j*h+b_j) mod 2^32 per family member — constants
    // shared with the Spark side via Dedup.minHashParams.
    val mh = Dedup.minHashParams(12).zipWithIndex
      .map { case ((a, b), j) => s"min(($a*h+$b)%4294967296) AS m$j" }
      .mkString(", ")
    val bands = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, md5(m${3 * b}||'|'||m${3 * b + 1}||'|'||m${3 * b + 2}) AS bv FROM mh")
      .mkString(" UNION ALL ")
    // `ok`: band value md5-hashed and buckets df-capped at 1000 members,
    // mirroring Dedup.minHashLshPairs(maxBucket = 1000) exactly (the cap is
    // a no-op at test SF but part of the declared operator semantics).
    s"""toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
       |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
       |       FROM toks, UNNEST(range(1, len(ws)-1)) AS t(i)),
       |hs AS (SELECT doc_id, ('0x'||substr(md5(s),1,8))::BIGINT AS h FROM sh),
       |mh AS (SELECT doc_id, $mh FROM hs GROUP BY doc_id),
       |bands AS ($bands),
       |ok AS (SELECT band, bv FROM bands GROUP BY band, bv HAVING count(*) <= 1000)""".stripMargin
  }

  private def minhashPairsSelect: String =
    """SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM bands a JOIN bands b ON a.band=b.band AND a.bv=b.bv AND a.doc_id < b.doc_id
      |JOIN ok ON ok.band=a.band AND ok.bv=a.bv""".stripMargin
  private val dedupMinhash: Q = "x_dedup_minhash_lsh" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.minHashLshPairs(docs(s, dir), "doc_id", "text", n = 3, numHashes = 12, bands = 4),
    minhashOracle))

  private val dedupSimhash: Q = "x_dedup_simhash" -> ((
    (s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"), Dedup.simHash(col("text"), bits = 16).as("simhash")),
    """WITH toks AS (SELECT DISTINCT doc_id, t
      |  FROM documents, UNNEST(string_split(trim(text),' ')) AS u(t)),
      |bits AS (SELECT doc_id, b,
      |    CASE WHEN sum(CASE WHEN ((('0x'||substr(md5(t),1,4))::INT >> b) & 1)=1
      |                      THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END AS bitv
      |  FROM toks, UNNEST(range(0,16)) AS r(b) GROUP BY doc_id, b)
      |SELECT doc_id, sum(bitv * (1::BIGINT << b))::BIGINT AS simhash
      |FROM bits GROUP BY doc_id""".stripMargin))

  /** Shared by `x_dedup_ngram_jaccard` and `x_dedup_jaccard_prefix` —
    * the prefix-filtered operator is output-IDENTICAL by the AllPairs
    * completeness theorem, so both gates run this one oracle verbatim
    * (the strongest equivalence statement available, the ivfAppend
    * pattern).
    */
  private val jaccardOracle: String =
    // Stop-shingle df cap at 1000 mirrors Dedup.jaccardPairs(maxDf = 1000):
    // shingles in >1000 docs leave the shingle space entirely (intersection
    // AND union). No-op at test SF; declared operator semantics.
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
      |       FROM toks, UNNEST(range(1, len(ws)-1)) AS t(i)),
      |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 1000),
      |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_inter
      |          FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
      |SELECT id_a, id_b, n_inter::DOUBLE/(ca.n + cb.n - n_inter) AS jaccard
      |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |WHERE n_inter::DOUBLE/(ca.n + cb.n - n_inter) > 0.3""".stripMargin

  private val dedupJaccard: Q = "x_dedup_ngram_jaccard" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", n = 3, threshold = 0.3),
    jaccardOracle))

  /** AllPairs/PPJoin prefix-filtered Jaccard — [[Dedup.jaccardPairsPrefix]]:
    * rare-first canonical order, prefix-only inverted index, full verify
    * on candidates; SAME oracle as the plain inverted index.
    */
  private val dedupJaccardPrefix: Q = "x_dedup_jaccard_prefix" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.jaccardPairsPrefix(docs(s, dir), "doc_id", "text", n = 3, threshold = 0.3),
    jaccardOracle))

  // Exact all-pairs within the label block (maxBlock guard is a no-op at
  // test SF; declared operator semantics — oversized blocks raise).
  private val dedupEmbedding: Q = "x_dedup_embedding" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.embeddingNearDupPairs(emb(s, dir), "vec_id", "embedding", "label", threshold = 0.4),
    """WITH n AS (SELECT vec_id, label, embedding,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
      |       (a,b)->a+b)) nrm FROM embeddings)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding,b.embedding),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,v)->acc+v)/(a.nrm*b.nrm) AS cosine
      |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
      |WHERE list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding,b.embedding),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,v)->acc+v)/(a.nrm*b.nrm) > 0.4""".stripMargin))

  /** Winnowing fingerprint gate: character k-gram window-min fingerprints
    * (the MOSS family) + shared-fingerprint candidate pairs, both replayed
    * list-op for list-op by the oracle — rolling hashes, window minima,
    * per-doc distinct, the df cap, and the shared-count threshold.
    */
  private lazy val dedupWinnow: Q = {
    // Parameters probed on the gate corpus: its small shared vocabulary
    // makes short char-grams collide corpus-wide (k=5 flags ~all pairs).
    // At k=12/w=8 the background shared-fingerprint count is ≤ 8 (99.9th
    // pct) while true near-dups share 40+ — minShared=40 isolates them.
    val k = 12; val w = 8; val minShared = 40; val maxDf = 1000
    "x_dedup_winnow" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.winnowingPairs(docs(s, dir), "doc_id", "text", k, w, minShared, maxDf),
      s"""WITH t AS (SELECT doc_id, text,
        |  greatest(length(text) - ${k - 1}, 0) AS m FROM documents),
        |h AS (SELECT doc_id, CASE WHEN m > 0 THEN
        |    list_transform(range(1, m + 1), i ->
        |      list_reduce(list_prepend(0::BIGINT, list_transform(range(i, i + $k), j ->
        |        ascii(substr(text, j::INT, 1))::BIGINT)), (a, c) -> (a * 257 + c) % 1000000007))
        |  ELSE []::BIGINT[] END AS hs FROM t),
        |f0 AS (SELECT doc_id, CASE WHEN len(hs) >= $w THEN
        |    list_distinct(list_transform(range(1, len(hs) - ${w - 1} + 1), j ->
        |      list_aggregate(hs[j:j+${w - 1}], 'min')))
        |  ELSE list_distinct(hs) END AS fps FROM h),
        |fp AS (SELECT DISTINCT doc_id, unnest(fps) AS fp FROM f0),
        |keep AS (SELECT fp FROM fp GROUP BY fp HAVING count(*) <= $maxDf),
        |fpk AS (SELECT fp.doc_id, fp.fp FROM fp JOIN keep USING (fp))
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM fpk a JOIN fpk b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= $minShared""".stripMargin))
  }

  /** Winnowing match-SPAN gate (the MOSS report shape): for each qualified
    * pair, one row per shared fingerprint with the earliest selected char
    * offset in both documents. The oracle replays the whole chain step for
    * step — rolling hashes, window minima WITH leftmost-min positions
    * (`list_position`), per-(doc,fp) first occurrence, the df window, the
    * pair expansion, and the windowed shared-count gate.
    */
  private lazy val dedupWinnowSpans: Q = {
    val k = 12; val w = 8; val minShared = 40; val maxDf = 1000
    "x_dedup_winnow_spans" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.winnowingMatchSpans(docs(s, dir), "doc_id", "text", k, w, minShared, maxDf),
      s"""WITH t AS (SELECT doc_id, text,
        |  greatest(length(text) - ${k - 1}, 0) AS m FROM documents),
        |h AS (SELECT doc_id, CASE WHEN m > 0 THEN
        |    list_transform(range(1, m + 1), i ->
        |      list_reduce(list_prepend(0::BIGINT, list_transform(range(i, i + $k), j ->
        |        ascii(substr(text, j::INT, 1))::BIGINT)), (a, c) -> (a * 257 + c) % 1000000007))
        |  ELSE []::BIGINT[] END AS hs FROM t),
        |sel0 AS (SELECT doc_id, CASE WHEN len(hs) >= $w THEN
        |    list_transform(range(1, len(hs) - ${w - 1} + 1), j ->
        |      struct_pack(fp := list_aggregate(hs[j:j+${w - 1}], 'min'),
        |        pos := j - 1 + list_position(hs[j:j+${w - 1}],
        |                 list_aggregate(hs[j:j+${w - 1}], 'min'))))
        |  ELSE list_transform(range(1, len(hs) + 1), i ->
        |    struct_pack(fp := hs[i], pos := i)) END AS sel FROM h),
        |-- duplicate (fp,pos) selections are harmless: the min(pos) group
        |-- below absorbs them (DuckDB cannot list_distinct a struct list)
        |selx AS (SELECT doc_id, unnest(sel) AS s FROM sel0),
        |first AS (SELECT doc_id, s.fp AS fp, min(s.pos) AS pos
        |  FROM selx GROUP BY 1, 2),
        |keep AS (SELECT fp FROM first GROUP BY fp
        |  HAVING count(*) >= 2 AND count(*) <= $maxDf),
        |fk AS (SELECT f.doc_id, f.fp, f.pos FROM first f JOIN keep USING (fp)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.fp,
        |    a.pos AS start_a, b.pos AS start_b
        |  FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, fp, start_a, start_b,
        |  count(*) OVER (PARTITION BY id_a, id_b) AS n_shared
        |FROM p QUALIFY n_shared >= $minShared""".stripMargin))
  }

  /** Banded (subquadratic) embedding near-dup: sign-band LSH candidates +
    * exact cosine verify. The oracle replays the ENTIRE algorithm — band
    * buckets from raw sign bits, the (1, maxBucket] membership window, the
    * distinct candidate pairs, the exact verify — so the gate hashes the
    * declared candidate semantics, not a recall approximation of the exact
    * gate above (which stays green on its own all-pairs oracle).
    */
  private val dedupEmbeddingLsh: Q = {
    val bands = 16; val rows = 4
    val bandSelects = (0 until bands).map { b =>
      val bucket = (0 until rows)
        .map(r => s"CASE WHEN embedding[${b * rows + r + 1}] > 0 THEN ${1L << r} ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, label, $b AS band, ($bucket)::BIGINT AS bucket FROM n"
    }.mkString(" UNION ALL ")
    "x_dedup_embedding_lsh" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.embeddingNearDupPairsBanded(emb(s, dir), "vec_id", "embedding", "label",
          threshold = 0.4, dims = 64, bands = bands),
      s"""WITH n AS (SELECT vec_id, label, embedding,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
         |       (a,b)->a+b)) nrm FROM embeddings),
         |banded AS ($bandSelects),
         |q AS (SELECT label, band, bucket FROM banded
         |      GROUP BY 1,2,3 HAVING count(*) > 1 AND count(*) <= 1000),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.label=b.label AND a.band=b.band AND a.bucket=b.bucket AND a.vec_id < b.vec_id
         |  JOIN q ON q.label=a.label AND q.band=a.band AND q.bucket=a.bucket)
         |SELECT id_a, id_b, ${pairCosSql("na", "nb")} AS cosine
         |FROM cand JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
         |WHERE ${pairCosSql("na", "nb")} > 0.4""".stripMargin))
  }

  /** LSH RECALL evaluation gate — the accuracy-contract pattern the sketch
    * gates use, applied to candidate generation: exact all-pairs truth and
    * banded-LSH candidates computed independently, full-outer-joined on the
    * pair key, and the three counts (truth, candidates, intersection) gated
    * as one scalar row. A banding change that silently loses true pairs
    * (band/bit sizing is THE scale lever, and mis-sizing is the documented
    * failure mode) flips `n_common` and hash-mismatches — the recall claim
    * lives in the board, not only in BASELINE prose.
    */
  private val dedupLshRecall: Q = {
    val bands = 16; val rows = 4
    val bandSelects = (0 until bands).map { b =>
      val bucket = (0 until rows)
        .map(r => s"CASE WHEN embedding[${b * rows + r + 1}] > 0 THEN ${1L << r} ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, label, $b AS band, ($bucket)::BIGINT AS bucket FROM n"
    }.mkString(" UNION ALL ")
    "x_dedup_lsh_recall" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val exact = Dedup.embeddingNearDupPairs(e, "vec_id", "embedding", "label",
          threshold = 0.4).select("id_a", "id_b")
        val banded = Dedup.embeddingNearDupPairsBanded(e, "vec_id", "embedding", "label",
          threshold = 0.4, dims = 64, bands = bands).select("id_a", "id_b")
        exact.withColumn("_e", lit(1L))
          .join(banded.withColumn("_b", lit(1L)), Seq("id_a", "id_b"), "full_outer")
          .agg(
            coalesce(sum("_e"), lit(0L)).as("n_exact"),
            coalesce(sum("_b"), lit(0L)).as("n_banded"),
            coalesce(sum(when(col("_e").isNotNull && col("_b").isNotNull, 1L)), lit(0L))
              .as("n_common"))
      },
      s"""WITH n AS (SELECT vec_id, label, embedding,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
         |       (a,b)->a+b)) nrm FROM embeddings),
         |exact AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${pairCosSql("a", "b")} > 0.4),
         |banded AS ($bandSelects),
         |q AS (SELECT label, band, bucket FROM banded
         |      GROUP BY 1,2,3 HAVING count(*) > 1 AND count(*) <= 1000),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.label=b.label AND a.band=b.band AND a.bucket=b.bucket AND a.vec_id < b.vec_id
         |  JOIN q ON q.label=a.label AND q.band=a.band AND q.bucket=a.bucket),
         |blsh AS (SELECT id_a, id_b
         |  FROM cand JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
         |  WHERE ${pairCosSql("na", "nb")} > 0.4)
         |SELECT (SELECT count(*) FROM exact) AS n_exact,
         |  (SELECT count(*) FROM blsh) AS n_banded,
         |  (SELECT count(*) FROM exact JOIN blsh USING (id_a, id_b)) AS n_common""".stripMargin))
  }

  // --------------------------------------------------------------- ANN
  private val annOracleCte =
    """WITH n AS (SELECT vec_id, embedding,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
      |       (a,b)->a+b)) nrm FROM embeddings),
      |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  list_reduce(list_prepend(0.0, list_transform(list_zip(q.embedding,c.embedding),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,v)->acc+v)/(q.nrm*c.nrm) AS cosine
      |  FROM n q JOIN n c ON q.vec_id <> c.vec_id WHERE q.vec_id < 20)
      |SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored) WHERE rank <= 10""".stripMargin
  /** Hard-negative mining gate: per anchor, top-10 most-similar corpus
    * vectors UNDER the near-dup ceiling (0.4 — the same threshold the
    * dedup gates treat as duplicate). The oracle replays score + ceiling +
    * rank exactly; a mined "negative" that is actually a near-dup (ceiling
    * off by one row) hash-mismatches.
    */
  private val mineHardNegatives: Q = "x_mine_hard_negatives" -> ((
    (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      Similarity.mineHardNegatives(e.where(col("vec_id") < 20), e, "vec_id", "embedding",
        k = 10, dupCeiling = 0.4)
    },
    """WITH n AS (SELECT vec_id, embedding,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
      |       (a,b)->a+b)) nrm FROM embeddings),
      |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  list_reduce(list_prepend(0.0, list_transform(list_zip(q.embedding,c.embedding),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,v)->acc+v)/(q.nrm*c.nrm) AS cosine
      |  FROM n q JOIN n c ON q.vec_id <> c.vec_id WHERE q.vec_id < 20)
      |SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored WHERE cosine < 0.4) WHERE rank <= 10""".stripMargin))

  private val annBruteforce: Q = "x_ann_bruteforce" -> ((
    (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      Similarity.topK(e.where(col("vec_id") < 20), e, "vec_id", "embedding", k = 10)
    },
    annOracleCte))

  private val annLshOracle = {
    val bucket = (0 until 8)
      .map(i => s"CASE WHEN embedding[${i + 1}] > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH n AS (SELECT vec_id, embedding, ($bucket)::BIGINT AS bucket,
       |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
       |       (a,b)->a+b)) nrm FROM embeddings),
       |scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  list_reduce(list_prepend(0.0, list_transform(list_zip(q.embedding,c.embedding),
       |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,v)->acc+v)/(q.nrm*c.nrm) AS cosine
       |  FROM n q JOIN n c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id WHERE q.vec_id < 100)
       |SELECT query_id, neighbor_id, rank, cosine FROM (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
       |  FROM scored) WHERE rank <= 5""".stripMargin
  }
  private val annLsh: Q = "x_ann_lsh" -> ((
    (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      Similarity.topKBucketed(e.where(col("vec_id") < 100), e, "vec_id", "embedding", k = 5, nBits = 8)
    },
    annLshOracle))

  // --------------------------------------------------------------- text
  private val textLangid: Q = "x_text_langid" -> ((
    (s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"), col("lang").as("labeled_lang"),
        TextAnalysis.langId(col("text")).as("lang_id")),
    {
      val hits = TextAnalysis.markers.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(",")
        s"len(list_filter(string_split(trim(lower(text)),' '), t -> t IN ($inList))) AS h_$lang"
      }.mkString(",\n  ")
      val best = TextAnalysis.markers.map { case (l, _) => s"h_$l" }.mkString("greatest(", ",", ")")
      val cases = TextAnalysis.markers.map { case (l, _) =>
        s"WHEN h_$l = best AND best > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH h AS (SELECT doc_id, lang AS labeled_lang,
         |  $hits
         |FROM documents),
         |b AS (SELECT *, $best AS best FROM h)
         |SELECT doc_id, labeled_lang, CASE $cases ELSE 'und' END AS lang_id FROM b""".stripMargin
    }))

  private val textQuality: Q = "x_text_quality" -> ((
    (s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.nChars(col("text")).as("n_chars_m"),
        TextAnalysis.nTokens(col("text")).as("n_tokens"),
        TextAnalysis.punctRatio(col("text")).as("punct_ratio"),
        TextAnalysis.stopwordRatio(col("text")).as("stopword_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality")),
    {
      val en = TextAnalysis.markers.head._2.map(w => s"'$w'").mkString(",")
      s"""SELECT doc_id,
         |  length(text) AS n_chars_m,
         |  len(string_split(trim(text), ' ')) AS n_tokens,
         |  len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE / greatest(length(text),1)::DOUBLE AS punct_ratio,
         |  len(list_filter(string_split(trim(lower(text)),' '), t -> t IN ($en)))::DOUBLE
         |    / greatest(len(string_split(trim(lower(text)),' ')),1)::DOUBLE AS stopword_ratio,
         |  round(
         |    least(length(text)::DOUBLE / 500.0, 1.0) * 0.5
         |    + (len(list_filter(string_split(trim(lower(text)),' '), t -> t IN ($en)))::DOUBLE
         |       / greatest(len(string_split(trim(lower(text)),' ')),1)::DOUBLE) * 0.4
         |    + (1.0 - least(len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
         |                   / greatest(length(text),1)::DOUBLE * 10.0, 1.0)) * 0.1, 6) AS quality
         |FROM documents""".stripMargin
    }))

  private val textTokens: Q = "x_text_tokens" -> ((
    (s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.nTokens(col("text")).as("n_ws_tokens"),
        TextAnalysis.bpeishCount(col("text")).as("n_bpeish"),
        TextAnalysis.meanTokenLen(col("text")).as("mean_token_len")),
    """SELECT doc_id,
      |  len(string_split(trim(text), ' ')) AS n_ws_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS n_bpeish,
      |  list_reduce(list_prepend(0::BIGINT, list_transform(string_split(trim(text),' '),
      |      t -> length(t)::BIGINT)), (a,b)->a+b)::DOUBLE
      |    / greatest(len(string_split(trim(text),' ')),1)::DOUBLE AS mean_token_len
      |FROM documents""".stripMargin))

  private val textFingerprint: Q = "x_text_fingerprint" -> ((
    (s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.rollingFingerprint(col("text")).as("fingerprint")),
    """SELECT doc_id,
      |  list_reduce(list_prepend(0::BIGINT,
      |    list_transform(range(1, length(text)+1), i -> ascii(substr(text, i, 1))::BIGINT)),
      |    (acc,c) -> (acc*31 + c) % 1000000007) AS fingerprint
      |FROM documents""".stripMargin))

  // --------------------------------------------------------------- multimodal
  private val mmMetaOracle =
    """SELECT doc_id,
      |  octet_length(text::BLOB) AS n_bytes,
      |  sha256(text) AS content_sha,
      |  64 + ('0x'||substr(md5(text),1,2))::INT % 192 * 4 AS width,
      |  64 + ('0x'||substr(md5(text),3,2))::INT % 192 * 4 AS height,
      |  (['jpeg','png','webp'])[('0x'||substr(md5(text),5,2))::INT % 3 + 1] AS format
      |FROM documents""".stripMargin

  private val mmMeta: Q = "x_multimodal_meta" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      d.select(Multimodal.metaColumns(col("doc_id"), col("text").cast("binary")): _*)
    },
    mmMetaOracle))

  /** REAL image decode round-trip: every doc gets a deterministic grayscale
    * PNG (dims a pure function of doc_id) encoded through the real ImageIO
    * PNG writer, then [[Multimodal.decodeImages]] must recover width/height/
    * format by actually parsing the PNG header. The oracle knows only the
    * dimension FORMULA, never the bytes — a decode that guesses, echoes
    * input metadata, or misparses IHDR hash-mismatches.
    */
  private val mmDecode: Q = "x_multimodal_decode" -> ((
    (s: SparkSession, dir: String) =>
      // Every 11th blob is NOT an image (crawl corpora are full of
      // mislabeled bytes): the degrade-don't-fail contract must show up in
      // the gate output, not only in the spec — otherwise `decoded` is a
      // constant column and the gate can't catch a decoder that never says
      // no.
      // Mixed real formats: odd ids are true JPEGs (SOF marker-scan path),
      // even ids true PNGs (ImageIO IHDR path) — both header layouts
      // exercised end-to-end in one gate.
      Multimodal.decodeImages(
          Multimodal.syntheticImages(docs(s, dir), "doc_id")
            .withColumn("blob",
              when(col("doc_id") % 11 === 0, lit("not an image").cast("binary"))
                .otherwise(col("blob"))),
          "doc_id", "blob")
        .select("doc_id", "width", "height", "format", "decoded"),
    """SELECT doc_id,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (1 + doc_id % 37)::INT END AS width,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (1 + doc_id % 23)::INT END AS height,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL
      |       WHEN doc_id % 2 <> 0 THEN 'jpeg' ELSE 'png' END AS format,
      |  doc_id % 11 <> 0 AS decoded
      |FROM documents""".stripMargin))

  /** REAL audio-metadata gate: deterministic RIFF/WAVE fixtures (real byte
    * stream through the fixture encoder) parsed back by the raw chunk walk,
    * with the same every-11th corrupt channel as the image gate — the
    * degrade-don't-fail contract must show in the output. The oracle knows
    * only the fixture's field FORMULAS, never the bytes.
    */
  private val mmAudio: Q = "x_multimodal_audio" -> ((
    (s: SparkSession, dir: String) =>
      Multimodal.decodeAudio(
          Multimodal.syntheticWavs(docs(s, dir), "doc_id")
            .withColumn("blob",
              when(col("doc_id") % 11 === 0, lit("not audio").cast("binary"))
                .otherwise(col("blob"))),
          "doc_id", "blob")
        .select("doc_id", "sample_rate", "channels", "bits", "n_samples", "decoded"),
    """SELECT doc_id,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (8000 * (1 + doc_id % 5))::INT END AS sample_rate,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (1 + doc_id % 2)::INT END AS channels,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (8 * (1 + (doc_id // 2) % 2))::INT END AS bits,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (1 + doc_id % 400)::BIGINT END AS n_samples,
      |  doc_id % 11 <> 0 AS decoded
      |FROM documents""".stripMargin))

  /** Audio CONTENT-fingerprint gate ([[Multimodal.audioFingerprints]],
    * round 15 — closes the multimodal near-dup symmetry: images had
    * perceptual hashing, audio had metadata only): REAL PCM decode of the
    * WAV fixtures → integer 16-segment × 4-lag energy map → 64 sign bits,
    * every-11th corrupt channel. The oracle replays ALL the integer math
    * from the fixture's sample FORMULA (`data[i] = (doc_id + 31·i) % 256`)
    * — mono mix, segment grid, lag energies, the ×64 total test, the bit
    * packing — so a single mis-read sample or bit-order slip
    * hash-mismatches. Banded near-dup pairing over these fingerprints is
    * [[Multimodal.audioNearDupPairs]], pinned in DedupSimilaritySpec.
    */
  private val mmAudioFp: Q = "x_multimodal_audio_fp" -> ((
    (s: SparkSession, dir: String) =>
      Multimodal.audioFingerprints(
        Multimodal.syntheticWavs(docs(s, dir), "doc_id")
          .withColumn("blob",
            when(col("doc_id") % 11 === 0, lit("not audio").cast("binary"))
              .otherwise(col("blob"))),
        "doc_id", "blob"),
    """WITH p AS (SELECT doc_id,
      |    (1 + doc_id % 2)::BIGINT AS ch,
      |    (8 * (1 + (doc_id // 2) % 2))::BIGINT AS bits,
      |    (1 + doc_id % 400)::BIGINT AS ns
      |  FROM documents),
      |m AS (SELECT doc_id, ns, f,
      |    sum(CASE WHEN bits = 8
      |      THEN ((doc_id + 31*(f*ch + c)) % 256) - 128
      |      ELSE CASE WHEN ((doc_id + 31*(2*(f*ch + c))) % 256)
      |                  + 256*((doc_id + 31*(2*(f*ch + c) + 1)) % 256) >= 32768
      |        THEN ((doc_id + 31*(2*(f*ch + c))) % 256)
      |             + 256*((doc_id + 31*(2*(f*ch + c) + 1)) % 256) - 65536
      |        ELSE ((doc_id + 31*(2*(f*ch + c))) % 256)
      |             + 256*((doc_id + 31*(2*(f*ch + c) + 1)) % 256) END
      |      END) AS m
      |  FROM p, UNNEST(range(ns)) t(f), UNNEST(range(ch)) u(c)
      |  GROUP BY doc_id, ns, f),
      |e AS (SELECT a.doc_id, ((a.f * 16) // a.ns) AS t, l.b AS b,
      |    sum(abs(b2.m - a.m)) AS en
      |  FROM m a
      |  JOIN (VALUES (0, 1), (1, 2), (2, 4), (3, 8)) l(b, lag) ON true
      |  JOIN m b2 ON b2.doc_id = a.doc_id AND b2.f = a.f + l.lag
      |  WHERE ((a.f * 16) // a.ns) = (((a.f + l.lag) * 16) // a.ns)
      |  GROUP BY 1, 2, 3),
      |tot AS (SELECT doc_id, sum(en) AS tot FROM e GROUP BY doc_id),
      |fp AS (SELECT e.doc_id,
      |    sum(CASE WHEN en*64 > tot AND (t*4 + b) < 32
      |        THEN (1::BIGINT << (t*4 + b)::INT) ELSE 0 END)::BIGINT AS fp_lo,
      |    sum(CASE WHEN en*64 > tot AND (t*4 + b) >= 32
      |        THEN (1::BIGINT << ((t*4 + b) - 32)::INT) ELSE 0 END)::BIGINT AS fp_hi
      |  FROM e JOIN tot USING (doc_id) GROUP BY e.doc_id)
      |SELECT p.doc_id,
      |  CASE WHEN p.doc_id % 11 = 0 THEN NULL ELSE coalesce(fp.fp_lo, 0) END AS fp_lo,
      |  CASE WHEN p.doc_id % 11 = 0 THEN NULL ELSE coalesce(fp.fp_hi, 0) END AS fp_hi,
      |  CASE WHEN p.doc_id % 11 = 0 THEN NULL ELSE p.ns END AS n_samples,
      |  p.doc_id % 11 <> 0 AS decoded
      |FROM p LEFT JOIN fp USING (doc_id)""".stripMargin))

  private val mmFrames: Q = "x_multimodal_frames" -> ((
    (s: SparkSession, dir: String) =>
      Multimodal.sampleFrames(docs(s, dir).withColumn("blob", col("text").cast("binary")),
        "doc_id", "blob", frameBytes = 32, step = 4),
    """SELECT doc_id, n_frames, frame_idx::INT AS frame_idx FROM (
      |  SELECT doc_id, (octet_length(text::BLOB) // 32)::INT AS n_frames FROM documents),
      |  UNNEST(range(0, n_frames, 4)) AS t(frame_idx)
      |WHERE n_frames >= 1""".stripMargin))

  // ----------------------------------------------- event-time windows (ST6+)
  private val eventWindows: Q = "x_event_windows" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
      val ts = graft.functions.Conversions.nanosToTimestamp(col("ts"))
      ev.groupBy(window(ts, "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
        .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n"), col("sum_value"))
    },
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin))

  /** ST6 extension, STREAMING correctness gate: the same tumbling-window
    * aggregation as [[eventWindows]] run through an actual Structured
    * Streaming query — file-stream source, event-time watermark, append-mode
    * windowed agg, AvailableNow run-to-completion, parquet sink — gated
    * against the batch oracle.
    *
    * Determinism notes (why this matches the batch SQL exactly):
    *  - all real events land in ONE micro-batch (no maxFilesPerTrigger), so
    *    the previous-batch watermark of 0 filters nothing — no late-drop
    *    divergence from batch semantics regardless of file order;
    *  - a single sentinel row 2h past max(ts) advances the watermark beyond
    *    every real window end, so the no-data flush batch finalizes and
    *    emits them all; the sentinel's own window stays open and is
    *    excluded by its marker event_type.
    */
  private val stWindowedCounts: Q = "st_windowed_counts" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      import s.implicits._
      val ev = sources.EventsTable.load(s, dir)
        .select(graft.functions.Conversions.nanosToTimestamp(col("ts")).as("ts"),
          col("event_type"), col("value"))
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      val sentinel = Seq((new java.sql.Timestamp(maxTs.getTime + 2 * 3600 * 1000L), "___wm", 0.0))
        .toDF("ts", "event_type", "value")
      streamedGate(s, "stwin", ev, Some(sentinel))(
        plan = mk => mk().withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("event_type"), col("n"), col("sum_value")),
        post = _.where(col("event_type") =!= "___wm"))
    },
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events GROUP BY 1, 2""".stripMargin))

  /** Custom keyed STATE correctness gate: `flatMapGroupsWithState`
    * sessionization (watermark-timed, order-insensitive merge) against the
    * batch lag-window sessionizer in DuckDB. Round 14 upgrades the fixture
    * from the ordered single-batch shape to the FIVE-batch late-data
    * layout of [[stLateData]] ([[stageLateTopic]]): held-back old rows
    * (`event_id % 7 == 3` before the recent band) arrive in batch b2 with
    * event times at or below the aged filter watermark → DROPPED by
    * `FlatMapGroupsWithStateExec`'s event-time-timeout late filter before
    * the state function ever sees them; held-back recent rows
    * (`event_id % 3 == 1` inside the 4 h band) arrive in b2 within the
    * watermark → must MERGE into their users' still-open session state
    * across the batch boundary (the straggler path of
    * [[graft.streaming.Sessionize.updateState]]). The 4 h band < 6 h gap
    * guarantees no recent session times out before its late rows land.
    * The oracle replays the sessionizer over exactly the KEPT subset —
    * dropped rows can shrink counts AND split sessions whose bridge they
    * were; `StreamingLateDataSpec` asserts both late classes are non-empty
    * and that the drops change the answer. `sum_value` is deliberately NOT
    * gated (float accumulation order differs between a state fold and a
    * group agg; extent and counts are order-exact).
    */
  private lazy val stSessionize: Q = "st_sessionize" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      import s.implicits._
      val gapMs = 21600000L // 6h, as the batch q_sessionize gate
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_id"),
          graft.functions.Conversions.nanosToTimestamp(col("ts")).as("ts"),
          col("value"))
      val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (mnUs, mxUs) = (mm.getLong(0), mm.getLong(1))
      val cutUs = mnUs + (mxUs - mnUs) * 6 / 10
      val recentUs = cutUs - 14400000000L // 4 h "recent" band start
      val lab = ev.withColumn("_us", unix_micros(col("ts")))
        .withColumn("_late",
          (col("_us") < recentUs && col("event_id") % 7 === 3) ||
          (col("_us") >= recentUs && col("_us") < cutUs && col("event_id") % 3 === 1))
      val outCols = Seq(col("user_id"), col("ts"), col("value"))
      val topicSchema = ev.select(outCols: _*).schema
      scratchTree("stsess") { tmp =>
        stageLateTopic(lab, outCols, recentUs, cutUs,
          Seq((-1L, new java.sql.Timestamp(mxUs / 1000L + gapMs + 2 * 3600 * 1000L), 0.0))
            .toDF("user_id", "ts", "value"), tmp)
        val src = s.readStream.schema(topicSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
        runToEnd(tmp)(graft.streaming.Sessionize
          .sessions(s, src, gapMs = gapMs, watermarkDelay = "10 minutes").toDF()
          .select(col("userId").as("user_id"), col("startMs").as("start_ms"),
            col("endMs").as("end_ms"), col("nEvents").as("n_events"))
          .writeStream.outputMode("append")
          .format("parquet").option("path", s"$tmp/out"))
        s.read.parquet(s"$tmp/out").where(col("user_id") >= 0)
      }
    },
    """WITH b AS (SELECT epoch_us(min(ts)) mn, epoch_us(max(ts)) mx FROM events),
      |cut AS (SELECT mn + (mx - mn) * 6 // 10 AS cutus,
      |               mn + (mx - mn) * 6 // 10 - 14400000000 AS recentus FROM b),
      |lab AS (SELECT user_id, ts, epoch_us(ts) us,
      |    ((epoch_us(ts) < (SELECT recentus FROM cut) AND event_id % 7 = 3)
      |     OR (epoch_us(ts) >= (SELECT recentus FROM cut)
      |         AND epoch_us(ts) < (SELECT cutus FROM cut)
      |         AND event_id % 3 = 1)) AS late
      |  FROM events),
      |wm AS (SELECT max(us) - 600000000 AS wm1 FROM lab
      |  WHERE us < (SELECT recentus FROM cut) AND NOT late),
      |keep AS (SELECT user_id, epoch_ms(ts) t FROM lab
      |  WHERE NOT late OR us > (SELECT wm1 FROM wm)),
      |m AS (SELECT user_id, t,
      |  CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 21600000
      |       THEN 1 ELSE 0 END AS brk FROM keep),
      |s AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      |SELECT user_id, min(t) AS start_ms, max(t) AS end_ms, count(*) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin))

  // --------------------------------------------------------------- IVF ANN
  private val annIvfOracle =
    """WITH n AS (SELECT vec_id, embedding,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
      |       (a,b)->a+b)) nrm FROM embeddings),
      |cent AS (SELECT vec_id AS cid, embedding AS cemb, nrm AS cnrm FROM n WHERE vec_id < 16),
      |cellscore AS (SELECT n.vec_id, n.embedding, n.nrm, cent.cid,
      |  list_reduce(list_prepend(0.0, list_transform(list_zip(n.embedding, cemb),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (a,b)->a+b)/(n.nrm*cnrm) AS c_cos
      |  FROM n, cent),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cid) AS crank
      |  FROM cellscore),
      |cells AS (SELECT vec_id AS neighbor_id, embedding AS n_emb, nrm AS n_nrm, cid
      |  FROM ranked WHERE crank = 1),
      |probes AS (SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm, cid
      |  FROM ranked WHERE crank <= 2 AND vec_id >= 100 AND vec_id < 120),
      |scored AS (SELECT query_id, neighbor_id,
      |  list_reduce(list_prepend(0.0, list_transform(list_zip(q_emb, n_emb),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (a,b)->a+b)/(q_nrm*n_nrm) AS cosine
      |  FROM cells JOIN probes USING (cid) WHERE query_id <> neighbor_id)
      |SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM scored) WHERE rank <= 5""".stripMargin
  /** The IVF WRITE-TIME layout path: cell assignment persisted once with
    * `partitionBy(cid)`, probes run against the read-back table — same
    * results as the in-plan x_ann_ivf (same oracle), but the corpus scan is
    * partition-prunable (the 100 TB shape; pruning itself is asserted in
    * ParquetLayoutSpec).
    */
  private val annIvfLayout: Q = "x_ann_ivf_layout" -> ((
    (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      scratchTree("ivf") { tmp =>
        Similarity.assignCells(e, e.where(col("vec_id") < 16), "vec_id", "embedding")
          .write.partitionBy("cid").parquet(s"$tmp/ivf")
        Similarity.topKIvfPrebuilt(
          queries = e.where(col("vec_id") >= 100 && col("vec_id") < 120),
          assigned = s.read.parquet(s"$tmp/ivf"),
          centroids = e.where(col("vec_id") < 16),
          "vec_id", "embedding", k = 5, nProbe = 2)
      }
    },
    annIvfOracle))

  private val annIvf: Q = "x_ann_ivf" -> ((
    (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      Similarity.topKIvf(
        queries = e.where(col("vec_id") >= 100 && col("vec_id") < 120),
        corpus = e,
        centroids = e.where(col("vec_id") < 16),
        "vec_id", "embedding", k = 5, nProbe = 2)
    },
    annIvfOracle))

  /** Quantizer TRAINING gate: 3 fixed Lloyd iterations of spherical k-means
    * (content-hash seeding, argmax assignment, normalized-mean update), gated
    * on the final cluster memberships + a rounded centroid coordinate. The
    * oracle replays the fixed unrolling as per-iteration CTEs — feasible
    * exactly because the operator is deterministic by construction (no RNG,
    * no convergence test).
    */
  private val annKmeans: Q = {
    val k = 4
    val iters = 3
    // assignment CTEs for i in 0..iters (the last one is the final membership
    // count); update CTEs (x/m/cents) for i in 0..iters-1
    val assigns = (0 to iters).map { i =>
      s"""a$i AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.vec")} / (e.nrm * c.cnrm) AS cs
         |  FROM emb e, cents$i c),
         |r$i AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) rn FROM a$i) WHERE rn = 1)""".stripMargin
    }
    val updates = (0 until iters).map { i =>
      s"""x$i AS (SELECT r.cid, u.i, e.embedding[u.i]::DOUBLE AS x
         |  FROM r$i r JOIN emb e USING (vec_id), UNNEST(range(1, len(e.embedding)+1)) u(i)),
         |m$i AS (SELECT cid, list(m ORDER BY i) AS vec FROM
         |  (SELECT cid, i, sum(x)/count(*) AS m FROM x$i GROUP BY cid, i) GROUP BY cid),
         |cents${i + 1} AS (SELECT cid, vec, ${nrmSql("vec")} AS cnrm FROM
         |  (SELECT cid, list_transform(vec, x -> x / n) AS vec FROM
         |    (SELECT cid, vec, ${nrmSql("vec")} AS n FROM m$i)))""".stripMargin
    }
    // interleave so every CTE is defined before use: a0,r0,x0,m0,cents1,a1,...
    val body = (0 until iters).map(i => s"${assigns(i)},\n${updates(i)}").mkString(",\n") +
      s",\n${assigns(iters)}"
    val sql =
      s"""WITH emb AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm FROM embeddings),
         |cents0 AS (SELECT vec_id AS cid, embedding AS vec, ${nrmSql("embedding")} AS cnrm
         |  FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $k),
         |$body
         |SELECT cid, cnt.n_members, round(c.vec[1], 4) AS c1
         |FROM (SELECT cid, count(*)::BIGINT AS n_members FROM r$iters GROUP BY cid) cnt
         |JOIN cents$iters c USING (cid)""".stripMargin
    "x_ann_kmeans" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val cents = Similarity.trainCentroids(e, "vec_id", "embedding", k = k, iters = iters)
        val assigned = Similarity.assignCells(e, cents, "vec_id", "embedding")
        assigned.groupBy("cid").agg(count(lit(1)).as("n_members"))
          .join(cents.select(col("vec_id").as("cid"),
            round(element_at(col("embedding"), 1), 4).as("c1")), "cid")
      },
      sql))
  }

  // ------------------------------------------------------ embedding utilities
  private val embNormalize: Q = "x_emb_normalize" -> ((
    (s: SparkSession, dir: String) => {
      val normed = Similarity.normalize(col("embedding"))
      emb(s, dir).select(col("vec_id"),
        element_at(normed, 1).as("e_first"),
        element_at(normed, 64).as("e_last"),
        Similarity.norm(normed).as("unit_norm"))
    },
    """WITH n AS (SELECT vec_id,
      |  list_transform(embedding, x -> x::DOUBLE /
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, y -> y::DOUBLE*y::DOUBLE)),
      |         (a,b)->a+b))) AS ne
      |FROM embeddings)
      |SELECT vec_id, ne[1] AS e_first, ne[64] AS e_last,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(ne, x -> x*x)), (a,b)->a+b)) AS unit_norm
      |FROM n""".stripMargin))

  // ------------------------------------------------------- skew-safe agg
  /** Salted two-phase aggregation produces the same result as a plain
    * groupBy — the oracle IS the plain groupBy; the Spark side takes the
    * salted path (event_type has 5 hot values over 32 partitions).
    */
  private val skewSaltedAgg: Q = "x_skew_salted_agg" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Skew.saltedAgg(
        sources.EventsTable.load(s, dir),
        keys = Seq("event_type"), spreadOn = Seq("event_id"), salts = 16)(
        partial = Seq(
          sum(col("value").cast("decimal(18,2)")).as("ps"),
          count(lit(1)).as("pn")),
        merge = Seq(
          sum(col("ps")).cast("double").as("sum_value"),
          sum(col("pn")).cast("long").as("n"))),
    """SELECT event_type,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
      |  count(*) AS n
      |FROM events GROUP BY event_type""".stripMargin))

  /** Deterministic 10% training-split sample over documents — selection is a
    * pure content-hash function, so the oracle replays it exactly.
    */
  private val sampleSystematic: Q = "x_sample_systematic" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Dedup.systematicSample(docs(s, dir), col("doc_id"), percent = 10.0)
        .select("doc_id", "lang", "source"),
    """SELECT doc_id, lang, source FROM documents
      |WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 10000 < 1000""".stripMargin))

  /** Shared oracle CTE chain: 3-gram Jaccard pairs at 0.3 over `documents`
    * → undirected edges → recursive reachability (used by both the raw
    * component gate and the keep-best resolution gate; component = min
    * reachable id comes from aggregating `reach`).
    */
  private lazy val jaccardCcCtes: String =
    """toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
      |       FROM toks, UNNEST(range(1, len(ws)-1)) AS t(i)),
      |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 1000),
      |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_inter
      |          FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id < b.doc_id GROUP BY 1,2),
      |pairs AS (SELECT id_a, id_b
      |  FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |  WHERE n_inter::DOUBLE/(ca.n + cb.n - n_inter) > 0.3),
      |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
      |reach(id, r) AS (SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges) t
      |  UNION SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id)""".stripMargin

  /** Cluster resolution over the Jaccard candidate pairs: pair lists alone
    * under-dedup (A~B, B~C ⇒ one kept doc even when A!~C); the oracle
    * replays the fixpoint as a recursive reachability CTE (feasible at test
    * SF; the Spark side's iterative min-label propagation is the scale
    * path).
    */
  private val dedupClusters: Q = "x_dedup_clusters" -> ((
    (s: SparkSession, dir: String) => {
      val pairs = Dedup.jaccardPairs(docs(s, dir), "doc_id", "text", n = 3, threshold = 0.3)
      Dedup.connectedComponents(pairs)
        .select(col("id").as("doc_id"), col("component"))
    },
    s"""WITH RECURSIVE $jaccardCcCtes
      |SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id""".stripMargin))



  /** PII scrub gate. The synthetic corpus carries no digits, so the gate
    * deterministically plants one email/fnr/phone per document FROM doc_id
    * (same expression on both sides) — the operator under test is the
    * redaction chain + counts, which must agree with DuckDB's RE2 running
    * the very same patterns.
    */
  /** AS-OF join gate: each purchase event picks up the user's most recent
    * signup at-or-before it. The oracle is DuckDB's NATIVE `ASOF LEFT JOIN`
    * — an independent implementation of the same semantics, so the gate
    * checks the operator against an engine that special-cases it.
    */
  private val joinAsof: Q = "x_join_asof" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t").as("ts_ms"))
      val dim = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("t"), col("event_id"))
      graft.operators.Joins.asOf(facts, dim,
        keys = Seq("user_id"), factTime = "ts_ms", dimTime = "t",
        dimCols = Seq("event_id", "t"))
    },
    """WITH f AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
      |           WHERE event_type = 'purchase'),
      |d AS (SELECT user_id, epoch_ms(ts) AS t, max(event_id) AS event_id
      |      FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT f.event_id, f.user_id, f.ts_ms,
      |  d.event_id AS asof_event_id, d.t AS asof_t
      |FROM f ASOF LEFT JOIN d ON f.user_id = d.user_id AND f.ts_ms >= d.t""".stripMargin))

  /** The SAME as-of query through the NATIVE physical operator
    * ([[graft.plans.AsOfJoinExec]] via [[operators.Joins.asOfNative]]) and
    * the SAME DuckDB oracle as `x_join_asof` — the correctness statement
    * that the custom LogicalPlan/Strategy/SparkPlan path is drop-in
    * equivalent to the composed union+window encoding.
    */
  private val joinAsofNative: Q = "x_join_asof_native" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t").as("ts_ms"))
      val dim = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("t"), col("event_id"))
      graft.operators.Joins.asOfNative(facts, dim,
        keys = Seq("user_id"), factTime = "ts_ms", dimTime = "t",
        dimCols = Seq("event_id", "t"))
    },
    """WITH f AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
      |           WHERE event_type = 'purchase'),
      |d AS (SELECT user_id, epoch_ms(ts) AS t, max(event_id) AS event_id
      |      FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT f.event_id, f.user_id, f.ts_ms,
      |  d.event_id AS asof_event_id, d.t AS asof_t
      |FROM f ASOF LEFT JOIN d ON f.user_id = d.user_id AND f.ts_ms >= d.t""".stripMargin))

  /** STREAMING as-of enrichment: the native as-of operator inside a
    * Structured Streaming micro-batch — purchase facts stream through,
    * the signup dim is a STATIC broadcast lookup, so each micro-batch is a
    * stateless shuffle-free enrichment and batch ≡ stream by construction
    * (no state store, no watermark). Gated against the same DuckDB ASOF
    * JOIN oracle as the batch gates — custom physical operators compose
    * with the incremental planner because the strategy registry is shared.
    */
  private val stJoinAsof: Q = "st_join_asof" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t").as("ts_ms"))
      val dim = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("t"), col("event_id"))
      streamedGate(s, "stasof", facts)(
        plan = mk => graft.operators.Joins.asOfNative(mk(), dim,
          keys = Seq("user_id"), factTime = "ts_ms", dimTime = "t",
          dimCols = Seq("event_id", "t")))
    },
    """WITH f AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
      |           WHERE event_type = 'purchase'),
      |d AS (SELECT user_id, epoch_ms(ts) AS t, max(event_id) AS event_id
      |      FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT f.event_id, f.user_id, f.ts_ms,
      |  d.event_id AS asof_event_id, d.t AS asof_t
      |FROM f ASOF LEFT JOIN d ON f.user_id = d.user_id AND f.ts_ms >= d.t""".stripMargin))

  /** Range-join gate: every view event falling inside a 5-minute window
    * opened by any error event (no key — a pure interval-containment join).
    * The Spark side runs the bucketized equi-join plan; the oracle is
    * DuckDB's native inequality join (IEJoin) over the same predicate — an
    * independent execution strategy for identical semantics.
    */
  private val joinRange: Q = "x_join_range" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"), col("event_type"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      val facts = ev.where(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("t"))
      val dim = ev.where(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("t").as("lo"),
          (col("t") + 300000L).as("hi"))
      graft.operators.Joins.rangeJoin(facts, dim,
          factTime = "t", lo = "lo", hi = "hi", bucketMs = 300000L)
        .select("view_id", "t", "err_id", "lo")
    },
    """WITH f AS (SELECT event_id AS view_id, epoch_ms(ts) AS t FROM events
      |           WHERE event_type = 'view'),
      |d AS (SELECT event_id AS err_id, epoch_ms(ts) AS lo, epoch_ms(ts) + 300000 AS hi
      |      FROM events WHERE event_type = 'error')
      |SELECT f.view_id, f.t, d.err_id, d.lo
      |FROM f JOIN d ON f.t >= d.lo AND f.t < d.hi""".stripMargin))

  /** Per-source length-distribution report (exact interpolated percentiles —
    * the same definition as SQL `quantile_cont`, bit-identical across
    * engines). Spark's exact `percentile` aggregates a value→count map, so
    * memory is O(distinct lengths) per group — bounded for metric columns
    * like character counts; for unbounded-cardinality columns at 100 TB the
    * scale path is `approx_percentile` (sketch-based, rows-only gate).
    */
  private val corpusQuantiles: Q = "x_corpus_quantiles" -> ((
    (s: SparkSession, dir: String) =>
      docs(s, dir).groupBy("source").agg(
        expr("percentile(n_chars, 0.5)").as("p50"),
        expr("percentile(n_chars, 0.9)").as("p90"),
        expr("percentile(n_chars, 0.99)").as("p99"),
        count(lit(1)).as("n_docs")),
    """SELECT source, quantile_cont(n_chars, 0.5) AS p50,
      |  quantile_cont(n_chars, 0.9) AS p90, quantile_cont(n_chars, 0.99) AS p99,
      |  count(*)::BIGINT AS n_docs
      |FROM documents GROUP BY source""".stripMargin))

  /** Corpus vocabulary / Zipf head: top-50 tokens by frequency. The window
    * ranks the AGGREGATED vocabulary (|vocab| ≪ corpus), so the single
    * unpartitioned window is a driver-sized top-k, not a corpus sort.
    */
  private val textVocab: Q = "x_text_vocab" -> ((
    (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      docs(s, dir).select(col("doc_id"), Dedup.tokens(col("text")).as("_ws"))
        .repartition(col("doc_id"))
        .select(explode_outer(col("_ws")).as("tok")).where(col("tok").isNotNull)
        .groupBy("tok").agg(count(lit(1)).as("freq"))
        .withColumn("rank", row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
        .where(col("rank") <= 50)
    },
    """SELECT tok, freq, rank FROM (
      |  SELECT tok, count(*)::BIGINT AS freq,
      |         row_number() OVER (ORDER BY count(*) DESC, tok) AS rank
      |  FROM (SELECT unnest(string_split(trim(text),' ')) AS tok FROM documents)
      |  GROUP BY tok)
      |WHERE rank <= 50""".stripMargin))

  /** Corpus snapshot-diff gate: the new snapshot is a deterministic
    * transform of the old (every 11th id dropped, every 7th surviving text
    * edited, every 13th re-added under a shifted id), so the oracle knows
    * the expected delta from arithmetic alone. Unchanged rows must be
    * ABSENT — a diff that reports the identity hash-mismatches on row
    * count.
    */
  private val corpusDiff: Q = "x_corpus_diff" -> ((
    (s: SparkSession, dir: String) => {
      val old = docs(s, dir).select("doc_id", "text")
      val neu = old.where(col("doc_id") % 11 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" edited")))
            .otherwise(col("text")))
        .unionByName(old.where(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      graft.operators.Dimension.snapshotDiff(old, neu, "doc_id", "text")
    },
    """WITH old AS (SELECT doc_id, text FROM documents),
      |neu AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 7 = 0 THEN text || ' edited' ELSE text END AS text
      |  FROM documents WHERE doc_id % 11 <> 0
      |  UNION ALL
      |  SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 13 = 0)
      |SELECT doc_id, status FROM (
      |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |    CASE WHEN o.doc_id IS NULL THEN 'added'
      |         WHEN n.doc_id IS NULL THEN 'removed'
      |         WHEN o.text <> n.text THEN 'changed' END AS status
      |  FROM old o FULL OUTER JOIN neu n ON o.doc_id = n.doc_id)
      |WHERE status IS NOT NULL""".stripMargin))

  /** Vocabulary-coverage (OOV) gate: per-source token count and
    * out-of-vocabulary count against the corpus top-50 vocab (the
    * [[textVocab]] head, same (freq desc, token) tie-broken ranking) —
    * the tokenizer-coverage screen a training mix runs per source.
    * Counts only; the vocab join is broadcast-sized by construction.
    */
  private val textOov: Q = "x_text_oov" -> ((
    (s: SparkSession, dir: String) => {
      import org.apache.spark.sql.expressions.Window
      val tok = docs(s, dir)
        .select(col("source"), explode(Dedup.tokens(col("text"))).as("tok"))
        .where(col("tok") =!= "")
      val vocab = tok.groupBy("tok").agg(count(lit(1)).as("freq"))
        .withColumn("rank", row_number().over(Window.orderBy(col("freq").desc, col("tok"))))
        .where(col("rank") <= 50).select(col("tok"), lit(1).as("_in"))
      tok.join(broadcast(vocab), Seq("tok"), "left")
        .groupBy("source").agg(
          count(lit(1)).as("n_tokens"),
          count_if(col("_in").isNull).as("n_oov"))
    },
    """WITH tok AS (SELECT source, t AS tok FROM documents,
      |             UNNEST(string_split(trim(text), ' ')) u(t) WHERE t <> ''),
      |vocab AS (SELECT tok FROM (
      |  SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rank
      |  FROM tok GROUP BY tok) WHERE rank <= 50)
      |SELECT source, count(*)::BIGINT AS n_tokens,
      |  count(*) FILTER (WHERE tok NOT IN (SELECT tok FROM vocab))::BIGINT AS n_oov
      |FROM tok GROUP BY source""".stripMargin))

  /** CDC chunk-level dedup gate — content-defined chunk boundaries
    * (md5-prefix hash ≡ 0 mod 8 starts a chunk), then paragraph-style dedup:
    * only the globally FIRST occurrence of each chunk text survives and docs
    * are stitched back from their kept chunks. Every 10th doc is re-added
    * under a shifted id, so the replicas' chunks are all second occurrences
    * and must collapse to the empty string while the originals keep theirs;
    * natural short-chunk collisions exercise the cross-doc path too. The
    * oracle replays boundary flags, running chunk ids, first-occurrence
    * ranks, and reassembly step for step.
    */
  private val dedupCdc: Q = "x_dedup_cdc" -> ((
    (s: SparkSession, dir: String) => {
      val base = docs(s, dir).select("doc_id", "text")
      val corpus = base.unionByName(
        base.where(col("doc_id") % 10 === 0)
          .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      graft.operators.Chunking.cdcDedup(corpus, "doc_id", "text", modulus = 8)
    },
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 20000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0),
      |toks AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM corpus),
      |tok AS (SELECT doc_id, i AS pos, ws[i::INT] AS tok
      |        FROM toks, UNNEST(range(1, len(ws)+1)) t(i) WHERE ws[i::INT] <> ''),
      |c AS (SELECT doc_id, pos, tok,
      |    sum(CASE WHEN ('0x'||substr(md5(tok),1,8))::BIGINT % 8 = 0 THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_id
      |  FROM tok),
      |ch AS (SELECT doc_id, chunk_id, count(*)::BIGINT AS n_chunk_tokens,
      |    string_agg(tok, ' ' ORDER BY pos) AS chunk_text
      |  FROM c GROUP BY doc_id, chunk_id),
      |rk AS (SELECT *, row_number()
      |    OVER (PARTITION BY md5(chunk_text) ORDER BY doc_id, chunk_id) AS rk FROM ch)
      |SELECT doc_id, count(*)::BIGINT AS n_chunks,
      |  count(*) FILTER (WHERE rk = 1)::BIGINT AS n_kept,
      |  coalesce(string_agg(chunk_text, ' ' ORDER BY chunk_id) FILTER (WHERE rk = 1), '') AS text
      |FROM rk GROUP BY doc_id""".stripMargin))

  /** Pretraining example-slicing gate — documents concatenated in id order
    * with an `<|eod|>` separator after each, the global token stream cut
    * into exact 64-token examples (trailing partial dropped). The oracle
    * rebuilds the stream token by token (exclusive prefix-sum offsets,
    * separator at each doc's end) and regroups by `gpos // 64` — the
    * engine's doc-level fragment arithmetic must be invisible next to the
    * oracle's brute-force per-token replay.
    */
  private val packExamples: Q = "x_pack_examples" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Packing.sliceExamples(
        docs(s, dir).select("doc_id", "text"), "doc_id", "text", exampleLen = 64),
    """WITH d AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      |n AS (SELECT doc_id, ws, len(ws)::BIGINT + 1 AS n FROM d),
      |o AS (SELECT doc_id, ws, n,
      |    coalesce(sum(n) OVER (ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
      |  FROM n),
      |tok AS (
      |  SELECT doc_id, off + i - 1 AS gpos, ws[i::INT] AS tok
      |  FROM o, UNNEST(range(1, len(ws)+1)) t(i)
      |  UNION ALL
      |  SELECT doc_id, off + n - 1 AS gpos, '<|eod|>' AS tok FROM o)
      |SELECT gpos // 64 AS example_id, count(DISTINCT doc_id)::BIGINT AS n_docs,
      |  count(*)::BIGINT AS n_tokens, string_agg(tok, ' ' ORDER BY gpos) AS text
      |FROM tok GROUP BY 1 HAVING count(*) = 64""".stripMargin))

  /** SFT chat-template gate — conversations synthesized deterministically
    * from documents (conv = doc_id mod 50, turns in doc_id order, roles
    * alternating by parity, content = 40-char text prefix), rendered as
    * `<|role|>content` per turn; the gate emits one row per assistant turn
    * with its completion-only loss span (char offsets, content only — the
    * role marker is never in the span) plus the full conversation's length
    * and md5, so assembly and masking verify through the same rows. The
    * oracle replays the prefix-sum offsets and the ordered concat.
    */
  private val sftTemplate: Q = "x_sft_template" -> ((
    (s: SparkSession, dir: String) => {
      val turns = docs(s, dir).select(
        (col("doc_id") % 50).as("conv_id"),
        col("doc_id").as("turn_idx"),
        when(col("doc_id") % 2 === 0, lit("user")).otherwise(lit("assistant")).as("role"),
        substring(col("text"), 1, 40).as("content"))
      graft.operators.ChatTemplate.lossSpans(turns, "conv_id", "turn_idx", "role", "content")
    },
    """WITH turns AS (
      |  SELECT doc_id % 50 AS conv_id, doc_id AS turn_idx,
      |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
      |    substr(text, 1, 40) AS content
      |  FROM documents),
      |r AS (SELECT *, '<|' || role || '|>' || content AS rt FROM turns),
      |c AS (SELECT *,
      |    sum(length(rt)) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS e,
      |    string_agg(rt, '') OVER (PARTITION BY conv_id ORDER BY turn_idx
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS conv_text
      |  FROM r)
      |SELECT conv_id, turn_idx,
      |  (e - length(rt) + length('<|assistant|>'))::BIGINT AS span_start,
      |  e::BIGINT AS span_end,
      |  length(conv_text)::BIGINT AS conv_len, md5(conv_text) AS conv_hash
      |FROM c WHERE role = 'assistant'""".stripMargin))

  /** DPO preference-pair gate — pairs synthesized deterministically from
    * documents (prompt = 30-char head, chosen = next 40 chars, rejected =
    * their reverse), both sequences rendered over the SAME prompt prefix
    * with char-offset response spans. The oracle replays the concat and
    * length arithmetic; hashing both texts and all three offsets pins the
    * shared-prefix contract exactly.
    */
  private val sftPairs: Q = "x_sft_pairs" -> ((
    (s: SparkSession, dir: String) => {
      val pairs = docs(s, dir).select(
        col("doc_id").as("pair_id"),
        substring(col("text"), 1, 30).as("prompt"),
        substring(col("text"), 31, 40).as("chosen"),
        reverse(substring(col("text"), 31, 40)).as("rejected"))
      graft.operators.ChatTemplate.preferencePairs(
        pairs, "pair_id", "prompt", "chosen", "rejected")
    },
    """WITH p AS (SELECT doc_id AS pair_id, substr(text, 1, 30) AS prompt,
      |    substr(text, 31, 40) AS chosen, reverse(substr(text, 31, 40)) AS rejected
      |  FROM documents),
      |r AS (SELECT *, '<|user|>' || prompt || '<|assistant|>' AS prefix FROM p)
      |SELECT pair_id,
      |  prefix || chosen AS chosen_text,
      |  prefix || rejected AS rejected_text,
      |  length(prefix)::BIGINT AS span_start,
      |  (length(prefix) + length(chosen))::BIGINT AS chosen_end,
      |  (length(prefix) + length(rejected))::BIGINT AS rejected_end
      |FROM r""".stripMargin))

  /** Boilerplate span removal gate: tokens covered by 5-grams shared across
    * >2 distinct docs are cut; the oracle rebuilds each doc with the same
    * covered-position arithmetic.
    */
  private val textBoilerplate: Q = "x_text_boilerplate" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.removeBoilerplateSpans(docs(s, dir), "doc_id", "text", n = 5, maxDocFreq = 2),
    """WITH toks AS (SELECT doc_id, string_split(trim(text),' ') ws FROM documents),
      |sh AS (SELECT doc_id, i-1 AS p, ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '||ws[i+3]||' '||ws[i+4] AS s
      |       FROM toks, UNNEST(range(1, len(ws)-3)) t(i)),
      |boiler AS (SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) > 2),
      |cov AS (SELECT DISTINCT sh.doc_id, u.j FROM sh JOIN boiler USING (s), UNNEST(range(sh.p, sh.p+5)) u(j)),
      |cs AS (SELECT doc_id, list(j) AS cov FROM cov GROUP BY doc_id)
      |SELECT t.doc_id,
      |  CASE WHEN cs.doc_id IS NULL THEN array_to_string(t.ws, ' ')
      |       -- coalesce: DuckDB's array_to_string([]) is NULL, Spark's
      |       -- concat_ws over an empty array is '' (fully-boilerplate doc)
      |       ELSE coalesce(array_to_string(list_transform(
      |              list_filter(range(1, len(t.ws)+1), i -> NOT list_contains(cs.cov, i-1)),
      |              i -> t.ws[i]), ' '), '')
      |  END AS cleaned_text
      |FROM toks t LEFT JOIN cs USING (doc_id)""".stripMargin))

  private val textPii: Q = "x_text_pii" -> ((
    (s: SparkSession, dir: String) => {
      val aug = docs(s, dir).select(col("doc_id"),
        concat(col("text"), lit(" kontakt bruker"), col("doc_id").cast("string"),
          lit("@etat.example.no fnr "), (col("doc_id") + 10000000000L).cast("string"),
          lit(" tlf +47 "), (col("doc_id") + 10000000L).cast("string")).as("t"))
      val counts = TextAnalysis.piiCounts(col("t")).map { case (n, c) => c.cast("long").as(n) }
      aug.select(Seq(col("doc_id"), TextAnalysis.redactPii(col("t")).as("redacted")) ++ counts: _*)
    }, {
      val (pe, pf, pp) =
        (TextAnalysis.piiEmailPattern, TextAnalysis.piiFnrPattern, TextAnalysis.piiPhonePattern)
      s"""WITH aug AS (SELECT doc_id,
         |  text || ' kontakt bruker' || doc_id::VARCHAR || '@etat.example.no fnr ' ||
         |  (doc_id+10000000000)::VARCHAR || ' tlf +47 ' || (doc_id+10000000)::VARCHAR AS t FROM documents),
         |st AS (SELECT doc_id, t, regexp_replace(t, '$pe', '<EMAIL>', 'g') AS t1 FROM aug),
         |st2 AS (SELECT doc_id, t, t1, regexp_replace(t1, '$pf', '<FNR>', 'g') AS t2 FROM st)
         |SELECT doc_id,
         |  regexp_replace(t2, '$pp', '<PHONE>', 'g') AS redacted,
         |  len(regexp_extract_all(t, '$pe')) AS n_email,
         |  len(regexp_extract_all(t1, '$pf')) AS n_fnr,
         |  len(regexp_extract_all(t2, '$pp')) AS n_phone
         |FROM st2""".stripMargin
    }))

  /** Benchmark-decontamination gate: every 97th document plays the "eval
    * set"; n=5 (vs the operator's n=8 default) so the corpus's one genuine
    * cross-document overlap — a near-dup of a benchmark doc — exercises the
    * non-self hit path, not just containment of the benchmark docs
    * themselves.
    */
  private val decontaminate: Q = "x_decontaminate" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      Dedup.decontaminate(d, "doc_id", "text",
        d.where(col("doc_id") % 97 === 0), "doc_id", "text", n = 5, minHits = 1)
    }, {
      val gram = (0 until 5).map(j => s"ws[i+$j]").mkString("||' '||")
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
         |sh AS (SELECT DISTINCT doc_id, $gram AS s FROM toks, UNNEST(range(1, len(ws)-3)) t(i)),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         |hits AS (SELECT sh.doc_id, count(*) AS n_hits FROM sh JOIN bench USING (s) GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_hits, 0)::BIGINT AS n_hits,
         |  CASE WHEN coalesce(n_hits, 0) >= 1 THEN 1 ELSE 0 END AS contaminated
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id""".stripMargin
    }))

  /** Pairwise BLEU-4 + ROUGE-1/2 recall gate ([[graft.operators.TextEval.pairBleu]]):
    * graded n-gram overlap metrics over an explicit pair set (consecutive
    * doc ids, every fifth doc as candidate — the deterministic stand-in for
    * an LSH candidate list). The oracle replays the full metric: per-order
    * clipped counts, add-one smoothed precisions, the 4-term log-mean, the
    * brevity penalty on token lengths, and both recalls — any drift in
    * smoothing, clipping, or BP branches hash-mismatches at 6 dp.
    */
  private lazy val evalBleu: Q = "x_eval_bleu" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val pairs = d.where(col("doc_id") % 5 === 0)
        .select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .join(d.select(col("doc_id").as("id_b")), Seq("id_b")) // id_b must exist
      graft.operators.TextEval.pairBleu(pairs, d, "doc_id", "text", maxN = 4)
    },
    """WITH toks AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') ws
      |  FROM documents),
      |lens AS (SELECT doc_id, len(ws) l FROM toks),
      |pairs AS (SELECT a.doc_id id_a, b.doc_id id_b FROM documents a
      |  JOIN documents b ON b.doc_id = a.doc_id + 1 WHERE a.doc_id % 5 = 0),
      |g AS (SELECT doc_id, n, array_to_string(ws[i:i+n-1], ' ') gram, count(*)::BIGINT c
      |  FROM toks, UNNEST([1,2,3,4]) tn(n), UNNEST(range(1, len(ws)-n+2)) ti(i)
      |  GROUP BY 1,2,3),
      |clip AS (SELECT p.id_a, p.id_b, ga.n, sum(least(ga.c, gb.c))::BIGINT cl
      |  FROM pairs p JOIN g ga ON ga.doc_id = p.id_a
      |  JOIN g gb ON gb.doc_id = p.id_b AND gb.n = ga.n AND gb.gram = ga.gram
      |  GROUP BY 1,2,3),
      |pn AS (SELECT p.id_a, p.id_b, tn.n, coalesce(cl.cl, 0) cl,
      |    greatest(la.l - (tn.n-1), 0) ta, greatest(lb.l - (tn.n-1), 0) tb,
      |    la.l la, lb.l lb
      |  FROM pairs p CROSS JOIN UNNEST([1,2,3,4]) tn(n)
      |  LEFT JOIN clip cl ON cl.id_a = p.id_a AND cl.id_b = p.id_b AND cl.n = tn.n
      |  JOIN lens la ON la.doc_id = p.id_a
      |  JOIN lens lb ON lb.doc_id = p.id_b),
      |agg AS (SELECT id_a, id_b,
      |    exp(sum(ln((cl + 1)::DOUBLE / (ta + 1)::DOUBLE)) / 4) geo,
      |    max(la) la, max(lb) lb,
      |    max(CASE WHEN n = 1 THEN cl::DOUBLE / greatest(tb, 1) END) r1,
      |    max(CASE WHEN n = 2 THEN cl::DOUBLE / greatest(tb, 1) END) r2
      |  FROM pn GROUP BY 1, 2)
      |SELECT id_a, id_b,
      |  round(CASE WHEN la >= lb THEN 1.0
      |        ELSE exp(1.0 - lb::DOUBLE / greatest(la, 1)) END * geo, 6) AS bleu,
      |  round(r1, 6) AS rouge1_recall, round(r2, 6) AS rouge2_recall
      |FROM agg""".stripMargin))

  /** Graded decontamination-report gate ([[Dedup.decontaminationReport]]):
    * the distinct-n-gram overlap SHARE per document against the benchmark
    * slice — rankable contamination instead of the binary flag (which
    * keeps its own gate above).
    */
  private lazy val decontaminateReport: Q = "x_decontaminate_report" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      Dedup.decontaminationReport(d, "doc_id", "text",
        d.where(col("doc_id") % 97 === 0), "doc_id", "text", n = 5)
    }, {
      val gram = (0 until 5).map(j => s"ws[i+$j]").mkString("||' '||")
      s"""WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
         |sh AS (SELECT DISTINCT doc_id, $gram AS s FROM toks, UNNEST(range(1, len(ws)-3)) t(i)),
         |bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % 97 = 0),
         |st AS (SELECT sh.doc_id, count(*)::BIGINT AS n_grams, count(b.s)::BIGINT AS n_hit_grams
         |  FROM sh LEFT JOIN bench b USING (s) GROUP BY 1)
         |SELECT d.doc_id, coalesce(n_grams, 0)::BIGINT AS n_grams,
         |  coalesce(n_hit_grams, 0)::BIGINT AS n_hit_grams,
         |  round(coalesce(n_hit_grams, 0)::DOUBLE / greatest(coalesce(n_grams, 0), 1), 6) AS overlap_share
         |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id""".stripMargin
    }))

  /** Gopher-style repetition metrics gate: per-row facets + the relational
    * top-bigram plan, replayed by DuckDB list/group math.
    */
  private val textRepetition: Q = "x_text_repetition" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Repetition.metrics(docs(s, dir), "doc_id", "text"),
    """WITH toks AS (SELECT doc_id, string_split(trim(text),' ') ws, string_split(text, chr(10)) ls FROM documents),
      |per AS (SELECT doc_id, len(ws)::BIGINT AS n_words,
      |  1 - len(list_distinct(ws))::DOUBLE/greatest(len(ws),1) AS dup_word_frac,
      |  1 - len(list_distinct(ls))::DOUBLE/greatest(len(ls),1) AS dup_line_frac FROM toks),
      |bg AS (SELECT doc_id, ws[i]||' '||ws[i+1] AS b FROM toks, UNNEST(range(1, len(ws))) t(i)),
      |cnt AS (SELECT doc_id, b, count(*) c FROM bg GROUP BY 1,2),
      |top AS (SELECT doc_id, max(c)::DOUBLE/sum(c) AS top_bigram_frac FROM cnt GROUP BY 1)
      |SELECT per.doc_id, n_words, dup_word_frac, dup_line_frac,
      |  coalesce(top_bigram_frac, 0.0) AS top_bigram_frac
      |FROM per LEFT JOIN top ON per.doc_id = top.doc_id""".stripMargin))

  /** Gopher rule-battery gate: the non-repetition half of the published
    * MassiveText filter (word-count/mean-length bounds, symbol ratio,
    * bullet/ellipsis lines, alphabetic-word fraction, stop-word presence)
    * — every scalar, rule boolean, and the overall pass replayed exactly.
    */
  private lazy val textGopher: Q = {
    // Deterministic violation tails: the synthetic corpus is clean prose
    // whose vocabulary contains at most ONE gopherStops word ('the'), so
    // stop_hits never reaches the >= 2 threshold and, without these,
    // every rule boolean is constant — the gate would hash-match
    // vacuously. Each doc_id class trips one facet; the %3 stop-word tail
    // lets the pass conjunction actually fire on clean rows.
    val longW = (" " + "q" * 25) * 25        // mean word length > 10
    val bullets = "\n- bullet point" * 20    // bullet-line fraction ≥ 0.9
    val ellip = "\nline ends ..." * 20       // ellipsis-line fraction ≥ 0.3
    val hashNum = " ####" * 20 + " 123" * 25 // symbol ratio ≥ 0.1, alpha < 0.8
    "x_text_gopher" -> ((
      (s: SparkSession, dir: String) =>
        graft.operators.Repetition.gopherRules(
          docs(s, dir)
            .withColumn("text",
              when(col("doc_id") % 3 === 0, col("text"))
                .otherwise(concat(col("text"), lit(" the and of to have"))))
            .withColumn("text",
              when(col("doc_id") % 5 === 1, concat(col("text"), lit(longW)))
                .when(col("doc_id") % 5 === 2, concat(col("text"), lit(bullets)))
                .when(col("doc_id") % 5 === 3, concat(col("text"), lit(ellip)))
                .when(col("doc_id") % 5 === 4, concat(col("text"), lit(hashNum)))
                .otherwise(col("text"))),
          "doc_id", "text"),
      s"""WITH aug0 AS (SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN text
        |       ELSE text || ' the and of to have' END AS text FROM documents),
        |aug AS (SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 1 THEN text || '$longW'
        |       WHEN doc_id % 5 = 2 THEN text || '$bullets'
        |       WHEN doc_id % 5 = 3 THEN text || '$ellip'
        |       WHEN doc_id % 5 = 4 THEN text || '$hashNum'
        |       ELSE text END AS text FROM aug0),
        |t AS (SELECT doc_id, text,
        |            regexp_split_to_array(trim(text), '\\s+') ws,
        |            string_split(text, chr(10)) ls FROM aug),
      |c AS (SELECT doc_id,
      |  len(ws)::BIGINT AS n_words,
      |  list_reduce(list_prepend(0::BIGINT, list_transform(ws, w -> length(w)::BIGINT)),
      |    (a,b)->a+b)::DOUBLE / greatest(len(ws),1)::DOUBLE AS mean_word_len,
      |  (len(regexp_extract_all(text, '#')) +
      |   len(regexp_extract_all(text, '\\.\\.\\.|…')))::DOUBLE
      |    / greatest(len(ws),1)::DOUBLE AS symbol_word_ratio,
      |  len(list_filter(ls, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE
      |    / greatest(len(ls),1)::DOUBLE AS bullet_line_frac,
      |  len(list_filter(ls, l -> regexp_matches(trim(l), '(\\.\\.\\.|…)$$')))::DOUBLE
      |    / greatest(len(ls),1)::DOUBLE AS ellipsis_line_frac,
      |  len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]')))::DOUBLE
      |    / greatest(len(ws),1)::DOUBLE AS alpha_word_frac,
      |  len(list_filter(['the','be','to','of','and','that','have','with'],
      |    s -> list_contains(ws, s)))::INT AS stop_hits
      |  FROM t)
      |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio, bullet_line_frac,
      |  ellipsis_line_frac, alpha_word_frac, stop_hits,
      |  n_words BETWEEN 50 AND 100000 AS ok_word_count,
      |  mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS ok_mean_len,
      |  symbol_word_ratio < 0.1 AS ok_symbols,
      |  bullet_line_frac < 0.9 AS ok_bullets,
      |  ellipsis_line_frac < 0.3 AS ok_ellipsis,
      |  alpha_word_frac >= 0.8 AS ok_alpha,
      |  stop_hits >= 2 AS ok_stops,
      |  (n_words BETWEEN 50 AND 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
      |    AND symbol_word_ratio < 0.1 AND bullet_line_frac < 0.9
      |    AND ellipsis_line_frac < 0.3 AND alpha_word_frac >= 0.8
      |    AND stop_hits >= 2 AS gopher_pass
      |FROM c""".stripMargin))
  }

  /** DISTRIBUTED SUFFIX ARRAY gate ([[graft.operators.SuffixArray.build]],
    * round 13): SEED RANK + BUCKET REFINEMENT — one corpus-wide range
    * exchange ranks every suffix by its first 32 chars (min-position
    * ranks, so uniquely-ranked suffixes freeze immediately), then
    * Larsson–Sadakane-style refinement rounds re-sort ONLY still-tied
    * classes by the next 512-char block of their suffixes fetched
    * straight from the documents table (rounds ≈ ceil(repeat-depth/512),
    * typically one) — against DuckDB literally SORTING THE SUFFIXES
    * (`dense_rank() OVER (ORDER BY suf)`): two completely different
    * algorithms, same array, per-suffix hash match. The %5 doc slice
    * keeps the oracle's O(n · avg-suffix) string sort honest at gate SF
    * while the Spark side runs the real scalable construction
    * (ScaleProbe's `suffix` stage measures its growth on the full
    * corpus). Equal suffixes across near-dup docs share a DENSE rank —
    * the tie class whose exhaustion (no text left to compare) is the
    * refinement loop's convergence signal.
    */
  private lazy val suffixArray: Q = "x_suffix_array" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.SuffixArray.build(
        docs(s, dir).where(col("doc_id") % 5 === 0), "doc_id", "text"),
    """WITH s AS (SELECT doc_id, i AS off, substr(text, CAST(i AS INT)) AS suf
      |  FROM documents, UNNEST(range(1, len(text) + 1)) t(i)
      |  WHERE doc_id % 5 = 0)
      |SELECT doc_id, off, dense_rank() OVER (ORDER BY suf) AS rank FROM s""".stripMargin))

  /** Exact repeated-substring report ([[graft.operators.SuffixArray.repeatedSpans]]):
    * adjacent-suffix LCP >= 20 over the suffix array — the exact version of
    * the winnowing-anchored span family (every maximal repeat appears as an
    * adjacent LCP at least its length; 300 qualifying pairs at sf0.01, 291
    * of them cross-document). The oracle lag-walks the sorted suffixes and
    * recomputes each LCP with a FROM-lateral first-mismatch scan, capped
    * identically; the operator's LCP is the native codegen'd
    * [[graft.expressions.CommonPrefixLen]] over cap-bounded suffix windows.
    */
  private lazy val suffixDupSpans: Q = "x_suffix_dup_spans" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.SuffixArray.repeatedSpans(
        docs(s, dir).where(col("doc_id") % 5 === 0), "doc_id", "text",
        minLen = 20, cap = 512),
    """WITH s AS (SELECT doc_id, i AS off, substr(text, CAST(i AS INT)) AS suf
      |  FROM documents, UNNEST(range(1, len(text) + 1)) t(i)
      |  WHERE doc_id % 5 = 0),
      |o AS (SELECT doc_id, off, suf,
      |        row_number() OVER (ORDER BY suf, doc_id, off) AS rn,
      |        lag(suf) OVER (ORDER BY suf, doc_id, off) AS psuf,
      |        lag(doc_id) OVER (ORDER BY suf, doc_id, off) AS pdoc,
      |        lag(off) OVER (ORDER BY suf, doc_id, off) AS poff
      |      FROM s),
      |l AS (SELECT rn, doc_id, off, pdoc, poff,
      |        coalesce(min(CASE WHEN substr(suf, CAST(i AS INT), 1)
      |                            <> substr(psuf, CAST(i AS INT), 1) THEN i END),
      |                 least(len(suf), len(psuf), 512) + 1) - 1 AS lcp
      |      FROM o, UNNEST(range(1, least(len(suf), len(psuf), 512) + 1)) t(i)
      |      WHERE psuf IS NOT NULL
      |      GROUP BY rn, doc_id, off, pdoc, poff, suf, psuf)
      |SELECT rn - 1 AS sa_pos, pdoc AS id_a, poff AS off_a,
      |  doc_id AS id_b, off AS off_b, CAST(lcp AS INT) AS lcp
      |FROM l WHERE lcp >= 20""".stripMargin))

  /** ExactSubstr CUT gate ([[graft.operators.SuffixArray.removeRepeatedText]]):
    * Lee et al.'s remove-EVERY-occurrence semantics over the suffix array —
    * both sides of each qualifying adjacent pair become removal intervals,
    * per-doc interval union, code-point rebuild. The oracle replays the
    * whole chain in SQL: the dup-spans CTEs, both-side interval
    * attribution, a NOT-EXISTS coverage test per character position, and
    * `string_agg` character reassembly — so the cut text is hash-matched
    * byte for byte, not just counted.
    */
  private lazy val suffixDedupCut: Q = "x_suffix_dedup_cut" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.SuffixArray.removeRepeatedText(
        docs(s, dir).where(col("doc_id") % 5 === 0), "doc_id", "text",
        minLen = 20, cap = 512),
    """WITH s AS (SELECT doc_id, i AS off, substr(text, CAST(i AS INT)) AS suf
      |  FROM documents, UNNEST(range(1, len(text) + 1)) t(i)
      |  WHERE doc_id % 5 = 0),
      |o AS (SELECT doc_id, off, suf,
      |        lag(suf) OVER (ORDER BY suf, doc_id, off) AS psuf,
      |        lag(doc_id) OVER (ORDER BY suf, doc_id, off) AS pdoc,
      |        lag(off) OVER (ORDER BY suf, doc_id, off) AS poff
      |      FROM s),
      |l AS (SELECT doc_id, off, pdoc, poff,
      |        coalesce(min(CASE WHEN substr(suf, CAST(i AS INT), 1)
      |                            <> substr(psuf, CAST(i AS INT), 1) THEN i END),
      |                 least(len(suf), len(psuf), 512) + 1) - 1 AS lcp
      |      FROM o, UNNEST(range(1, least(len(suf), len(psuf), 512) + 1)) t(i)
      |      WHERE psuf IS NOT NULL
      |      GROUP BY doc_id, off, pdoc, poff, suf, psuf),
      |p AS (SELECT pdoc AS d, poff AS st, lcp FROM l WHERE lcp >= 20
      |      UNION ALL
      |      SELECT doc_id AS d, off AS st, lcp FROM l WHERE lcp >= 20),
      |cnt AS (SELECT d, count(*) AS n FROM p GROUP BY d),
      |chars AS (SELECT doc_id, i, substr(text, CAST(i AS INT), 1) AS ch
      |  FROM documents, UNNEST(range(1, len(text) + 1)) t(i)
      |  WHERE doc_id % 5 = 0),
      |kept AS (SELECT c.doc_id, c.i, c.ch FROM chars c
      |  WHERE NOT EXISTS (SELECT 1 FROM p
      |    WHERE p.d = c.doc_id AND c.i >= p.st AND c.i < p.st + p.lcp)),
      |rebuilt AS (SELECT doc_id, string_agg(ch, '' ORDER BY i) AS text_clean,
      |    count(*) AS n_kept FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean,
      |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_spans,
      |  CAST(len(d.text) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed_chars
      |FROM documents d
      |LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN cnt c ON c.d = d.doc_id
      |WHERE d.doc_id % 5 = 0""".stripMargin))

  /** ExactSubstr cut, GRAM fast path ([[graft.operators.Dedup.exactSubstrCutByGrams]]):
    * the same function as [[graft.operators.SuffixArray.removeRepeatedText]]
    * computed by duplicated char-gram interval union — two keyed
    * aggregations instead of the doubling rounds. The oracle is the direct
    * gram replay (GROUP BY gram HAVING count > 1, coverage NOT-EXISTS,
    * string_agg rebuild); equivalence of the CLEANED TEXT with the
    * suffix-array path is additionally asserted by spec on the same
    * corpus — two algorithms, one function, both gated.
    */
  private lazy val exactGramCut: Q = "x_exact_substr_gram_cut" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Dedup.exactSubstrCutByGrams(
        docs(s, dir).where(col("doc_id") % 5 === 0), "doc_id", "text", minLen = 20),
    """WITH g AS (SELECT doc_id, i AS s, substr(text, CAST(i AS INT), 20) AS g
      |  FROM documents, UNNEST(range(1, len(text) - 18)) t(i)
      |  WHERE doc_id % 5 = 0),
      |dup AS (SELECT g FROM g GROUP BY g HAVING count(*) > 1),
      |p AS (SELECT doc_id AS d, s FROM g JOIN dup USING (g)),
      |cnt AS (SELECT d, count(*) AS n FROM p GROUP BY d),
      |chars AS (SELECT doc_id, i, substr(text, CAST(i AS INT), 1) AS ch
      |  FROM documents, UNNEST(range(1, len(text) + 1)) t(i)
      |  WHERE doc_id % 5 = 0),
      |kept AS (SELECT c.doc_id, c.i, c.ch FROM chars c
      |  WHERE NOT EXISTS (SELECT 1 FROM p
      |    WHERE p.d = c.doc_id AND c.i >= p.s AND c.i < p.s + 20)),
      |rebuilt AS (SELECT doc_id, string_agg(ch, '' ORDER BY i) AS text_clean,
      |    count(*) AS n_kept FROM kept GROUP BY doc_id)
      |SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean,
      |  CAST(coalesce(c2.n, 0) AS BIGINT) AS n_spans,
      |  CAST(len(d.text) - coalesce(r.n_kept, 0) AS BIGINT) AS n_removed_chars
      |FROM documents d
      |LEFT JOIN rebuilt r USING (doc_id) LEFT JOIN cnt c2 ON c2.d = d.doc_id
      |WHERE d.doc_id % 5 = 0""".stripMargin))

  /** EXACT benchmark contamination gate ([[graft.operators.Dedup.exactContamination]]):
    * verbatim >= 20-char overlap between the corpus slice and the %97
    * "eval set" (10 of 98 corpus docs carry hits at sf0.01 — the planted
    * near-dups exercise the non-zero path). The contaminated character
    * mass is the fixed-interval union computed relationally
    * (min(gap, minLen) per hit in position order); the oracle replays the
    * same lag/least fold.
    */
  private lazy val exactContaminationGate: Q = "x_exact_contamination" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      graft.operators.Dedup.exactContamination(
        d.where(col("doc_id") % 5 === 0 && col("doc_id") % 97 =!= 0), "doc_id", "text",
        d.where(col("doc_id") % 97 === 0), "doc_id", "text", minLen = 20)
    },
    """WITH cg AS (SELECT doc_id, i AS s, substr(text, CAST(i AS INT), 20) AS g
      |  FROM documents, UNNEST(range(1, len(text) - 18)) t(i)
      |  WHERE doc_id % 5 = 0 AND doc_id % 97 <> 0),
      |bg AS (SELECT DISTINCT substr(text, CAST(i AS INT), 20) AS g
      |  FROM documents, UNNEST(range(1, len(text) - 18)) t(i)
      |  WHERE doc_id % 97 = 0),
      |m AS (SELECT doc_id, s FROM cg JOIN bg USING (g)),
      |c AS (SELECT doc_id, s,
      |    coalesce(least(s - lag(s) OVER (PARTITION BY doc_id ORDER BY s), 20), 20) AS cov
      |  FROM m),
      |st AS (SELECT doc_id, count(*) AS n_hits, sum(cov) AS ncc FROM c GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(n_hits, 0) AS BIGINT) AS n_hits,
      |  CAST(coalesce(ncc, 0) AS BIGINT) AS n_contaminated_chars,
      |  CASE WHEN coalesce(n_hits, 0) >= 1 THEN 1 ELSE 0 END AS contaminated
      |FROM documents d LEFT JOIN st USING (doc_id)
      |WHERE d.doc_id % 5 = 0 AND d.doc_id % 97 <> 0""".stripMargin))

  /** ONE-DOCUMENT LIFECYCLE gate (round-12 verdict item 7): a single YAML
    * drives `source → envelope → transform → sink → curate` through the
    * REAL production entry point — [[graft.GraftMain.execute]] with an
    * injected env, not a hand-assembled plan. The consumer half lands the
    * events topic (JSON envelope, identity + epoch-ms→Oslo transform
    * rules) as a parquet table; the embedded `curate:` block then runs the
    * stage chain over that landed table (exact dedup on the canonical
    * `kafka_message`, hash-bucket train/val/test split) and writes the
    * curated corpus + report. The oracle replays the WHOLE composition in
    * DuckDB: envelope projection (the s4 shape), the Oslo wall-clock
    * rendering (the t_transform_rules shape), keep-min-offset exact dedup,
    * and the md5-bucket split arithmetic — so a drift in ANY stage of the
    * one-document lifecycle hash-mismatches here even if every per-stage
    * gate stays green.
    */
  private lazy val e2eYamlCurate: Q = "e2e_yaml_curate" -> ((
    // Gate-scale partition sizing (round 15, the x_corpus_pipeline
    // rationale verbatim): the lifecycle's land→curate stages iterate
    // through eager boundaries that re-materialize map-side at the STATIC
    // shuffle partition count — 32-wide turns every tiny corpus-derived
    // frame into near-empty tasks. At production scale this knob is sized
    // to stage data volume; at gate SF the honest size is small. Results
    // are partitioning-proof (exact dedup keep-min + md5-bucket split).
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      scratchTree("e2eyaml") { tmp =>
        val yaml =
          s"""source:
             |  topic: events
             |  schema: json
             |  strategy: assign
             |target:
             |  table: $tmp/landed
             |transform:
             |  - src: kafka_offset
             |    dst: kafka_offset
             |  - src: kafka_message
             |    dst: kafka_message
             |  - src: kafka_timestamp
             |    dst: ts_oslo
             |    fun: int-unix-ms -> datetime-no
             |curate:
             |  output: $tmp/curated
             |  id-column: kafka_offset
             |  text-column: kafka_message
             |  dedup:
             |    exact: true
             |  split:
             |    - train: 80
             |    - val: 10
             |    - test: 10
             |""".stripMargin
        val env: GraftMain.Env = Map(
          "CONSUMER_CONFIG" -> yaml,
          "GRAFT_SOURCE_DIR" -> dir,
          "GRAFT_PAYLOAD_SCHEMA" -> "k LONG").get
        GraftMain.execute(env)
        s.read.parquet(s"$tmp/curated/corpus")
          .select(col("kafka_offset"), col("kafka_message"),
            date_format(col("ts_oslo"), "yyyy-MM-dd HH:mm:ss.SSS").as("ts_oslo"),
            col("split"))
      }
    },
    """WITH env AS (
      |  SELECT event_id AS kafka_offset,
      |    '{"k":' || (props->>'k') || '}' AS kafka_message,
      |    strftime(timezone('Europe/Oslo', timezone('UTC', epoch_ms(epoch_ms(ts)))),
      |             '%Y-%m-%d %H:%M:%S.%g') AS ts_oslo
      |  FROM events),
      |dd AS (SELECT env.* FROM env
      |  JOIN (SELECT min(kafka_offset) AS kafka_offset FROM env
      |        GROUP BY md5(kafka_message)) keep USING (kafka_offset))
      |SELECT kafka_offset, kafka_message, ts_oslo,
      |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT *,
      |  ('0x'||substr(md5(kafka_offset::VARCHAR),1,8))::BIGINT % 10000 AS b FROM dd)""".stripMargin))

  /** FLAGSHIP composition: the full corpus-curation pipeline a training-data
    * run executes, end to end — repetition/quality filter → exact dedup
    * (keep-one) → near-dup candidate pairs → connected-component cluster
    * resolution → benchmark decontamination — every stage an operator gated
    * individually above, here composed and gated as ONE plan against one
    * chained-CTE oracle. This is the "could a user run their whole workload"
    * query: 500 docs in, 418 curated docs out at sf0.01.
    */
  private val corpusPipeline: Q = "x_corpus_pipeline" -> ((
    // Partition sizing (round-13 creep diagnosis, BASELINE.md): the
    // pipeline iterates through MANY eager stage boundaries (two persists,
    // CC's per-iteration lineage truncation, the final localCheckpoint),
    // and each boundary re-materializes map-side at the STATIC shuffle
    // partition count — AQE coalesces only the reader side, so a 32-wide
    // session setting turns every tiny post-filter frame into 32 near-empty
    // tasks (~100 ms fixed cpu each; measured 1067 tasks / 106 s cpuMs at
    // 32 partitions vs 178 tasks / 9.9 s cpuMs for the SAME logical work
    // at 4). At production scale this knob is sized to stage data volume;
    // at gate SF the honest size for corpus-derived frames is small.
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      val d = docs(s, dir)
      val rep = graft.operators.Repetition.metrics(d, "doc_id", "text")
      // Materialize BOTH stage boundaries: q1 feeds two consumers (the
      // exact-dedup aggregate and the join back), and without a boundary the
      // repetition-metrics plan — a bigram aggregation — executes twice.
      // dd then feeds FOUR consumers (pair generation, keep-one resolution,
      // decontamination probe, final projection) and connectedComponents'
      // eager checkpoint splits the lineage into separate jobs, so without
      // a boundary the quality+dedup upstream re-executes once per consumer.
      // At 100 TB the same boundaries are parquet writes between stages.
      //
      // localCheckpoint, NOT persist (round-14 determinism fix): a lazy
      // persist is registered in the CacheManager but materialized only by
      // whichever downstream query happens to touch it first, so every
      // later query PLANS against an InMemoryRelation whose partitioning/
      // stats availability depends on job timing — measured here as the
      // shingleArrays repartition exchange (1.95MB) being elided on some
      // passes and present on others, i.e. nondeterministic shuffle volume
      // for a fixed plan+data. A checkpointed RDD has fixed partitioning
      // and fixed stats at creation; every downstream plan is then
      // decided identically on every pass and every JVM.
      val q1 = d.join(
        rep.where(col("n_words") >= 20 && col("dup_word_frac") < 0.7 &&
          col("top_bigram_frac") < 0.15).select("doc_id", "n_words"), "doc_id")
        .localCheckpoint(true)
      val dd = q1.join(
        Dedup.exact(q1, "doc_id", md5(col("text"))).select(col("kept_id").as("doc_id")), "doc_id")
        .localCheckpoint(true)
      val comp = Dedup.connectedComponents(
        Dedup.jaccardPairs(dd, "doc_id", "text", n = 3, threshold = 0.3))
      val kept = Dedup.resolveClusters(dd, "doc_id", comp)
      val clean = Dedup.decontaminate(kept, "doc_id", "text",
        d.where(col("doc_id") % 97 === 0), "doc_id", "text", n = 5, minHits = 1)
        .where(col("contaminated") === 0).select("doc_id")
      // Final assembly: kept ⋈ clean is two corpus-sized sides at deployment
      // scale, so pin the strategy AQE must not runtime-flip (measured:
      // broadcast on some passes, sort-merge + 0.8MB exchanges on others —
      // the same nondeterminism class as the pre-pin topKIvfPq). merge is
      // the only 100 TB-valid choice, exactly as in topKIvfPq.
      kept.join(clean.hint("merge"), "doc_id").select("doc_id", "n_words", "source")
        .localCheckpoint(true)
    }, {
      val g5 = (0 until 5).map(j => s"ws[i+$j]").mkString("||' '||")
      s"""WITH RECURSIVE toks0 AS (SELECT doc_id, source, text, string_split(trim(text),' ') ws FROM documents),
         |rep AS (SELECT doc_id, len(ws)::BIGINT n_words,
         |        1 - len(list_distinct(ws))::DOUBLE/greatest(len(ws),1) AS dwf FROM toks0),
         |bgt AS (SELECT doc_id, ws[i]||' '||ws[i+1] b FROM toks0, UNNEST(range(1,len(ws))) t(i)),
         |bgc AS (SELECT doc_id, b, count(*) c FROM bgt GROUP BY 1,2),
         |tbf AS (SELECT doc_id, max(c)::DOUBLE/sum(c) f FROM bgc GROUP BY 1),
         |q1 AS (SELECT toks0.doc_id, source, text, ws, n_words FROM toks0
         |       JOIN rep USING (doc_id) LEFT JOIN tbf USING (doc_id)
         |       WHERE n_words >= 20 AND dwf < 0.7 AND coalesce(f, 0.0) < 0.15),
         |d1 AS (SELECT min(doc_id) doc_id FROM q1 GROUP BY md5(text)),
         |dd AS (SELECT q1.* FROM q1 JOIN d1 USING (doc_id)),
         |sh0 AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] s FROM dd, UNNEST(range(1,len(ws)-1)) t(i)),
         |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 1000),
         |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
         |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
         |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_inter FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id<b.doc_id GROUP BY 1,2),
         |prs AS (SELECT id_a, id_b FROM inter JOIN cnt ca ON ca.doc_id=id_a JOIN cnt cb ON cb.doc_id=id_b
         |        WHERE n_inter::DOUBLE/(ca.n+cb.n-n_inter) > 0.3),
         |edges AS (SELECT id_a u, id_b v FROM prs UNION SELECT id_b, id_a FROM prs),
         |reach(id, r) AS (SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges) t
         |  UNION SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
         |comp AS (SELECT id, min(r) component FROM reach GROUP BY id),
         |kept AS (SELECT dd.* FROM dd WHERE doc_id NOT IN (SELECT id FROM comp WHERE id <> component)),
         |g5 AS (SELECT DISTINCT doc_id, $g5 s FROM toks0, UNNEST(range(1,len(ws)-3)) t(i)),
         |bench AS (SELECT DISTINCT s FROM g5 WHERE doc_id % 97 = 0),
         |conta AS (SELECT DISTINCT g5.doc_id FROM g5 JOIN bench USING (s))
         |SELECT doc_id, n_words, source FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM conta)""".stripMargin
    }))

  /** Document chunking: overlapping token windows (chunkSize 32, overlap 8)
    * — the embedding-prep step; the oracle replays the window starts with a
    * stepped range + slice.
    */
  private val textChunks: Q = "x_text_chunks" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Chunking.chunkTokens(docs(s, dir), "doc_id", "text", chunkSize = 32, overlap = 8),
    """WITH toks AS (SELECT doc_id, string_split(trim(text),' ') ws FROM documents),
      |st AS (SELECT doc_id, ws, i AS chunk_start,
      |       row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS chunk_idx
      |       FROM toks, UNNEST(range(0, greatest(len(ws),1), 24)) t(i)
      |       WHERE i = 0 OR i + 8 < len(ws))
      |SELECT doc_id, chunk_idx::INT AS chunk_idx, chunk_start::INT AS chunk_start,
      |  len(list_slice(ws, chunk_start+1, chunk_start+32))::INT AS n_chunk_tokens,
      |  array_to_string(list_slice(ws, chunk_start+1, chunk_start+32), ' ') AS chunk_text
      |FROM st""".stripMargin))

  /** Sequence packing (pretraining shape): global token offsets via the
    * scalable two-phase prefix sum, replayed by an ordinary window in the
    * oracle.
    */
  private val packSequences: Q = "x_pack_sequences" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Packing.packSequences(docs(s, dir), "doc_id", "text", maxTokens = 2048),
    """WITH t AS (SELECT doc_id, len(string_split(trim(text),' '))::BIGINT AS n_tokens FROM documents),
      |o AS (SELECT doc_id, n_tokens,
      |  sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS off FROM t)
      |SELECT doc_id, n_tokens, off::BIGINT AS token_offset,
      |  (off // 2048)::BIGINT AS seq_first,
      |  ((off + greatest(n_tokens, 1) - 1) // 2048)::BIGINT AS seq_last
      |FROM o""".stripMargin))

  /** Corpus-mixing sample: per-source keep rates + default, same
    * content-hash selection as the systematic sample.
    */
  private val sampleStratified: Q = "x_sample_stratified" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.stratifiedSample(docs(s, dir), col("doc_id"), col("source"),
        Map("src0" -> 100.0, "src1" -> 50.0, "src2" -> 10.0), defaultPercent = 20.0)
        .select("doc_id", "source"),
    """SELECT doc_id, source FROM documents
      |WHERE ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 10000 <
      |  CASE source WHEN 'src0' THEN 10000 WHEN 'src1' THEN 5000
      |              WHEN 'src2' THEN 1000 ELSE 2000 END""".stripMargin))

  /** C4-style global span dedup gate: 10-word segments, corpus-wide
    * first-occurrence keep, documents rebuilt from survivors. The oracle
    * replays the exact segmentation (1-based list slice), picks winners with
    * a (doc_id, seg)-ordered row_number, and reassembles with an ordered
    * string_agg.
    */
  private val dedupSpans: Q = "x_dedup_spans" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.dedupSpans(docs(s, dir), "doc_id", "text", spanWords = 10),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') AS words FROM documents),
      |segs AS (SELECT doc_id, unnest(generate_series(0, (len(words)-1)//10)) AS seg, words
      |         FROM toks),
      |spans AS (SELECT doc_id, seg,
      |            array_to_string(words[seg*10+1 : seg*10+10], ' ') AS span
      |          FROM segs),
      |kept AS (SELECT doc_id, seg, span FROM spans
      |         QUALIFY row_number() OVER (PARTITION BY span ORDER BY doc_id, seg) = 1)
      |SELECT doc_id, string_agg(span, ' ' ORDER BY seg) AS text
      |FROM kept GROUP BY doc_id""".stripMargin))

  /** Deterministic corpus-mixing gate: src0/src1 upsampled 2.5×, src2 at
    * 1.25×, everything else downsampled to 0.5× — full epochs plus a
    * fractional epoch by the shared md5 bucket, so the oracle replays the
    * identical hash arithmetic and any rate or determinism drift
    * hash-mismatches.
    */
  private val mixEpochs: Q = "x_mix_epochs" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.mixEpochs(docs(s, dir), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 2.5, "src2" -> 1.25), defaultWeight = 0.5),
    """WITH w AS (SELECT doc_id, source,
      |    CASE source WHEN 'src0' THEN 25000 WHEN 'src1' THEN 25000
      |                WHEN 'src2' THEN 12500 ELSE 5000 END AS bp
      |  FROM documents),
      |e AS (SELECT doc_id, source, bp,
      |    unnest(generate_series(0, (bp + 9999)//10000 - 1))::INT AS epoch
      |  FROM w)
      |SELECT doc_id, source, epoch FROM e
      |WHERE epoch < bp//10000
      |   OR ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 10000 < bp % 10000""".stripMargin))

  /** Per-source TF-IDF top-terms gate: ln-idf over distinct-document
    * frequency, tf × idf ranked per source with a term tie-break. Exercises
    * cross-engine double parity of ln and the product (same family as the
    * unigram-LM gate) plus the windowed top-k cut.
    */
  private val tfidfTerms: Q = "x_tfidf_terms" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.TfIdf.topTerms(docs(s, dir), "source", "doc_id", "text", k = 5),
    """WITH toks AS (SELECT source, doc_id, unnest(string_split(trim(text), ' ')) AS term
      |  FROM documents),
      |tf AS (SELECT source, term, count(*)::BIGINT AS tf FROM toks GROUP BY 1, 2),
      |docfreq AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY 1),
      |n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
      |scored AS (SELECT tf.source, tf.term, tf.tf,
      |    tf.tf * ln(n.n_docs::DOUBLE / docfreq.df) AS tfidf
      |  FROM tf JOIN docfreq USING (term) CROSS JOIN n)
      |SELECT source, term, tf, tfidf,
      |  row_number() OVER (PARTITION BY source ORDER BY tfidf DESC, term)::INT AS rank
      |FROM scored QUALIFY rank <= 5""".stripMargin))

  /** Per-source corpus report — the summary a curation run ends with: doc
    * and word volumes, mean length, and how many docs sit in exact-dup
    * groups, per source. One hash-keyed self-join + one grouped agg.
    */
  private val corpusReport: Q = "x_corpus_report" -> ((
    (s: SparkSession, dir: String) => {
      val t = docs(s, dir).select(col("doc_id"), col("source"),
        size(Dedup.tokens(col("text"))).as("n_words"), md5(col("text")).as("h"))
      val d = t.groupBy("h").agg(count(lit(1)).as("c"))
      t.join(d, "h").groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("n_words").cast("long").as("total_words"),
        (sum("n_words").cast("double") / count(lit(1))).as("mean_words"),
        sum(when(col("c") > 1, 1).otherwise(0)).cast("long").as("docs_in_dup_groups"))
    },
    """WITH t AS (SELECT doc_id, source, len(string_split(trim(text),' ')) AS n_words,
      |  md5(text) AS h FROM documents),
      |d AS (SELECT h, count(*) AS c FROM t GROUP BY h)
      |SELECT t.source, count(*)::BIGINT AS n_docs, sum(n_words)::BIGINT AS total_words,
      |  sum(n_words)::DOUBLE / count(*) AS mean_words,
      |  sum(CASE WHEN d.c > 1 THEN 1 ELSE 0 END)::BIGINT AS docs_in_dup_groups
      |FROM t JOIN d USING (h) GROUP BY t.source""".stripMargin))

  /** Token-distribution drift gate: per-source top-5 tokens by
    * |within-group − corpus| relative-frequency divergence (the train/val
    * skew screen). The float score is ORDER-only (two exact i64→f64
    * divisions, a subtraction, an abs — correctly-rounded identically on
    * both engines, token tie-break total-orders the window); the gated
    * output carries the exact counts and the rank, never the float.
    */
  private val driftReport: Q = "x_drift_report" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Quality.driftReport(docs(s, dir), "text", "source", topK = 5),
    """WITH tok AS (SELECT source AS g, t FROM documents,
      |             UNNEST(string_split(trim(text), ' ')) u(t) WHERE t <> ''),
      |pg AS (SELECT g, t, count(*)::BIGINT AS n_group FROM tok GROUP BY 1, 2),
      |corpus AS (SELECT t, sum(n_group)::BIGINT AS n_corpus FROM pg GROUP BY 1),
      |gt AS (SELECT g, sum(n_group)::BIGINT AS ng FROM pg GROUP BY 1),
      |nn AS (SELECT sum(n_corpus)::BIGINT AS nn FROM corpus),
      |scored AS (SELECT pg.g, pg.t, pg.n_group, corpus.n_corpus,
      |    abs(pg.n_group::DOUBLE / gt.ng::DOUBLE - corpus.n_corpus::DOUBLE / nn.nn::DOUBLE) AS score
      |  FROM pg JOIN gt USING (g) JOIN corpus USING (t) CROSS JOIN nn)
      |SELECT g AS source, t AS token, n_group, n_corpus, rank FROM (
      |  SELECT *, row_number() OVER (PARTITION BY g ORDER BY score DESC, t) AS rank
      |  FROM scored) WHERE rank <= 5""".stripMargin))

  /** Corpus-unigram-LM quality score gate: the fold runs in sorted-token
    * order on both engines, so the double sum is bit-reproducible (an
    * arbitrary-order `sum()` would not be).
    */
  private val textUnigramLm: Q = "x_text_unigram_lm" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.UnigramLm.scoreDocs(docs(s, dir), "doc_id", "text"),
    """WITH tok AS (SELECT doc_id, t FROM documents,
      |             UNNEST(string_split(trim(text), ' ')) u(t) WHERE t <> ''),
      |dt AS (SELECT doc_id, t, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
      |v AS (SELECT t, sum(tf)::BIGINT AS cnt FROM dt GROUP BY 1),
      |n AS (SELECT sum(cnt)::BIGINT AS nn FROM v),
      |l AS (SELECT doc_id, list(struct_pack(t := dt.t, tf := tf, c := cnt) ORDER BY dt.t) AS lst
      |      FROM dt JOIN v USING (t) GROUP BY doc_id)
      |SELECT doc_id, round(
      |  list_reduce(list_prepend(0.0, list_transform(lst, x -> x.tf * ln(x.c::DOUBLE / nn))),
      |              (a, b) -> a + b)
      |  / list_reduce(list_prepend(0::BIGINT, list_transform(lst, x -> x.tf)),
      |                (a, b) -> a + b)::DOUBLE, 6) AS lm_score
      |FROM l, n""".stripMargin))

  /** Train/val/test split-assignment gate: contiguous ranges of the shared
    * content-hash bucket (80/10/10).
    */
  private val splitAssign: Q = "x_split_assign" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.splitAssign(docs(s, dir), col("doc_id"),
        Seq("train" -> 80.0, "val" -> 10.0, "test" -> 10.0))
        .select("doc_id", "split"),
    """SELECT doc_id,
      |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
      |FROM (SELECT doc_id,
      |  ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 10000 AS b FROM documents)""".stripMargin))

  /** Per-source cap gate: at most 10 docs per source, kept in content-hash
    * order — deterministic, so the oracle's row_number replay matches.
    */
  private val sourceCap: Q = "x_source_cap" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.perGroupCap(docs(s, dir), "doc_id", "source", maxPerGroup = 10)
        .select("doc_id", "source"),
    """SELECT doc_id, source FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rk
      |  FROM documents) WHERE rk <= 10""".stripMargin))

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES,
    * content-hash uniforms — [[graft.operators.Mixture.weightedSample]]):
    * 20 docs per source with inclusion probability ∝ n_chars. The oracle
    * replays the exact exponential-key arithmetic; both engines' IEEE
    * doubles make the per-group order identical.
    */
  private val sampleWeighted: Q = "x_sample_weighted" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Mixture.weightedSample(docs(s, dir), "doc_id", col("n_chars"), "source", k = 20)
        .select("doc_id", "source", "n_chars"),
    """SELECT doc_id, source, n_chars FROM (
      |  SELECT doc_id, source, n_chars,
      |    row_number() OVER (PARTITION BY source ORDER BY
      |      -ln((('0x'||substr(md5(doc_id::VARCHAR),1,13))::BIGINT + 1) / 4503599627370498.0)
      |        / n_chars, doc_id) AS rk
      |  FROM documents) WHERE rk <= 20""".stripMargin))

  /** SCD-1 latest-per-key gate: one argmax aggregate vs the oracle's
    * row_number-desc replay. (ts_ms, event_id) totally orders each user's
    * events, so the payload fields after the order prefix are never
    * compared.
    */
  private val upsertLatest: Q = "x_upsert_latest" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"), col("value"))
      Dedup.latestByKey(ev, keys = Seq("user_id"),
        orderCols = Seq("ts_ms", "event_id"), payloadCols = Seq("event_type", "value"))
    },
    """SELECT user_id, ts_ms, event_id, event_type, value FROM (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type, value,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rk
      |  FROM events) WHERE rk = 1""".stripMargin))

  /** STREAMING exact-dedup gate — the streaming twin of the batch distinct:
    * `dropDuplicatesWithinWatermark` over a file stream, AvailableNow, key
    * columns only (first-occurrence payloads are arrival-ordered, the key
    * set is not). All events land in one micro-batch where the running
    * watermark is still 0, so every duplicate collapses and the emitted key
    * set equals batch DISTINCT regardless of file order; state for a key is
    * evicted once the watermark passes its first-seen time + delay — the
    * bounded-state production shape (cross-batch re-emission beyond the
    * watermark window is the operator's documented contract).
    */
  private val stDedup: Q = "st_dedup" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToTimestamp(col("ts")).as("ts"))
      streamedGate(s, "stdedup", ev)(
        plan = mk => mk().withWatermark("ts", "10 minutes")
          .dropDuplicatesWithinWatermark("user_id", "event_type")
          .select("user_id", "event_type"))
    },
    "SELECT DISTINCT user_id, event_type FROM events"))

  /** Salted-JOIN gate (the agg twin is x_skew_salted_agg): events join a
    * 5-row type dimension through the (key, salt) spread — the oracle runs
    * the plain equi-join, so any salt-induced row duplication or loss
    * hash-mismatches immediately.
    */
  private val skewSaltedJoin: Q = "x_skew_salted_join" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"), col("event_type"))
      val dim = ev.select(col("event_type")).distinct()
        .withColumn("type_code", length(col("event_type")))
      graft.operators.Skew.saltedJoin(ev, dim,
        keys = Seq("event_type"), spreadOn = Seq("event_id"), salts = 8)
    },
    """WITH dim AS (SELECT DISTINCT event_type, len(event_type) AS type_code FROM events)
      |SELECT e.event_id, e.event_type, d.type_code
      |FROM events e JOIN dim d USING (event_type)""".stripMargin))

  /** Stateful-shuffle sizing for the stream-join gates: a stream-stream
    * join instantiates FOUR state stores per shuffle partition, so its
    * fixed setup cost scales with the partition count, not the data. At
    * sf0.1 (~2k facts) 8 partitions is the honest size; production sizes
    * this to the cluster exactly like any shuffle. Set before the stream
    * starts (the count is baked into the checkpoint at first run),
    * restored after.
    */
  private[graft] def withStatePartitions[T](s: SparkSession, n: Int)(body: => T): T =
    withConf(s, "spark.sql.shuffle.partitions", n.toString)(body)

  /** `body` with `key` set to `value` on `s`, the old value restored after. */
  private def withConf[T](s: SparkSession, key: String, value: String)(body: => T): T = {
    val prev = s.conf.get(key)
    s.conf.set(key, value)
    try body finally s.conf.set(key, prev)
  }

  /** The `transformWithState` gates: 8 state partitions under the RocksDB
    * state-store provider, which that API requires.
    */
  private def withTwsState[T](s: SparkSession)(body: => T): T =
    withStatePartitions(s, 8)(withConf(s, SQLConf.STATE_STORE_PROVIDER_CLASS.key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body))

  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete(): Unit
  }

  /** Scratch tree for gate scaffolding (staged file topics, streaming
    * checkpoints, throwaway sinks), preferring a tmpfs mount when one is
    * writable. Streaming checkpoint commits are many SMALL fsync-bound
    * writes — offset WAL, commit log, one state delta per store per
    * partition per micro-batch — i.e. exactly the fixed setup cost the
    * sf0.01-vs-sf0.1 decomposition proves dominates these gates (wall
    * ratio ≈ 1.0 at 10× data; see BASELINE.md). Memory-backed scratch
    * removes the disk component of that fixed cost without touching query
    * semantics; production checkpoints belong on durable shared storage,
    * this tree is deleted before the gate returns.
    */
  private def scratchDir(prefix: String): java.nio.file.Path = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (java.nio.file.Files.isDirectory(shm) && java.nio.file.Files.isWritable(shm))
      java.nio.file.Files.createTempDirectory(shm, s"graft-$prefix")
    else java.nio.file.Files.createTempDirectory(s"graft-$prefix")
  }

  /** Stage the FIVE-batch late-data topic layout shared by `st_late_data`,
    * `st_sessionize`, and `st_sliding_counts` (round-14: the late-fixture
    * pattern extended to the stateful twins per the r13 verdict). `lab`
    * must carry `_us` (event-time µs) and `_late` (held-back flag);
    * batches, in guaranteed mtime order (each write is a full job, so
    * consecutive files never tie at ms precision):
    *   b0 on-time OLD rows (< recentUs, not held back) — sets the filter
    *      watermark; b1 on-time RECENT rows — ages b0's watermark into the
    *      late filter (the filter runs one batch behind, see st_late_data);
    *   b2 the held-back LATE rows (old sample → beyond watermark, recent
    *      sample → within); b3 post-cut rows; b4 the flush sentinel.
    */
  private def stageLateTopic(
      lab: DataFrame,
      outCols: Seq[org.apache.spark.sql.Column],
      recentUs: Long,
      cutUs: Long,
      sentinel: DataFrame,
      tmp: String): Unit = {
    def stageBatch(df: DataFrame, mode: String): Unit =
      df.select(outCols: _*).repartition(1).write.mode(mode).parquet(s"$tmp/topic")
    stageBatch(lab.where(!col("_late") && col("_us") < recentUs), "errorifexists")
    stageBatch(lab.where(!col("_late") && col("_us") >= recentUs && col("_us") < cutUs), "append")
    stageBatch(lab.where(col("_late")), "append")
    stageBatch(lab.where(col("_us") >= cutUs), "append")
    sentinel.repartition(1).write.mode("append").parquet(s"$tmp/topic")
  }

  /** The scratch tree of one gate (staged topics, checkpoints, throwaway
    * sinks and tables): `body` gets the tree's path, its result is
    * MATERIALIZED (eager localCheckpoint) and the tree is deleted on
    * success and on failure, so /tmp stays flat across Verify/Bench
    * iterations.
    */
  private[graft] def scratchTree(prefix: String)(body: String => DataFrame): DataFrame = {
    val tmpPath = scratchDir(prefix)
    try body(tmpPath.toString).localCheckpoint(true)
    finally rmTree(tmpPath.toFile)
  }

  /** Run one `Trigger.AvailableNow` query to the end of its input and stop,
    * checkpointed at `<tmp>/ckpt` — the subscribe idiom's bounded run. `w`
    * carries the caller's sink and output mode.
    */
  private def runToEnd(tmp: String)(w: DataStreamWriter[Row]): Unit =
    w.trigger(Trigger.AvailableNow()).option("checkpointLocation", s"$tmp/ckpt")
      .start().awaitTermination()

  /** Per-batch state fold: `step` maps each micro-batch of `stream` to its
    * state rows, written OVERWRITE to `<tmp>/state/batch_id=<id>` — a
    * replayed batch replaces its own output, so the fold is idempotent
    * under foreachBatch's at-least-once crash replay. The state dir is
    * seeded at `batch_id=-1` with `step` of an empty frame of the topic
    * schema, so the read-back never hits a missing path. Returns every
    * batch's state rows, without `batch_id`; merging them is the caller's.
    */
  private def foldBatches(tmp: String, stream: DataFrame)(step: DataFrame => DataFrame): DataFrame = {
    val s = stream.sparkSession
    step(s.createDataFrame(java.util.List.of[Row](), stream.schema))
      .withColumn("batch_id", lit(-1L))
      .write.partitionBy("batch_id").parquet(s"$tmp/state")
    runToEnd(tmp)(stream.writeStream.foreachBatch { (batch: Dataset[Row], id: Long) =>
      step(batch.toDF()).write.mode("overwrite").parquet(s"$tmp/state/batch_id=$id")
    })
    s.read.parquet(s"$tmp/state").drop("batch_id")
  }

  /** ONE streaming-gate scaffold for every file-stream gate (the review
    * found six hand-copied variants, each leaking its temp topic +
    * checkpoint per run): stage `topic` (plus optional sentinel `append`
    * rows) as a bounded file topic, run `plan(stream)` through an
    * AvailableNow parquet sink, post-process, then materialize the result
    * so the whole scratch tree can be deleted before returning.
    */
  private[graft] def streamedGate(
      s: SparkSession,
      prefix: String,
      topic: DataFrame,
      append: Option[DataFrame] = None)(
      // a FACTORY, not a DataFrame: the stream-stream join gates need two
      // INDEPENDENT source instances — deriving both join sides from one
      // shared streaming relation suppresses the left-outer null flush
      // (measured: the outer gate emits only the inner rows)
      plan: (() => DataFrame) => DataFrame,
      post: DataFrame => DataFrame = identity): DataFrame = scratchTree(prefix) { tmp =>
    // Stage the topic as 8 files: a compact single-file staging write
    // would hand micro-batch ONE a single input split, serializing the
    // pre-shuffle map work of every stateful plan behind one core.
    topic.repartition(8).write.parquet(s"$tmp/topic")
    append.foreach(_.write.mode("append").parquet(s"$tmp/topic"))
    val mkStream = () => s.readStream.schema(topic.schema).parquet(s"$tmp/topic")
    runToEnd(tmp)(plan(mkStream).writeStream.outputMode("append")
      .format("parquet").option("path", s"$tmp/out"))
    post(s.read.parquet(s"$tmp/out"))
  }

  // DuckDB vector SQL shared by the embedding oracles (strict left folds in
  // DOUBLE from 0.0).
  private def dotSql(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a,$b), x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,v)->acc+v)"
  private def nrmSql(v: String) =
    s"sqrt(list_reduce(list_prepend(0.0, list_transform($v, x -> x::DOUBLE * x::DOUBLE)), (a,b)->a+b))"
  private def l2Sql(a: String, b: String) =
    s"list_reduce(list_prepend(0.0, list_transform(list_zip($a,$b), " +
      s"x -> (x[1]::DOUBLE - x[2]::DOUBLE) * (x[1]::DOUBLE - x[2]::DOUBLE))), (acc,v)->acc+v)"
  /** Cosine of relations `a` and `b`, each carrying `embedding` and its `nrm`. */
  private def pairCosSql(a: String, b: String) =
    s"${dotSql(s"$a.embedding", s"$b.embedding")}/($a.nrm*$b.nrm)"

  /** STREAM-STREAM interval join gate: purchases attribute to same-user
    * signups within a 3-day window, run as a watermarked streaming
    * self-join (both sides buffered in the state store, eviction bounded by
    * the interval), gated against the batch join oracle. Inner stream-stream
    * joins emit eagerly, so the single AvailableNow batch yields exactly the
    * batch result; the native-timestamp interval comparison is µs-exact on
    * both engines.
    */
  private val stJoinInterval: Q = "st_join_interval" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToTimestamp(col("ts")).as("ts"))
      streamedGate(s, "stjoin", ev)(plan = mk => {
        val facts = mk().where(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
        val dims = mk().where(col("event_type") === "signup")
          .select(col("user_id"), col("event_id").as("s_id"), col("ts").as("s_ts"))
        graft.streaming.StreamJoins.intervalJoin(facts, dims,
            key = "user_id", factTs = "p_ts", dimTs = "s_ts",
            maxSpanMs = 3L * 86400000L)
          .select(col("user_id"), col("p_id"), col("s_id"),
            unix_millis(col("p_ts")).as("p_ms"), unix_millis(col("s_ts")).as("s_ms"))
      })
    },
    """SELECT p.user_id, p.event_id AS p_id, s.event_id AS s_id,
      |  epoch_ms(p.ts) AS p_ms, epoch_ms(s.ts) AS s_ms
      |FROM events p JOIN events s ON p.user_id = s.user_id
      | AND p.event_type = 'purchase' AND s.event_type = 'signup'
      | AND s.ts <= p.ts AND p.ts <= s.ts + INTERVAL 3 DAY""".stripMargin))

  /** LEFT-OUTER twin of [[stJoinInterval]] — the semantically hard case:
    * a fact's null-padded row may only emit once both watermarks pass its
    * match horizon, so a bounded run NEEDS the sentinel push (far-future
    * purchase+signup rows, filtered key) or every tail fact's outer row
    * stays buffered forever. Gated against the batch LEFT JOIN — any
    * premature or missing null emission hash-mismatches.
    */
  private val stJoinIntervalLeft: Q = "st_join_interval_left" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      import s.implicits._
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToTimestamp(col("ts")).as("ts"))
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      val far = new java.sql.Timestamp(maxTs.getTime + 3L * 86400000L + 2L * 3600 * 1000L)
      val sentinel = Seq((-1L, -1L, "purchase", far), (-2L, -2L, "signup", far))
        .toDF("event_id", "user_id", "event_type", "ts")
      streamedGate(s, "stjoinl", ev, Some(sentinel))(
        plan = mk => {
          val facts = mk().where(col("event_type") === "purchase")
            .select(col("user_id"), col("event_id").as("p_id"), col("ts").as("p_ts"))
          val dims = mk().where(col("event_type") === "signup")
            .select(col("user_id"), col("event_id").as("s_id"), col("ts").as("s_ts"))
          graft.streaming.StreamJoins.intervalJoin(facts, dims,
              key = "user_id", factTs = "p_ts", dimTs = "s_ts",
              maxSpanMs = 3L * 86400000L, joinType = "left_outer")
            .select(col("user_id"), col("p_id"), col("s_id"),
              unix_millis(col("p_ts")).as("p_ms"), unix_millis(col("s_ts")).as("s_ms"))
        },
        post = _.where(col("user_id") >= 0))
    },
    """SELECT p.user_id, p.event_id AS p_id, s.event_id AS s_id,
      |  epoch_ms(p.ts) AS p_ms, epoch_ms(s.ts) AS s_ms
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      |ON p.user_id = s.user_id AND s.ts <= p.ts AND p.ts <= s.ts + INTERVAL 3 DAY""".stripMargin))

  /** NFC canonicalization gate: the corpus is ASCII, so decomposed/composed
    * sequences are planted deterministically from doc_id (combining acute /
    * ring / diaeresis, plus one already-composed no-op row); lengths before
    * and after prove the merge happened. Both engines implement Unicode NFC
    * — implementation-independent by spec — so the oracle's `nfc_normalize`
    * replays the expression exactly.
    */
  private val textNfc: Q = "x_text_nfc" -> ((
    (s: SparkSession, dir: String) => {
      // Decomposed base+combining-mark pairs (escapes keep the source
      // ASCII): e+U+0301, a+U+030A, o+U+0308; the else branch is the
      // already-composed U+00E9 (the fast-path no-op row).
      val dec = when(col("doc_id") % 4 === 0, lit("e\u0301"))
        .when(col("doc_id") % 4 === 1, lit("a\u030A"))
        .when(col("doc_id") % 4 === 2, lit("o\u0308"))
        .otherwise(lit("\u00E9"))
      val t = concat(col("text"), lit(" x"), dec)
      docs(s, dir).select(col("doc_id"),
        graft.functions.Conversions.nfcNormalize(t).as("nfc_text"),
        length(t).as("len_raw"),
        length(graft.functions.Conversions.nfcNormalize(t)).as("len_nfc"))
    },
    """WITH aug AS (SELECT doc_id, text || ' x' ||
      |  CASE doc_id % 4 WHEN 0 THEN 'e' || chr(769)
      |                  WHEN 1 THEN 'a' || chr(778)
      |                  WHEN 2 THEN 'o' || chr(776)
      |                  ELSE chr(233) END AS t
      |  FROM documents)
      |SELECT doc_id, nfc_normalize(t) AS nfc_text,
      |  length(t)::INT AS len_raw, length(nfc_normalize(t))::INT AS len_nfc
      |FROM aug""".stripMargin))

  /** JL sign-projection gate: 64-dim float embeddings down to 8 dims with
    * the content-addressed ±1 matrix (md5 nibble parity, regenerated
    * identically by the oracle) — strict in-order folds make the projected
    * doubles bit-exact across engines, no rounding needed. The gate emits
    * one SCALAR row per (vec_id, dim_idx) via posexplode rather than the
    * raw array column: the driver's pandas-based checker sorts/hashes
    * column values and cannot factorize an ndarray cell, so the array
    * shape errs in the harness even when values are identical. Scalar rows
    * carry the exact same doubles — the bit-exactness claim is unchanged.
    */
  private val embProject: Q = "x_emb_project" -> ((
    (s: SparkSession, dir: String) =>
      emb(s, dir).select(col("vec_id"),
          posexplode(Similarity.randomProject(col("embedding"), dIn = 64, dOut = 8)))
        .select(col("vec_id"), col("pos").as("dim_idx"), col("col").as("value")),
    """WITH sgn AS (SELECT j, i,
      |    CASE WHEN ('0x'||substr(md5(j||'_'||i),1,1))::INT % 2 = 0
      |         THEN 1.0 ELSE -1.0 END AS s
      |  FROM UNNEST(range(0,8)) a(j), UNNEST(range(0,64)) b(i)),
      |terms AS (SELECT e.vec_id, g.j, g.i, e.embedding[g.i+1]::DOUBLE * g.s AS t
      |  FROM embeddings e, sgn g),
      |proj AS (SELECT vec_id, j,
      |    list_reduce(list_prepend(0.0, list(t ORDER BY i)), (a,b)->a+b) / sqrt(8) AS p
      |  FROM terms GROUP BY vec_id, j)
      |SELECT vec_id, j::INT AS dim_idx, p AS value FROM proj""".stripMargin))

  /** int8 scalar-quantization gate: codes are integers (bit-exact across
    * engines by the explicit floor(+0.5) formula), and the dequantization
    * error contract rides as a boolean the oracle checks literally —
    * scalar rows per (vec_id, dim_idx), the checker-safe shape.
    */
  private val embQuantize: Q = "x_emb_quantize" -> ((
    (s: SparkSession, dir: String) => {
      val q = Similarity.quantizeInt8(col("embedding"))
      emb(s, dir)
        .select(col("vec_id"), q.as("q"),
          transform(col("embedding"), x => x.cast("double")).as("vd"))
        .select(col("vec_id"), col("q"), col("vd"), posexplode(col("q.codes")))
        .select(col("vec_id"), col("pos").as("dim_idx"), col("col").as("code"),
          (abs(col("q.mn") + col("col").cast("double") * col("q.scale")
            - element_at(col("vd"), col("pos") + 1)) <= col("q.scale") * 0.5000001)
            .as("within_bound"))
    },
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) vd FROM embeddings),
      |p AS (SELECT vec_id, vd, list_min(vd) mn,
      |        (list_max(vd) - list_min(vd)) / 255.0 AS scale FROM v),
      |e AS (SELECT vec_id, mn, scale, vd, (i-1)::INT AS dim_idx,
      |        (CASE WHEN scale = 0 THEN 0
      |              ELSE floor((vd[i] - mn) / scale + 0.5) END)::INT AS code
      |      FROM p, UNNEST(range(1, len(vd)+1)) t(i))
      |SELECT vec_id, dim_idx, code,
      |  abs(mn + code::DOUBLE * scale - vd[dim_idx+1]) <= scale * 0.5000001 AS within_bound
      |FROM e""".stripMargin))

  /** URL canonicalization gate: deterministic synthetic URLs from doc_id
    * (mixed case, userinfo, default and explicit ports, fragments,
    * two-level public suffixes, a non-URL row), host/registrable-domain/
    * normalized-URL replayed step-for-step by the oracle's RE2 regexes.
    */
  /** The two-level-suffix IN-list generated from the ONE Scala constant
    * (`UrlOps.twoLevelSuffixes`) — hand-copied SQL lists drift.
    */
  private lazy val suffixInListSql: String =
    graft.functions.UrlOps.twoLevelSuffixes.map(x => s"'$x'").mkString(",")

  /** Shared synthetic URL fixture: SQL and Column twins of the same
    * per-doc CASE (mixed case, userinfo, default and explicit ports,
    * fragments, two-level public suffixes, a non-URL row).
    */
  private lazy val urlFixtureSql: String =
    """CASE doc_id % 7
      |  WHEN 0 THEN 'https://Example.COM/path/' || doc_id
      |  WHEN 1 THEN 'http://sub.shop.co.uk:80/item?id=' || doc_id || '#frag'
      |  WHEN 2 THEN 'https://cdn.example.com:443/assets/' || doc_id
      |  WHEN 3 THEN 'http://user:pw@www.data.org:8080/x/' || doc_id
      |  WHEN 4 THEN 'https://no-path.io?q=' || doc_id
      |  WHEN 5 THEN 'ftp://files.example.net/pub/' || doc_id
      |  ELSE 'not a url ' || doc_id END""".stripMargin

  private def urlFixtureCol: org.apache.spark.sql.Column =
    when(col("doc_id") % 7 === 0, concat(lit("https://Example.COM/path/"), col("doc_id")))
      .when(col("doc_id") % 7 === 1, concat(lit("http://sub.shop.co.uk:80/item?id="), col("doc_id"), lit("#frag")))
      .when(col("doc_id") % 7 === 2, concat(lit("https://cdn.example.com:443/assets/"), col("doc_id")))
      .when(col("doc_id") % 7 === 3, concat(lit("http://user:pw@www.data.org:8080/x/"), col("doc_id")))
      .when(col("doc_id") % 7 === 4, concat(lit("https://no-path.io?q="), col("doc_id")))
      .when(col("doc_id") % 7 === 5, concat(lit("ftp://files.example.net/pub/"), col("doc_id")))
      .otherwise(concat(lit("not a url "), col("doc_id")))

  private val urlOps: Q = {
    val urlSql = urlFixtureSql
    "x_url_ops" -> ((
      (s: SparkSession, dir: String) => {
        val url = urlFixtureCol
        docs(s, dir).select(col("doc_id"),
          graft.functions.UrlOps.urlHost(url).as("host"),
          graft.functions.UrlOps.registrableDomain(graft.functions.UrlOps.urlHost(url)).as("domain"),
          graft.functions.UrlOps.urlNormalize(url).as("norm_url"))
      },
      s"""WITH u AS (SELECT doc_id, $urlSql AS url FROM documents),
         |h AS (SELECT doc_id, url,
         |  nullif(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#]+)', 1)), '') AS host,
         |  nullif(lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)), '') AS scheme,
         |  lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/?#]*)', 1)) AS hostport,
         |  regexp_replace(regexp_replace(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*', ''), '#.*$$', '') AS rest
         |  FROM u),
         |d AS (SELECT *, regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS two,
         |               regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) AS three FROM h)
         |SELECT doc_id, host,
         |  CASE WHEN host IS NULL THEN NULL
         |       WHEN two IN ($suffixInListSql)
         |            AND three <> '' THEN three
         |       WHEN two <> '' THEN two ELSE host END AS domain,
         |  CASE WHEN scheme IS NULL THEN NULL
         |       ELSE scheme || '://' ||
         |         (CASE WHEN scheme = 'http' THEN regexp_replace(hostport, ':80$$', '')
         |               WHEN scheme = 'https' THEN regexp_replace(hostport, ':443$$', '')
         |               ELSE hostport END) ||
         |         (CASE WHEN rest = '' THEN '/'
         |               WHEN rest LIKE '?%' THEN '/' || rest ELSE rest END)
         |  END AS norm_url
         |FROM d""".stripMargin))
  }

  /** Domain-blocklist gate: the broadcast anti-join gatekeeper over the
    * shared URL fixture — subdomains fall to their registrable domain's
    * entry, the blocklist is case-normalized, and non-URL rows (null
    * domain) pass through (a blocklist drops KNOWN-bad, it never
    * adjudicates unparseable rows).
    */
  private lazy val urlBlocklist: Q = "x_url_blocklist" -> ((
    (s: SparkSession, dir: String) => {
      import s.implicits._
      val block = Seq("shop.co.uk", "EXAMPLE.NET").toDF("domain")
      graft.functions.UrlOps.filterBlockedDomains(
          docs(s, dir).withColumn("_url", urlFixtureCol), col("_url"), block, "domain")
        .select("doc_id", "source")
    },
    s"""WITH u AS (SELECT doc_id, source, $urlFixtureSql AS url FROM documents),
       |h AS (SELECT doc_id, source,
       |  nullif(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#]*@)?([^/:?#]+)', 1)), '') AS host
       |  FROM u),
       |d AS (SELECT *, regexp_extract(host, '([^.]+\\.[^.]+)$$', 1) AS two,
       |               regexp_extract(host, '([^.]+\\.[^.]+\\.[^.]+)$$', 1) AS three FROM h),
       |dom AS (SELECT doc_id, source,
       |  CASE WHEN host IS NULL THEN NULL
       |       WHEN two IN ($suffixInListSql)
       |            AND three <> '' THEN three
       |       WHEN two <> '' THEN two ELSE host END AS domain
       |  FROM d)
       |SELECT doc_id, source FROM dom
       |WHERE domain IS NULL OR domain NOT IN ('shop.co.uk', 'example.net')""".stripMargin))

  /** Incremental embedding near-dup gate: vectors with `vec_id % 5 == 0`
    * play the new daily batch probing the persisted sign-band index of the
    * rest; output = pairs with ≥1 new member, exact-cosine verified. The
    * oracle replays bands + union-counted caps + the new-member filter +
    * verify — old×old pairs are absent from BOTH engines by construction.
    */
  private val dedupEmbeddingIncr: Q = {
    val bands = 16; val rows = 4
    val bandSelects = (0 until bands).map { b =>
      val bucket = (0 until rows)
        .map(r => s"CASE WHEN embedding[${b * rows + r + 1}] > 0 THEN ${1L << r} ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, label, $b AS band, ($bucket)::BIGINT AS bucket FROM n"
    }.mkString(" UNION ALL ")
    "x_dedup_embedding_incr" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val newBatch = e.where(col("vec_id") % 5 === 0)
        val idx = Dedup.embeddingBands(e.where(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", "label", dims = 64, bands = bands)
        Dedup.embeddingPairsIncremental(newBatch, idx, e, "vec_id", "embedding", "label",
          threshold = 0.4, dims = 64, bands = bands)
      },
      s"""WITH n AS (SELECT vec_id, label, embedding,
         |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
         |       (a,b)->a+b)) nrm FROM embeddings),
         |banded AS ($bandSelects),
         |q AS (SELECT label, band, bucket FROM banded
         |      GROUP BY 1,2,3 HAVING count(*) > 1 AND count(*) <= 1000),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.label=b.label AND a.band=b.band AND a.bucket=b.bucket AND a.vec_id < b.vec_id
         |  JOIN q ON q.label=a.label AND q.band=a.band AND q.bucket=a.bucket
         |  WHERE a.vec_id % 5 = 0 OR b.vec_id % 5 = 0)
         |SELECT id_a, id_b, ${pairCosSql("na", "nb")} AS cosine
         |FROM cand JOIN n na ON na.vec_id = id_a JOIN n nb ON nb.vec_id = id_b
         |WHERE ${pairCosSql("na", "nb")} > 0.4""".stripMargin))
  }

  /** PMI collocation gate: top-30 adjacent word pairs by pointwise mutual
    * information (min pair count 5). The oracle rebuilds bigrams from
    * 1-based positions; pmi is rounded to 4 decimals on both sides (libm
    * ln differs in the last ULP across engines).
    */
  private val textCollocations: Q = "x_text_collocations" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Collocations.pmiBigrams(docs(s, dir), "text", minCount = 5L, topK = 30),
    """WITH ws AS (SELECT string_split(trim(text),' ') AS ws FROM documents),
      |uni AS (SELECT w, count(*)::BIGINT AS c
      |  FROM (SELECT unnest(ws) AS w FROM ws) GROUP BY w),
      |tot AS (SELECT sum(c)::DOUBLE AS n FROM uni),
      |bi AS (SELECT ws[i] AS w1, ws[i+1] AS w2, count(*)::BIGINT AS c12
      |  FROM ws, UNNEST(range(1, len(ws))) t(i) GROUP BY ws[i], ws[i+1]),
      |btot AS (SELECT sum(c12)::DOUBLE AS b FROM bi),
      |p AS (SELECT w1, w2, c12,
      |    round(ln(c12 * n * n / (b * u1.c * u2.c)), 4) AS pmi
      |  FROM bi JOIN uni u1 ON u1.w = bi.w1 JOIN uni u2 ON u2.w = bi.w2, tot, btot
      |  WHERE c12 >= 5)
      |SELECT w1, w2, c12, pmi, rank FROM
      |  (SELECT *, row_number() OVER (ORDER BY pmi DESC, w1, w2) AS rank FROM p)
      |WHERE rank <= 30""".stripMargin))

  /** Product-quantization ANN gate: train m=4 sub-codebooks (k=4, 2 Lloyd
    * rounds, content-hash seeds), PQ-encode the corpus, then ADC top-5 for
    * the first ten vectors. The oracle replays the whole thing with the
    * subspace as a DATA column (one relational Lloyd, unrolled per
    * iteration like x_ann_kmeans) — adist rounded to 4 decimals on both
    * sides to absorb the mean-aggregation's addition-order ULP wiggle.
    */
  private val annPq: Q = {
    val m = 4; val subDim = 16; val kc = 4; val iters = 2; val topk = 5
    val rounds = (0 until iters).map { i =>
      s"""a$i AS (SELECT s.vec_id, s.sub, s.svec, c.cid, ${l2Sql("s.svec", "c.svec")} AS d
         |  FROM sub s JOIN cb$i c USING (sub)),
         |r$i AS (SELECT vec_id, sub, svec, cid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) rn FROM a$i)
         |  WHERE rn = 1),
         |x$i AS (SELECT sub, cid, u.i, svec[u.i]::DOUBLE AS x
         |  FROM r$i, UNNEST(range(1, ${subDim + 1})) u(i)),
         |cb${i + 1} AS (SELECT sub, cid, list(mn ORDER BY i) AS svec FROM
         |  (SELECT sub, cid, i, sum(x)/count(*) AS mn FROM x$i GROUP BY sub, cid, i)
         |  GROUP BY sub, cid)""".stripMargin
    }.mkString(",\n")
    val sql =
      s"""WITH sub AS (SELECT vec_id, t.s AS sub,
         |    embedding[t.s*$subDim+1 : t.s*$subDim+$subDim] AS svec
         |  FROM embeddings, UNNEST(range(0, $m)) t(s)),
         |cb0 AS (SELECT sub, rn - 1 AS cid, svec FROM
         |  (SELECT sub, svec, row_number() OVER (PARTITION BY sub
         |     ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn FROM sub)
         |  WHERE rn <= $kc),
         |$rounds,
         |af AS (SELECT s.vec_id, s.sub, c.cid, ${l2Sql("s.svec", "c.svec")} AS d
         |  FROM sub s JOIN cb$iters c USING (sub)),
         |codes AS (SELECT vec_id, sub, cid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) rn FROM af)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, sub, svec FROM sub WHERE vec_id < 10),
         |dt AS (SELECT q.query_id, c.sub, c.cid, ${l2Sql("q.svec", "c.svec")} AS d
         |  FROM q JOIN cb$iters c USING (sub)),
         |p AS (SELECT d.query_id, r.vec_id AS neighbor_id,
         |    round(list_reduce(list_prepend(0.0, list(d.d ORDER BY d.sub)), (a,b)->a+b), 4) AS adist
         |  FROM codes r JOIN dt d ON d.sub = r.sub AND d.cid = r.cid AND d.query_id <> r.vec_id
         |  GROUP BY d.query_id, r.vec_id)
         |SELECT query_id, neighbor_id, rank, adist FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
         |   FROM p)
         |WHERE rank <= $topk""".stripMargin
    "x_ann_pq" -> ((
      (s: SparkSession, dir: String) => {
        val e = emb(s, dir)
        val cb = Similarity.pqTrain(e, "vec_id", "embedding", m, subDim, kc, iters)
        val enc = Similarity.pqEncode(e, cb, "vec_id", "embedding", m, subDim)
        Similarity.pqTopK(e.where(col("vec_id") < 10), enc, cb,
          "vec_id", "embedding", topk, m, subDim)
      },
      sql))
  }

  /** IVF-PQ composition gate: cosine coarse quantizer (1 Lloyd round, the
    * training math is already gated by x_ann_kmeans) prunes to nProbe=2
    * cells; L2 PQ codebooks (1 round; gated by x_ann_pq) encode; ADC ranks.
    * The oracle replays BOTH training loops plus the pruned probe in one
    * WITH chain (kmeans CTEs k-prefixed, PQ CTEs p-prefixed).
    */
  private lazy val annIvfPq: Q = {
    val sql =
      s"""WITH emb AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm FROM embeddings),
         |kc0 AS (SELECT vec_id AS cid, embedding AS vec, ${nrmSql("embedding")} AS cnrm
         |  FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 4),
         |ka0 AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.vec")} / (e.nrm * c.cnrm) AS cs
         |  FROM emb e, kc0 c),
         |kr0 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) rn FROM ka0) WHERE rn = 1),
         |kx0 AS (SELECT r.cid, u.i, e.embedding[u.i]::DOUBLE AS x
         |  FROM kr0 r JOIN emb e USING (vec_id), UNNEST(range(1, 65)) u(i)),
         |km0 AS (SELECT cid, list(mn ORDER BY i) AS vec FROM
         |  (SELECT cid, i, sum(x)/count(*) AS mn FROM kx0 GROUP BY cid, i) GROUP BY cid),
         |kc1 AS (SELECT cid, vec, ${nrmSql("vec")} AS cnrm FROM
         |  (SELECT cid, list_transform(vec, x -> x / n) AS vec FROM
         |    (SELECT cid, vec, ${nrmSql("vec")} AS n FROM km0))),
         |kaf AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.vec")} / (e.nrm * c.cnrm) AS cs
         |  FROM emb e, kc1 c),
         |krf AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) rn FROM kaf) WHERE rn = 1),
         |sub AS (SELECT vec_id, t.s AS sub, embedding[t.s*16+1 : t.s*16+16] AS svec
         |  FROM embeddings, UNNEST(range(0, 4)) t(s)),
         |pcb0 AS (SELECT sub, rn - 1 AS cid, svec FROM
         |  (SELECT sub, svec, row_number() OVER (PARTITION BY sub
         |     ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn FROM sub) WHERE rn <= 4),
         |pa0 AS (SELECT s.vec_id, s.sub, s.svec, c.cid, ${l2Sql("s.svec", "c.svec")} AS d
         |  FROM sub s JOIN pcb0 c USING (sub)),
         |pr0 AS (SELECT vec_id, sub, svec, cid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) rn FROM pa0)
         |  WHERE rn = 1),
         |px0 AS (SELECT sub, cid, u.i, svec[u.i]::DOUBLE AS x FROM pr0, UNNEST(range(1, 17)) u(i)),
         |pcb1 AS (SELECT sub, cid, list(mn ORDER BY i) AS svec FROM
         |  (SELECT sub, cid, i, sum(x)/count(*) AS mn FROM px0 GROUP BY sub, cid, i)
         |  GROUP BY sub, cid),
         |paf AS (SELECT s.vec_id, s.sub, c.cid, ${l2Sql("s.svec", "c.svec")} AS d
         |  FROM sub s JOIN pcb1 c USING (sub)),
         |pcodes AS (SELECT vec_id, sub, cid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) rn FROM paf)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding, nrm FROM emb WHERE vec_id < 10),
         |probes AS (SELECT query_id, cid FROM (SELECT q.query_id, c.cid,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${dotSql("q.embedding", "c.vec")} / (q.nrm * c.cnrm) DESC, c.cid) rn
         |  FROM q, kc1 c) WHERE rn <= 2),
         |qsub AS (SELECT vec_id AS query_id, sub, svec FROM sub WHERE vec_id < 10),
         |dt AS (SELECT qs.query_id, c.sub, c.cid AS code, ${l2Sql("qs.svec", "c.svec")} AS d
         |  FROM qsub qs JOIN pcb1 c USING (sub)),
         |cand AS (SELECT p.query_id, r.vec_id AS neighbor_id, pc.sub, pc.cid AS code
         |  FROM krf r JOIN probes p ON p.cid = r.cid JOIN pcodes pc ON pc.vec_id = r.vec_id
         |  WHERE p.query_id <> r.vec_id),
         |sc AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_reduce(list_prepend(0.0, list(dt.d ORDER BY dt.sub)), (a,b)->a+b), 4) AS adist
         |  FROM cand c JOIN dt ON dt.query_id = c.query_id AND dt.sub = c.sub AND dt.code = c.code
         |  GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, rank, adist FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
         |   FROM sc)
         |WHERE rank <= 5""".stripMargin
    "x_ann_ivfpq" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.topKIvfPq(emb(s, dir).where(col("vec_id") < 10), emb(s, dir),
          "vec_id", "embedding", k = 5, kCells = 4, lloydIters = 1, nProbe = 2,
          m = 4, subDim = 16, pqK = 4, pqIters = 1),
      sql))
  }

  /** Residual IVF-PQ gate — the FAISS-style refinement of x_ann_ivfpq: PQ
    * codebooks train on residuals `x − c(cell(x))`, and each probed cell
    * gets its own query-residual distance table. Oracle extends the
    * combined CTE chain with residual construction (res/rsub/q-prefixed
    * codebooks) and a (query, cell)-keyed dt.
    */
  private lazy val annIvfPqResidual: Q = {
    def subSql(a: String, b: String) =
      s"list_transform(list_zip($a,$b), x -> x[1]::DOUBLE - x[2]::DOUBLE)"
    val sql =
      s"""WITH emb AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm FROM embeddings),
         |kc0 AS (SELECT vec_id AS cid, embedding AS vec, ${nrmSql("embedding")} AS cnrm
         |  FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT 4),
         |ka0 AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.vec")} / (e.nrm * c.cnrm) AS cs
         |  FROM emb e, kc0 c),
         |kr0 AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) rn FROM ka0) WHERE rn = 1),
         |kx0 AS (SELECT r.cid, u.i, e.embedding[u.i]::DOUBLE AS x
         |  FROM kr0 r JOIN emb e USING (vec_id), UNNEST(range(1, 65)) u(i)),
         |km0 AS (SELECT cid, list(mn ORDER BY i) AS vec FROM
         |  (SELECT cid, i, sum(x)/count(*) AS mn FROM kx0 GROUP BY cid, i) GROUP BY cid),
         |kc1 AS (SELECT cid, vec, ${nrmSql("vec")} AS cnrm FROM
         |  (SELECT cid, list_transform(vec, x -> x / n) AS vec FROM
         |    (SELECT cid, vec, ${nrmSql("vec")} AS n FROM km0))),
         |kaf AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.vec")} / (e.nrm * c.cnrm) AS cs
         |  FROM emb e, kc1 c),
         |krf AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) rn FROM kaf) WHERE rn = 1),
         |res AS (SELECT r.vec_id, r.cid, ${subSql("e.embedding", "c.vec")} AS rvec
         |  FROM krf r JOIN emb e USING (vec_id) JOIN kc1 c USING (cid)),
         |rsub AS (SELECT vec_id, cid, t.s AS sub, rvec[t.s*16+1 : t.s*16+16] AS svec
         |  FROM res, UNNEST(range(0, 4)) t(s)),
         |qcb0 AS (SELECT sub, rn - 1 AS cid, svec FROM
         |  (SELECT sub, svec, row_number() OVER (PARTITION BY sub
         |     ORDER BY md5(vec_id::VARCHAR), vec_id) AS rn FROM rsub) WHERE rn <= 4),
         |qa0 AS (SELECT s.vec_id, s.sub, s.svec, c.cid, ${l2Sql("s.svec", "c.svec")} AS d
         |  FROM rsub s JOIN qcb0 c USING (sub)),
         |qr0 AS (SELECT vec_id, sub, svec, cid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) rn FROM qa0)
         |  WHERE rn = 1),
         |qx0 AS (SELECT sub, cid, u.i, svec[u.i]::DOUBLE AS x FROM qr0, UNNEST(range(1, 17)) u(i)),
         |qcb1 AS (SELECT sub, cid, list(mn ORDER BY i) AS svec FROM
         |  (SELECT sub, cid, i, sum(x)/count(*) AS mn FROM qx0 GROUP BY sub, cid, i)
         |  GROUP BY sub, cid),
         |qaf AS (SELECT s.vec_id, s.sub, c.cid, ${l2Sql("s.svec", "c.svec")} AS d
         |  FROM rsub s JOIN qcb1 c USING (sub)),
         |qcodes AS (SELECT vec_id, sub, cid FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cid) rn FROM qaf)
         |  WHERE rn = 1),
         |q AS (SELECT vec_id AS query_id, embedding, nrm FROM emb WHERE vec_id < 10),
         |probes AS (SELECT query_id, cid FROM (SELECT q.query_id, c.cid,
         |    row_number() OVER (PARTITION BY q.query_id
         |      ORDER BY ${dotSql("q.embedding", "c.vec")} / (q.nrm * c.cnrm) DESC, c.cid) rn
         |  FROM q, kc1 c) WHERE rn <= 2),
         |qres AS (SELECT p.query_id, p.cid, ${subSql("e.embedding", "c.vec")} AS rq
         |  FROM probes p JOIN emb e ON e.vec_id = p.query_id JOIN kc1 c USING (cid)),
         |qrsub AS (SELECT query_id, cid, t.s AS sub, rq[t.s*16+1 : t.s*16+16] AS svec
         |  FROM qres, UNNEST(range(0, 4)) t(s)),
         |dt AS (SELECT qs.query_id, qs.cid, c.sub, c.cid AS code, ${l2Sql("qs.svec", "c.svec")} AS d
         |  FROM qrsub qs JOIN qcb1 c USING (sub)),
         |cand AS (SELECT p.query_id, p.cid, r.vec_id AS neighbor_id, pc.sub, pc.cid AS code
         |  FROM krf r JOIN probes p ON p.cid = r.cid JOIN qcodes pc ON pc.vec_id = r.vec_id
         |  WHERE p.query_id <> r.vec_id),
         |sc AS (SELECT c.query_id, c.neighbor_id,
         |    round(list_reduce(list_prepend(0.0, list(dt.d ORDER BY dt.sub)), (a,b)->a+b), 4) AS adist
         |  FROM cand c JOIN dt ON dt.query_id = c.query_id AND dt.cid = c.cid
         |    AND dt.sub = c.sub AND dt.code = c.code
         |  GROUP BY 1, 2)
         |SELECT query_id, neighbor_id, rank, adist FROM
         |  (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY adist, neighbor_id) AS rank
         |   FROM sc)
         |WHERE rank <= 5""".stripMargin
    "x_ann_ivfpq_residual" -> ((
      (s: SparkSession, dir: String) =>
        Similarity.topKIvfPqResidual(emb(s, dir).where(col("vec_id") < 10), emb(s, dir),
          "vec_id", "embedding", k = 5, kCells = 4, lloydIters = 1, nProbe = 2,
          m = 4, subDim = 16, pqK = 4, pqIters = 1),
      sql))
  }

  /** SCD-2 validity-interval build over the events feed: per user, collapse
    * consecutive rows with the same event_type, emit [valid_from, valid_to)
    * stamps with a NULL open upper bound for the current row — the engine-side
    * construction of the reference's k6-style interval dimension
    * (`gyldig_fra_dato`/`gyldig_til_dato`). Oracle replays it with
    * lag-change-detect + lead-close windows.
    */
  private val scd2Build: Q = "x_scd2_build" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"))
      Dimension.scd2Build(ev, keys = Seq("user_id"),
        orderCols = Seq("ts_ms", "event_id"), trackedCols = Seq("event_type"))
    },
    """WITH ordered AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY epoch_ms(ts), event_id) AS prev
      |  FROM events),
      |changes AS (
      |  SELECT user_id, ts_ms, event_id, event_type FROM ordered
      |  WHERE prev IS DISTINCT FROM event_type)
      |SELECT user_id, event_type, ts_ms AS valid_from,
      |  lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS valid_to
      |FROM changes""".stripMargin))

  /** INCREMENTAL SCD-2 gate: build the dimension from the first half of the
    * event log, apply the second half as a batch through
    * [[Dimension.scd2Apply]], and gate against the full-rebuild oracle OF
    * `x_scd2_build` VERBATIM — the apply-then-read ≡ rebuild-then-read
    * equivalence stated as strongly as the harness allows (the ivfAppend
    * pattern). The global ts split guarantees the no-late-data
    * precondition per key.
    */
  private val scd2Incr: Q = "x_scd2_incr" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"))
      val splitMs = 1705363200000L // 2024-01-16T00:00:00Z, mid-corpus
      val dim = Dimension.scd2Build(ev.where(col("ts_ms") < splitMs),
        keys = Seq("user_id"), orderCols = Seq("ts_ms", "event_id"),
        trackedCols = Seq("event_type"))
      Dimension.scd2Apply(dim, ev.where(col("ts_ms") >= splitMs),
        keys = Seq("user_id"), orderCols = Seq("ts_ms", "event_id"),
        trackedCols = Seq("event_type"))
    },
    """WITH ordered AS (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id
      |                          ORDER BY epoch_ms(ts), event_id) AS prev
      |  FROM events),
      |changes AS (
      |  SELECT user_id, ts_ms, event_id, event_type FROM ordered
      |  WHERE prev IS DISTINCT FROM event_type)
      |SELECT user_id, event_type, ts_ms AS valid_from,
      |  lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) AS valid_to
      |FROM changes""".stripMargin))

  /** CDC current-view gate: op derived deterministically from the data
    * (error rows are tombstones), latest version per user wins, users whose
    * latest row is a delete vanish. Oracle is the row_number replay with the
    * delete filter applied to the winner only.
    */
  private val cdcApply: Q = "x_cdc_apply" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("ts_ms"),
          col("event_id"), col("event_type"), col("value"),
          when(col("event_type") === "error", lit("D")).otherwise(lit("U")).as("op"))
      Dimension.cdcApply(ev, keys = Seq("user_id"),
        orderCols = Seq("ts_ms", "event_id"),
        payloadCols = Seq("event_type", "value"), opCol = "op")
    },
    """SELECT user_id, ts_ms, event_id, event_type, value FROM (
      |  SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, event_type, value,
      |    CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY epoch_ms(ts) DESC, event_id DESC) AS rk
      |  FROM events) WHERE rk = 1 AND op <> 'D'""".stripMargin))

  /** Data-quality expectation gate: five checks (not-null, unique key,
    * range, accepted values, referential integrity vs customer) in ONE scan
    * of orders — the range and accepted-values bounds are deliberately
    * tighter than the data so the violation counters are non-zero and the
    * counting math is actually exercised. Oracle is the per-check UNION ALL
    * of equivalent SQL aggregates.
    */
  private val dqChecks: Q = "x_dq_checks" -> ((
    (s: SparkSession, dir: String) => {
      import graft.operators.Quality.DqCheck._
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      Quality.evaluate(orders, Seq(
        NotNull("o_custkey"),
        Unique(Seq("o_orderkey")),
        InRange("o_totalprice", 1000.0, 200000.0),
        AcceptedValues("o_orderstatus", Seq("O", "F")),
        Referential("o_custkey", customer, "c_custkey")))
    },
    """SELECT 'not_null:o_custkey' AS check_name,
      |       count(*) FILTER (WHERE o_custkey IS NULL) AS violations FROM orders
      |UNION ALL SELECT 'unique:o_orderkey',
      |       count(o_orderkey) - count(DISTINCT o_orderkey) FROM orders
      |UNION ALL SELECT 'range:o_totalprice',
      |       count(*) FILTER (WHERE o_totalprice IS NOT NULL
      |                        AND o_totalprice NOT BETWEEN 1000 AND 200000) FROM orders
      |UNION ALL SELECT 'accepted:o_orderstatus',
      |       count(*) FILTER (WHERE o_orderstatus IS NOT NULL
      |                        AND o_orderstatus NOT IN ('O','F')) FROM orders
      |UNION ALL SELECT 'fk:o_custkey',
      |       count(*) FROM orders o
      |       WHERE o_custkey IS NOT NULL
      |         AND NOT EXISTS (SELECT 1 FROM customer c
      |                         WHERE c.c_custkey = o.o_custkey)""".stripMargin))

  /** BPE tokenize-to-IDS gate: the materialized subword stream
    * ([[graft.functions.TextAnalysis.bpeTokens]]) position-exploded and
    * joined to a corpus-derived vocabulary (distinct tokens, ids by token
    * sort order — deterministic on both engines). The vocab window is a
    * single-partition sort over TOKEN TYPES, not occurrences —
    * vocabulary-sized by construction (the justification every tokenizer
    * vocab build leans on); the occurrence stream never sorts globally.
    * Output restricted to every 17th doc to keep the gate artifact small;
    * the vocab still builds over the FULL corpus.
    */
  private lazy val textBpeIds: Q = {
    val perWord = bpePerWordSql(bpeGateMerges)
    "x_text_bpe_ids" -> ((
      (s: SparkSession, dir: String) => {
        import org.apache.spark.sql.expressions.Window
        // Checkpointed: the vocab build and the output stream BOTH consume
        // the tokenized frame, and the 8-rule replace cascade over the full
        // corpus is this gate's dominant cost — pay it once.
        val toks = docs(s, dir).select(col("doc_id"),
          graft.functions.TextAnalysis.bpeTokens(col("text"), bpeGateMerges).as("fl"))
          .localCheckpoint(true)
        val vocab = toks.select(explode(col("fl")).as("token")).distinct()
          .withColumn("token_id", row_number().over(Window.orderBy("token")))
        toks.where(col("doc_id") % 17 === 0)
          .select(col("doc_id"), posexplode(col("fl")).as(Seq("pos", "token")))
          .join(broadcast(vocab), Seq("token"))
          .select("doc_id", "pos", "token_id", "token")
      },
      s"""WITH flat AS (SELECT doc_id,
         |  flatten(list_transform(string_split(trim(text), ' '),
         |    w -> string_split(trim($perWord), ' '))) AS fl
         |  FROM documents),
         |vocab AS (SELECT token, row_number() OVER (ORDER BY token) AS token_id
         |  FROM (SELECT DISTINCT token FROM
         |          (SELECT unnest(fl) AS token FROM flat))),
         |toks AS (SELECT doc_id, u.i - 1 AS pos, fl[u.i] AS token
         |  FROM (SELECT doc_id, fl FROM flat WHERE doc_id % 17 = 0),
         |       UNNEST(range(1, len(fl)+1)) u(i))
         |SELECT t.doc_id, t.pos::INT AS pos, v.token_id::INT AS token_id, t.token
         |FROM toks t JOIN vocab v USING (token)""".stripMargin))
  }

  /** Linear quality-filter gate: a fixed learned-weights model over three
    * document features, scored in logit space
    * ([[graft.operators.Quality.linearLogit]] — pure multiply-add fold, no
    * sigmoid per row) with the keep threshold p=0.5 mapped to a logit
    * literal ONCE. The oracle evaluates the identical left-to-right
    * arithmetic; the logit is emitted RAW (no rounding belt — the claim is
    * bit-exactness of the fold).
    */
  private lazy val qualityFilter: Q = {
    val thr = math.log(0.5 / 0.5) // logit(0.5) = 0.0, a plan literal on both sides
    "x_quality_filter" -> ((
      (s: SparkSession, dir: String) => {
        val logit = qualityLogitCol // ONE source of truth with the streaming gate
        docs(s, dir).select(col("doc_id"), logit.as("logit"),
          (logit > lit(thr)).as("keep"))
      },
      s"""SELECT doc_id, $qualityLogitSql AS logit, $qualityLogitSql > $thr AS keep
         |FROM documents""".stripMargin))
  }

  /** Oracle twin of the x_quality_filter logit — same left-to-right
    * arithmetic, shared with the streaming curation gate.
    */
  private lazy val qualityLogitSql: String = {
    val en = graft.functions.TextAnalysis.markers.head._2
      .map(w => s"'$w'").mkString(",")
    val sw = s"(len(list_filter(string_split(trim(lower(text)),' '), t -> t IN ($en)))::DOUBLE" +
      s" / greatest(len(string_split(trim(lower(text)),' ')),1)::DOUBLE)"
    val punct = "(len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE / greatest(length(text),1)::DOUBLE)"
    s"(((-1.0 + least(length(text)::DOUBLE / 500.0, 1.0) * 1.2)" +
      s" + $sw * 2.0) + $punct * -3.0)"
  }

  /** The Spark twin, shared by the batch gate and the streaming increment. */
  private def qualityLogitCol: org.apache.spark.sql.Column = {
    import graft.functions.TextAnalysis
    graft.operators.Quality.linearLogit(Seq(
      (least(TextAnalysis.nChars(col("text")).cast("double") / lit(500.0), lit(1.0)), 1.2),
      (TextAnalysis.stopwordRatio(col("text")), 2.0),
      (TextAnalysis.punctRatio(col("text")), -3.0)), bias = -1.0)
  }

  /** STREAMING corpus curation increment: documents arrive in micro-batches
    * (maxFilesPerTrigger=1 over a 4-file topic); each batch is quality-
    * filtered (the shared logit model) and content-deduped on sha256(text)
    * by STREAMING `dropDuplicates` — the seen-sha set lives in the state
    * store (checkpointed, RocksDB-backed at scale; see
    * [[graft.GraftSession]]), so per-batch I/O is the batch itself plus a
    * keyed state lookup, NEVER a re-read of the accumulated sink (the
    * round-7 shape was O(batches × sink-size); this is O(batch)). The
    * daily-increment production shape: new crawl slice lands, only
    * never-seen quality docs enter the corpus. At unbounded retention the
    * state grows with corpus cardinality — the production knob is
    * `dropDuplicatesWithinWatermark` once the dedup horizon is bounded in
    * event time. Final sink STATE is order-independent — each passing sha
    * appears exactly once no matter how files batch — so the batch oracle
    * (quality-filtered DISTINCT shas) replays it regardless of micro-batch
    * boundaries.
    */
  private lazy val stCurateIncrement: Q = "st_curate_increment" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      scratchTree("stcurate") { tmp =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        d.repartition(4).write.parquet(s"$tmp/topic")
        val thr = math.log(0.5 / 0.5)
        runToEnd(tmp)(s.readStream.schema(d.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
          .where(qualityLogitCol > lit(thr))
          .select(sha2(col("text").cast("binary"), 256).as("sha"))
          .dropDuplicates("sha")
          .writeStream.format("parquet").option("path", s"$tmp/sink"))
        s.read.parquet(s"$tmp/sink")
      }
    },
    s"""SELECT DISTINCT sha256(text) AS sha FROM documents
       |WHERE $qualityLogitSql > ${math.log(0.5 / 0.5)}""".stripMargin))

  /** STREAMING incremental MinHash-LSH dedup (round-11 verdict item 7): the
    * one composition a daily 100 TB ingest runs that wasn't yet gated
    * end-to-end in streaming form. Documents arrive in micro-batches
    * (maxFilesPerTrigger=1 over a 4-file topic); each batch, inside
    * `foreachBatch`:
    *   1. probes the PERSISTED band index with
    *      [[graft.operators.Dedup.lshPairsIncremental]] (new×old and
    *      new×new candidates; the historical old×old cross product is never
    *      generated — per-bucket work is |new|×|bucket|),
    *   2. writes the candidate pairs to the sink's `batch_id=<id>` partition
    *      (OVERWRITE — a replayed batch replaces its own output),
    *   3. writes the batch's [[graft.operators.Dedup.minHashBands]] rows to
    *      the index's `batch_id=<id>` partition the same way — the state is
    *      a plain parquet table bucketable by `(band, band_val)`, not an
    *      opaque state store, so it is shared with batch jobs, inspectable,
    *      and compactable; the per-batch partitions make the whole step
    *      idempotent under foreachBatch's at-least-once crash replay
    *      (probe excludes the current batch_id, so a crashed first
    *      attempt's leftover bands never double-count toward maxBucket).
    * Each unordered pair is emitted exactly once — when its LATER member's
    * batch arrives — so the accumulated sink replays the full-corpus batch
    * answer (the closing distinct only collapses LSH's own multi-band
    * duplicates, as in the batch operator). The oracle IS the batch
    * minhash replay: batch ≡ incremental ≡ streaming, the same equivalence
    * contract as `x_dedup_incremental`, now across real micro-batch
    * boundaries with checkpointed progress. Bucket caps count over
    * index ∪ batch at each step (converges to the batch cap; divergence
    * possible only for buckets that CROSS maxBucket mid-stream — a
    * documented property of the incremental operator, unreachable at gate
    * SF).
    */
  private lazy val stLshDedupIncrement: Q = "st_lsh_dedup_increment" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      scratchTree("stlsh") { tmp =>
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        d.repartition(4).write.parquet(s"$tmp/topic")
        // Seed the index with its SCHEMA (zero rows) at the batch_id=-1
        // partition: first-batch probes read the same table shape they'll
        // append to — no exists-branch.
        Dedup.minHashBands(d.limit(0), "doc_id", "text", n = 3, numHashes = 12, bands = 4)
          .write.parquet(s"$tmp/index/batch_id=-1")
        runToEnd(tmp)(s.readStream.schema(d.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
          .writeStream
          .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
            // Probe-then-persist, crash-idempotent under foreachBatch's
            // at-least-once replay: per-batch OVERWRITE partitions plus a
            // probe that excludes the current batch_id — see
            // [[graft.operators.Dedup.lshIncrementStep]].
            Dedup.lshIncrementStep(batch.toDF(), s"$tmp/index", s"$tmp/pairs",
              batchId, "doc_id", "text", n = 3, numHashes = 12, bands = 4)
          })
        s.read.parquet(s"$tmp/pairs").drop("batch_id").distinct()
      }
    },
    minhashOracleWhere("")))

  /** STREAMING ANN serving: queries arrive in micro-batches and probe a
    * FROZEN IVF index built offline — the online-serving twin of
    * `x_ann_ivf`. The index is [[graft.operators.Similarity.assignCells]]
    * persisted `partitionBy("cid")` (the 100 TB layout: probes prune to
    * nProbe/nCells of the files via the static cell filter); each
    * `foreachBatch` runs [[graft.operators.Similarity.topKIvfPrebuilt]] on
    * just the batch's queries and appends the hits. Per-query results are
    * independent of batching (deterministic probe, frozen index), so the
    * accumulated sink replays the batch gate EXACTLY — the oracle IS
    * `x_ann_ivf`'s, verbatim.
    */
  private lazy val stAnnServe: Q = "st_ann_serve" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      scratchTree("stann") { tmp =>
        val e = emb(s, dir)
        val queries = e.where(col("vec_id") >= 100 && col("vec_id") < 120)
        queries.repartition(4).write.parquet(s"$tmp/topic")
        val cents = e.where(col("vec_id") < 16)
        // Offline index build, ONCE — per-batch work is probe-only.
        Similarity.assignCells(e, cents, "vec_id", "embedding")
          .write.partitionBy("cid").parquet(s"$tmp/index")
        // Open the FROZEN index once, outside the batch loop (round 15):
        // `read.parquet` inside foreachBatch re-listed the 16-cell
        // partitioned directory and re-built its file index EVERY batch —
        // driver-side listing 4x for an index that never changes mid-run
        // (measured as the gate's 3.7-15.6 s quiet spread; the serving
        // plan itself is probe-pruned and cheap). The hoisted DataFrame
        // re-plans per batch against the one cached file index. Frozen
        // index => identical per-query results, same oracle.
        val assigned = s.read.parquet(s"$tmp/index")
        runToEnd(tmp)(s.readStream.schema(queries.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
          .writeStream
          .foreachBatch { (batch: Dataset[Row], _: Long) =>
            Similarity.topKIvfPrebuilt(batch.toDF(), assigned, cents,
                "vec_id", "embedding", k = 5, nProbe = 2)
              .write.mode("append").parquet(s"$tmp/out")
          })
        s.read.parquet(s"$tmp/out")
      }
    },
    annIvfOracle))

  /** STREAMING exact-contamination serving
    * ([[graft.operators.Dedup.exactContaminationAgainstGrams]]): the
    * benchmark gram set is frozen ONCE offline
    * ([[graft.operators.Dedup.benchmarkGrams]] → parquet), and arriving
    * corpus documents are probed per micro-batch inside `foreachBatch` —
    * the online-decontamination ingest shape. The probe is per-document
    * independent and stateless, so the accumulated sink equals the
    * full-corpus batch answer regardless of batching: the gate shares
    * `x_exact_contamination`'s oracle VERBATIM, exactly like
    * `st_ann_serve` shares its frozen-index oracle.
    */
  private lazy val stExactContamination: Q = "st_exact_contamination" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      scratchTree("stcontam") { tmp =>
        val d = docs(s, dir)
        val corpus = d.where(col("doc_id") % 5 === 0 && col("doc_id") % 97 =!= 0)
          .select("doc_id", "text")
        corpus.repartition(4).write.parquet(s"$tmp/topic")
        graft.operators.Dedup.benchmarkGrams(
            d.where(col("doc_id") % 97 === 0), "doc_id", "text", minLen = 20)
          .write.parquet(s"$tmp/bench")
        // Open the frozen benchmark-gram table once, outside the batch
        // loop (round 15, the st_ann_serve fix): per-batch `read.parquet`
        // re-listed and re-indexed a table that never changes mid-run.
        val bg = s.read.parquet(s"$tmp/bench")
        runToEnd(tmp)(s.readStream.schema(corpus.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
          .writeStream
          .foreachBatch { (batch: Dataset[Row], _: Long) =>
            graft.operators.Dedup.exactContaminationAgainstGrams(
                batch.toDF(), "doc_id", "text", bg, minLen = 20)
              .write.mode("append").parquet(s"$tmp/out")
          })
        s.read.parquet(s"$tmp/out")
      }
    },
    exactContaminationGate._2._2))

  /** Keep-BEST cluster resolution gate: the Jaccard near-dup components
    * resolved by [[graft.operators.Dedup.resolveClustersBy]] with
    * preference = n_chars (keep the longest member, ties min id) — the
    * production alternative to blind min-id keep. The oracle reuses the
    * shared recursive-CC chain and replays the two-aggregate argmax.
    */
  private lazy val dedupKeepBest: Q = "x_dedup_keep_best" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val pairs = Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.3)
      val comp = Dedup.connectedComponents(pairs)
      Dedup.resolveClustersBy(d, "doc_id", comp, col("n_chars"))
        .select("doc_id", "source", "n_chars")
    },
    s"""WITH RECURSIVE $jaccardCcCtes,
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
      |mem AS (SELECT d.doc_id, c.component, d.n_chars
      |  FROM documents d JOIN comp c ON c.id = d.doc_id),
      |best AS (SELECT component, max(n_chars) AS bp FROM mem GROUP BY 1),
      |winners AS (SELECT component, min(doc_id) AS keep
      |  FROM mem JOIN best USING (component) WHERE n_chars = bp GROUP BY 1),
      |losers AS (SELECT m.doc_id FROM mem m JOIN winners w USING (component)
      |  WHERE m.doc_id <> w.keep)
      |SELECT doc_id, source, n_chars FROM documents
      |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""".stripMargin))

  /** Bigram Stupid-Backoff LM gate: the HELD-OUT shape — train on the even
    * half of the corpus, score every document; odd docs exercise the
    * backoff (unseen bigrams → α-discounted add-one unigram). The oracle
    * replays counts, joins, the CASE per bigram, and the sorted fold;
    * `ln` portability rides the same 6 dp belt as the unigram gate.
    */
  private lazy val textBigramLm: Q = "x_text_bigram_lm" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      graft.operators.BigramLm.scoreDocs(d, "doc_id", "text",
        d.where(col("doc_id") % 2 === 0), "text")
    },
    """WITH tr AS (SELECT text FROM documents WHERE doc_id % 2 = 0),
      |ttok AS (SELECT t FROM tr, UNNEST(string_split(trim(text),' ')) u(t) WHERE t <> ''),
      |uni AS (SELECT t, count(*)::BIGINT cu FROM ttok GROUP BY 1),
      |tot AS (SELECT sum(cu)::BIGINT nn, count(*)::BIGINT vv FROM uni),
      |tbg AS (SELECT w1, w2, count(*)::BIGINT cb FROM (
      |    SELECT ws[i] w1, ws[i+1] w2
      |    FROM (SELECT string_split(trim(text),' ') ws FROM tr),
      |         UNNEST(range(1, len(ws))) u(i))
      |  WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2),
      |dbg AS (SELECT doc_id, w1, w2, count(*)::BIGINT tf FROM (
      |    SELECT doc_id, ws[i] w1, ws[i+1] w2
      |    FROM (SELECT doc_id, string_split(trim(text),' ') ws FROM documents),
      |         UNNEST(range(1, len(ws))) u(i))
      |  WHERE w1 <> '' AND w2 <> '' GROUP BY 1, 2, 3),
      |sc AS (SELECT doc_id, dbg.w1, dbg.w2, tf,
      |  CASE WHEN cb IS NOT NULL THEN ln(cb::DOUBLE / u1.cu::DOUBLE)
      |       ELSE ln(0.4 * (coalesce(u2.cu, 0)::DOUBLE + 1.0) / (nn + vv)::DOUBLE) END AS lp
      |  FROM dbg LEFT JOIN tbg USING (w1, w2)
      |  LEFT JOIN uni u1 ON u1.t = dbg.w1
      |  LEFT JOIN uni u2 ON u2.t = dbg.w2, tot),
      |l AS (SELECT doc_id,
      |  list(struct_pack(w1 := w1, w2 := w2, tf := tf, lp := lp) ORDER BY w1, w2) lst
      |  FROM sc GROUP BY 1)
      |SELECT doc_id, round(
      |  list_reduce(list_prepend(0.0, list_transform(lst, x -> x.tf * x.lp)), (a,b)->a+b) /
      |  list_reduce(list_prepend(0::BIGINT, list_transform(lst, x -> x.tf)), (a,b)->a+b)::DOUBLE,
      |  6) AS bigram_lm_score
      |FROM l""".stripMargin))

  /** Span-corruption gate: the T5 denoising objective as a deterministic
    * projection — span placement is a content-hash function of
    * `(doc_id, span index)`, so the oracle replays the ENTIRE example
    * construction (segment layout, hash offsets, sentinel numbering,
    * target assembly) list-op for list-op.
    */
  private lazy val spanCorrupt: Q = "x_span_corrupt" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.SpanCorrupt.spanCorrupt(docs(s, dir), "doc_id", "text",
        spanLen = 3, rate = 0.15),
    """WITH t AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
      |c AS (SELECT doc_id, ws, len(ws)::BIGINT AS n,
      |  floor(len(ws)::DOUBLE * 0.15 / 3.0)::BIGINT AS ns FROM t),
      |d AS (SELECT *, CASE WHEN ns > 0 THEN floor(n::DOUBLE / ns)::BIGINT ELSE 0 END AS seg FROM c),
      |e AS (SELECT *, CASE WHEN ns > 0 THEN
      |    list_transform(range(0, ns), k -> k*seg +
      |      (('0x'||substr(md5(doc_id::VARCHAR || ':' || k::VARCHAR),1,8))::BIGINT
      |        % greatest(seg - 3 + 1, 1)))
      |    ELSE []::BIGINT[] END AS starts FROM d)
      |SELECT doc_id,
      |  array_to_string(flatten(list_transform(range(1, n+1), i ->
      |    CASE WHEN len(list_filter(starts, s -> i = s + 1)) > 0
      |           THEN ['<extra_id_' || ((i-1) // seg)::VARCHAR || '>']
      |         WHEN len(list_filter(starts, s -> i > s AND i <= s + 3)) > 0
      |           THEN []::VARCHAR[]
      |         ELSE [ws[i]] END)), ' ') AS input_text,
      |  CASE WHEN ns > 0 THEN array_to_string(flatten(list_transform(range(0, ns), k ->
      |    list_concat(['<extra_id_' || k::VARCHAR || '>'],
      |                ws[starts[k+1]+1 : starts[k+1]+3]))), ' ')
      |  ELSE '' END AS target_text,
      |  ns AS n_spans
      |FROM e""".stripMargin))

  /** HTML→text extraction gate: deterministic markup wrapped around each
    * document (comments, script/style elements with hostile content — a
    * `<p>` INSIDE a script string, a `<` comparison — entities incl. the
    * `&amp;lt;` double-decode trap), extracted by [[graft.functions.TextAnalysis.htmlToText]]
    * and replayed step-for-step by the oracle's RE2 regexes + replace
    * chain.
    */
  private lazy val textHtmlStrip: Q = "x_text_html_strip" -> ((
    (s: SparkSession, dir: String) => {
      val html = concat(
        lit("<html><head><title>D</title><style type=\"text/css\">p { color: red }</style>"),
        lit("<script>if (1 < 2) { x = \"<p>\"; }</script></head><body><h1>Doc "),
        col("doc_id"),
        lit("</h1><!-- hidden "), col("doc_id"), lit(" --><p>"), col("text"),
        lit("</p><div class=\"foot\">&amp;lt;co &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>"))
      docs(s, dir).select(col("doc_id"),
        graft.functions.TextAnalysis.htmlToText(html).as("extracted"))
    },
    """WITH h AS (SELECT doc_id,
      |  '<html><head><title>D</title><style type="text/css">p { color: red }</style>'
      |  || '<script>if (1 < 2) { x = "<p>"; }</script></head><body><h1>Doc ' || doc_id
      |  || '</h1><!-- hidden ' || doc_id || ' --><p>' || text
      |  || '</p><div class="foot">&amp;lt;co &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end</div></body></html>'
      |  AS html FROM documents)
      |SELECT doc_id,
      |  trim(regexp_replace(
      |    replace(replace(replace(replace(replace(replace(replace(
      |      regexp_replace(
      |        regexp_replace(
      |          regexp_replace(
      |            regexp_replace(html, '(?is)<!--.*?-->', ' ', 'g'),
      |            '(?is)<script\b[^>]*>.*?</script\s*>', ' ', 'g'),
      |          '(?is)<style\b[^>]*>.*?</style\s*>', ' ', 'g'),
      |        '<[^>]*>', ' ', 'g'),
      |      '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
      |      '&#39;', ''''), '&apos;', ''''), '&amp;', '&'),
      |    '\s+', ' ', 'g')) AS extracted
      |FROM h""".stripMargin))

  /** Mixture-sampling gate: a 4:2:1:1 source mix under a 3000-token global
    * budget (unlisted sources dropped). The Spark side takes the two-phase
    * bucket-prefix-sum path ([[graft.operators.Mixture.mixtureSample]]);
    * the oracle computes the SAME selection with one flat window — the
    * bucket decomposition must be algebraically invisible in the output.
    */
  private lazy val sampleMixture: Q = {
    val weights = Seq("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0)
    val total = 3000L
    val wSum = weights.map(_._2).sum
    val budgetSql = weights.map { case (s, w) =>
      s"WHEN '$s' THEN ${math.floor(w / wSum * total).toLong}"
    }.mkString(" ")
    "x_sample_mixture" -> ((
      (s: SparkSession, dir: String) =>
        graft.operators.Mixture.mixtureSample(
          docs(s, dir), "doc_id", "source",
          size(graft.operators.Dedup.tokens(col("text"))),
          weights.toMap, totalTokens = total, buckets = 16),
      s"""WITH t AS (SELECT doc_id, source,
         |  len(string_split(trim(text), ' '))::BIGINT AS tok,
         |  md5(doc_id::VARCHAR) AS h,
         |  (('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 16)::INT AS b
         |  FROM documents),
         |w AS (SELECT *,
         |  CASE source $budgetSql ELSE 0 END AS budget,
         |  sum(tok) OVER (PARTITION BY source ORDER BY b, h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, source, tok AS n_tokens FROM w
         |WHERE budget > 0 AND cum <= budget""".stripMargin))
  }

  /** Temperature-scaled mixture gate: the SAME 4:2:1:1 mix at τ = 0.5 —
    * the published low-resource-upsampling move (`w^τ`, renormalized,
    * before budgeting). Temperature math happens driver-side in BOTH
    * engines' plan construction (this very JVM computes the oracle's
    * budget literals with the same `math.pow`), so the budgets are
    * bit-identical by construction and the oracle stays a flat window.
    */
  private lazy val sampleMixtureTemp: Q = {
    val weights = Seq("src0" -> 4.0, "src1" -> 2.0, "src2" -> 1.0, "src3" -> 1.0)
    val total = 3000L
    val tau = 0.5
    val scaled = weights.map { case (s, w) => s -> math.pow(w, tau) }
    val wSum = scaled.map(_._2).sum
    val budgetSql = scaled.map { case (s, w) =>
      s"WHEN '$s' THEN ${math.floor(w / wSum * total).toLong}"
    }.mkString(" ")
    "x_sample_mixture_temp" -> ((
      (s: SparkSession, dir: String) =>
        graft.operators.Mixture.mixtureSample(
          docs(s, dir), "doc_id", "source",
          size(graft.operators.Dedup.tokens(col("text"))),
          weights.toMap, totalTokens = total, temperature = tau, buckets = 16),
      s"""WITH t AS (SELECT doc_id, source,
         |  len(string_split(trim(text), ' '))::BIGINT AS tok,
         |  md5(doc_id::VARCHAR) AS h,
         |  (('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 16)::INT AS b
         |  FROM documents),
         |w AS (SELECT *,
         |  CASE source $budgetSql ELSE 0 END AS budget,
         |  sum(tok) OVER (PARTITION BY source ORDER BY b, h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM t)
         |SELECT doc_id, source, tok AS n_tokens FROM w
         |WHERE budget > 0 AND cum <= budget""".stripMargin))
  }

  /** SemDeDup gate: spherical k-means cells (k=4, 1 Lloyd round) as the
    * blocking column for banded near-dup + transitive keep-one. The oracle
    * unrolls the ENTIRE composition — Lloyd CTEs (same discipline as
    * x_ann_kmeans), sign-band buckets within cells, the membership window,
    * exact cosine verify, recursive-CTE components, min-id keep — so the
    * gate hashes every stage's declared semantics at once.
    */
  private lazy val dedupSemantic: Q = {
    // Band sizing by the density rule (operator scaladoc): 8 bands × 8 bits
    // → 256 buckets/band, so a 1250-vector cell at sf0.1 packs ~5 per
    // bucket — candidate volume stays linear-ish; 16×4 would pack ~78 and
    // pay C(78,2) per bucket (measured 6.9 s vs 1.9 s, identical gate).
    val k = 4; val iters = 1; val bands = 8; val rows = 8; val thr = 0.4
    val assigns = (0 to iters).map { i =>
      s"""a$i AS (SELECT e.vec_id, c.cid, ${dotSql("e.embedding", "c.vec")} / (e.nrm * c.cnrm) AS cs
         |  FROM emb e, cents$i c),
         |r$i AS (SELECT vec_id, cid FROM (SELECT vec_id, cid,
         |  row_number() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) rn FROM a$i) WHERE rn = 1)""".stripMargin
    }
    val updates = (0 until iters).map { i =>
      s"""x$i AS (SELECT r.cid, u.i, e.embedding[u.i]::DOUBLE AS x
         |  FROM r$i r JOIN emb e USING (vec_id), UNNEST(range(1, len(e.embedding)+1)) u(i)),
         |m$i AS (SELECT cid, list(m ORDER BY i) AS vec FROM
         |  (SELECT cid, i, sum(x)/count(*) AS m FROM x$i GROUP BY cid, i) GROUP BY cid),
         |cents${i + 1} AS (SELECT cid, vec, ${nrmSql("vec")} AS cnrm FROM
         |  (SELECT cid, list_transform(vec, x -> x / n) AS vec FROM
         |    (SELECT cid, vec, ${nrmSql("vec")} AS n FROM m$i)))""".stripMargin
    }
    val lloyd = (0 until iters).map(i => s"${assigns(i)},\n${updates(i)}").mkString(",\n") +
      s",\n${assigns(iters)}"
    val bandSelects = (0 until bands).map { b =>
      val bucket = (0 until rows)
        .map(r => s"CASE WHEN embedding[${b * rows + r + 1}] > 0 THEN ${1L << r} ELSE 0 END")
        .mkString(" + ")
      s"SELECT vec_id, cid, $b AS band, ($bucket)::BIGINT AS bucket FROM cells"
    }.mkString(" UNION ALL ")
    "x_dedup_semantic" -> ((
      (s: SparkSession, dir: String) =>
        Dedup.semanticDedup(emb(s, dir), "vec_id", "embedding",
          k = k, iters = iters, threshold = thr, dims = 64, bands = bands),
      s"""WITH RECURSIVE emb AS (SELECT vec_id, embedding, ${nrmSql("embedding")} AS nrm FROM embeddings),
         |cents0 AS (SELECT vec_id AS cid, embedding AS vec, ${nrmSql("embedding")} AS cnrm
         |  FROM embeddings ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT $k),
         |$lloyd,
         |cells AS (SELECT r.vec_id, r.cid, e.embedding, e.nrm
         |  FROM r$iters r JOIN emb e USING (vec_id)),
         |banded AS ($bandSelects),
         |q AS (SELECT cid, band, bucket FROM banded
         |      GROUP BY 1,2,3 HAVING count(*) > 1 AND count(*) <= 1000),
         |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM banded a JOIN banded b
         |    ON a.cid=b.cid AND a.band=b.band AND a.bucket=b.bucket AND a.vec_id < b.vec_id
         |  JOIN q ON q.cid=a.cid AND q.band=a.band AND q.bucket=a.bucket),
         |pairs AS (SELECT id_a, id_b
         |  FROM cand JOIN cells na ON na.vec_id = id_a JOIN cells nb ON nb.vec_id = id_b
         |  WHERE ${pairCosSql("na", "nb")} > $thr),
         |edges AS (SELECT id_a AS u, id_b AS v FROM pairs UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (SELECT u AS id, u AS r FROM (SELECT DISTINCT u FROM edges) t
         |  UNION SELECT e.v, reach.r FROM reach JOIN edges e ON e.u = reach.id),
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)
         |SELECT c.vec_id, c.cid,
         |  coalesce(m.component, c.vec_id) AS component,
         |  coalesce(m.component, c.vec_id) = c.vec_id AS kept
         |FROM cells c LEFT JOIN comp m ON m.id = c.vec_id""".stripMargin))
  }

  /** CCNet-shaped segment-level LM pruning gate ([[UnigramLm.segmentFilter]]):
    * 20-token windows scored under the corpus unigram model, windows below
    * −3.41 dropped, documents reassembled from the survivors. The threshold
    * sits just below the corpus mode (≈ −3.40 at sf0.01), so a real minority
    * of windows dies — a gate where n_kept ≡ n_seg would prove nothing. The
    * oracle replays the whole path: windowing by token ordinal, the sorted
    * per-window likelihood fold, the filter, and the ordered reassembly.
    */
  private lazy val textSegmentLm: Q = "x_text_segment_lm" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.UnigramLm.segmentFilter(docs(s, dir), "doc_id", "text",
        segTokens = 20, minScore = -3.41),
    """WITH toks0 AS (SELECT doc_id, list_filter(string_split(trim(text),' '), t -> t <> '') ws
      |               FROM documents),
      |seg AS (SELECT doc_id, ((i-1)//20)::INT AS seg, ws[i] AS t, i
      |        FROM toks0, UNNEST(range(1, len(ws)+1)) u(i)),
      |v AS (SELECT t, count(*)::BIGINT cnt FROM seg GROUP BY 1),
      |n AS (SELECT sum(cnt)::BIGINT nn FROM v),
      |st AS (SELECT doc_id, seg, t, count(*)::BIGINT tf FROM seg GROUP BY 1, 2, 3),
      |l AS (SELECT doc_id, seg, list(struct_pack(t := st.t, tf := tf, c := cnt) ORDER BY st.t) lst
      |      FROM st JOIN v USING (t) GROUP BY 1, 2),
      |scored AS (SELECT doc_id, seg, round(
      |    list_reduce(list_prepend(0.0, list_transform(lst, x -> x.tf * ln(x.c::DOUBLE / nn))),
      |                (a, b) -> a + b)
      |  / list_reduce(list_prepend(0::BIGINT, list_transform(lst, x -> x.tf)),
      |                (a, b) -> a + b)::DOUBLE, 6) sc
      |  FROM l, n),
      |segtext AS (SELECT doc_id, seg, string_agg(t, ' ' ORDER BY i) txt FROM seg GROUP BY 1, 2)
      |SELECT doc_id, count(*)::BIGINT AS n_seg,
      |  coalesce(sum(CASE WHEN sc >= -3.41 THEN 1 ELSE 0 END), 0)::BIGINT AS n_kept,
      |  coalesce(string_agg(txt, ' ' ORDER BY seg) FILTER (WHERE sc >= -3.41), '') AS text_clean
      |FROM scored JOIN segtext USING (doc_id, seg) GROUP BY doc_id""".stripMargin))

  /** REAL video-container metadata gate: deterministic ISO-BMFF fixtures
    * (real ftyp/moov/mvhd/trak/tkhd byte stream) parsed back by the raw box
    * walk ([[Multimodal.decodeVideos]]), with the same every-11th corrupt
    * channel as the image/audio gates. The oracle knows only the fixture's
    * field FORMULAS, never the bytes.
    */
  private lazy val mmVideo: Q = "x_multimodal_video" -> ((
    (s: SparkSession, dir: String) =>
      Multimodal.decodeVideos(
          Multimodal.syntheticMp4s(docs(s, dir), "doc_id")
            .withColumn("blob",
              when(col("doc_id") % 11 === 0, lit("not a video").cast("binary"))
                .otherwise(col("blob"))),
          "doc_id", "blob")
        .select("doc_id", "brand", "timescale", "duration_ms",
          "width", "height", "n_tracks", "decoded"),
    """SELECT doc_id,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL
      |       WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (600 * (1 + doc_id % 4))::BIGINT END AS timescale,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE ((1 + doc_id % 120) * 1000)::BIGINT END AS duration_ms,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (16 * (1 + doc_id % 80))::INT END AS width,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (16 * (1 + doc_id % 45))::INT END AS height,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE (1 + doc_id % 2)::INT END AS n_tracks,
      |  doc_id % 11 <> 0 AS decoded
      |FROM documents""".stripMargin))

  /** Verified exact-duplicate-span gate ([[Dedup.exactDupSpans]], the
    * ExactSubstr surface): the corpus plus engineered near-copies (every
    * 50th doc duplicated under a shifted id with a prefix edit — copies
    * share the ENTIRE original text as an exact span, so the gate always
    * has non-trivial verified output) run through anchor → character-verify
    * → maximal extension. The oracle replays the full chain: winnowing
    * selection at k = minLen−w+1, earliest-position postings, the df
    * window, anchor substring verification, and two-sided longest-common-
    * extension via monotone substring equality.
    */
  private lazy val dedupExactSpans: Q = {
    val minLen = 40; val w = 8; val maxDf = 1000
    val k = minLen - w + 1 // 33
    "x_dedup_exact_spans" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        val copies = d.where(col("doc_id") % 50 === 0)
          .select((col("doc_id") + 100000L).as("doc_id"),
            concat(lit("COPYPFX "), col("text")).as("text"))
        Dedup.exactDupSpans(d.unionByName(copies), "doc_id", "text", minLen, w, maxDf)
      },
      s"""WITH docs2 AS (SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, 'COPYPFX ' || text FROM documents WHERE doc_id % 50 = 0),
        |t AS (SELECT doc_id, text, greatest(length(text) - ${k - 1}, 0) AS m FROM docs2),
        |h AS (SELECT doc_id, CASE WHEN m > 0 THEN
        |    list_transform(range(1, m + 1), i ->
        |      list_reduce(list_prepend(0::BIGINT, list_transform(range(i, i + $k), j ->
        |        ascii(substr(text, j::INT, 1))::BIGINT)), (a, c) -> (a * 257 + c) % 1000000007))
        |  ELSE []::BIGINT[] END AS hs FROM t),
        |sel0 AS (SELECT doc_id, CASE WHEN len(hs) >= $w THEN
        |    list_transform(range(1, len(hs) - ${w - 1} + 1), j ->
        |      struct_pack(fp := list_aggregate(hs[j:j+${w - 1}], 'min'),
        |        pos := j - 1 + list_position(hs[j:j+${w - 1}],
        |                 list_aggregate(hs[j:j+${w - 1}], 'min'))))
        |  ELSE list_transform(range(1, len(hs) + 1), i ->
        |    struct_pack(fp := hs[i], pos := i)) END AS sel FROM h),
        |selx AS (SELECT doc_id, unnest(sel) AS s FROM sel0),
        |first AS (SELECT doc_id, s.fp AS fp, min(s.pos) AS pos FROM selx GROUP BY 1, 2),
        |keep AS (SELECT fp FROM first GROUP BY fp HAVING count(*) >= 2 AND count(*) <= $maxDf),
        |fk AS (SELECT f.doc_id, f.fp, f.pos FROM first f JOIN keep USING (fp)),
        |p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS sa, b.pos AS sb
        |  FROM fk a JOIN fk b ON a.fp = b.fp AND a.doc_id < b.doc_id),
        |cand AS (SELECT id_a, id_b, sa, sb, da.text ta, db.text tb
        |  FROM p JOIN docs2 da ON da.doc_id = id_a JOIN docs2 db ON db.doc_id = id_b
        |  WHERE substr(da.text, sa::INT, $k) = substr(db.text, sb::INT, $k)),
        |ext AS (SELECT id_a, id_b, sa, sb,
        |    list_max(list_filter(range(0, least(sa, sb)), l ->
        |      substr(ta, (sa - l)::INT, l::INT) = substr(tb, (sb - l)::INT, l::INT))) AS le,
        |    list_max(list_filter(range($k, least(length(ta) - sa, length(tb) - sb) + 2), r ->
        |      substr(ta, sa::INT, r::INT) = substr(tb, sb::INT, r::INT))) AS re
        |  FROM cand)
        |SELECT DISTINCT id_a, id_b,
        |  (sa - le)::INT AS start_a, (sb - le)::INT AS start_b,
        |  (le + re)::INT AS match_len
        |FROM ext WHERE le + re >= $minLen""".stripMargin))
  }

  /** Robust JSONL corpus ingestion gate ([[graft.sources.JsonlSource]]):
    * the documents table serialized to newline-delimited JSON with every
    * 11th line mangled, read back schema-explicit with the corrupt-record
    * channel. The oracle knows the corruption RULE (never the files): good
    * rows must round-trip their fields, corrupt rows must surface exactly
    * their offending line (pinned by sha) with null fields.
    */
  private lazy val jsonlIngest: Q = "x_jsonl_ingest" -> ((
    (s: SparkSession, dir: String) => scratchTree("jsonl") { tmp =>
      docs(s, dir).select(
          when(col("doc_id") % 11 === 0,
            concat(lit("{broken "), substring(col("text"), 1, 10)))
            .otherwise(to_json(struct(col("doc_id"), col("source"), col("text"))))
            .as("value"))
        .repartition(4)
        .write.text(s"$tmp/in")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType)))
      val r = graft.sources.JsonlSource.read(s, s"$tmp/in", schema)
      r.select(col("doc_id"), col("source"),
          length(col("text")).as("n_text_chars"),
          when(col(graft.sources.JsonlSource.corruptField).isNotNull,
            sha2(col(graft.sources.JsonlSource.corruptField).cast("binary"), 256))
            .as("corrupt_sha"),
          col(graft.sources.JsonlSource.corruptField).isNotNull.as("is_corrupt"))
    },
    """SELECT CASE WHEN doc_id % 11 = 0 THEN NULL ELSE doc_id END AS doc_id,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE source END AS source,
      |  CASE WHEN doc_id % 11 = 0 THEN NULL ELSE length(text) END AS n_text_chars,
      |  CASE WHEN doc_id % 11 = 0 THEN sha256('{broken ' || substr(text, 1, 10))
      |       ELSE NULL END AS corrupt_sha,
      |  doc_id % 11 = 0 AS is_corrupt
      |FROM documents""".stripMargin))

  /** Unicode-script profiling gate ([[TextAnalysis.scriptCount]] /
    * `dominantScript`): the multilingual-triage first cut (script routing
    * before any language-ID model runs). The corpus is ASCII, so the gate
    * engineers deterministic variants both engines replay — every 7th doc
    * transliterated to Cyrillic lookalike vowels, every 11th given a Greek
    * suffix — making the dominant-script label and the fractions genuinely
    * vary. Java `\p{IsXxx}` ≡ RE2 `\p{Xxx}`, and both lengths count code
    * points, so the oracle is exact.
    */
  private lazy val textScript: Q = "x_text_script" -> ((
    (s: SparkSession, dir: String) => {
      import graft.functions.TextAnalysis
      val t = when(col("doc_id") % 7 === 0, translate(col("text"), "aeiou", "аеіоу"))
        .when(col("doc_id") % 11 === 0, concat(col("text"), lit(" αβγδ")))
        .otherwise(col("text"))
      val n = length(t)
      docs(s, dir).select(col("doc_id"),
        n.cast("long").as("n_chars"),
        round(TextAnalysis.scriptCount(t, "Latin").cast("double") / greatest(n, lit(1)), 6).as("latin_frac"),
        round(TextAnalysis.scriptCount(t, "Cyrillic").cast("double") / greatest(n, lit(1)), 6).as("cyrillic_frac"),
        round(TextAnalysis.scriptCount(t, "Greek").cast("double") / greatest(n, lit(1)), 6).as("greek_frac"),
        TextAnalysis.dominantScript(t, Seq("Latin", "Cyrillic", "Greek")).as("dominant_script"))
    },
    """WITH t2 AS (SELECT doc_id,
      |  CASE WHEN doc_id % 7 = 0 THEN translate(text, 'aeiou', 'аеіоу')
      |       WHEN doc_id % 11 = 0 THEN text || ' αβγδ'
      |       ELSE text END AS t FROM documents),
      |c AS (SELECT doc_id, length(t)::BIGINT AS n,
      |  (length(t) - length(regexp_replace(t, '\p{Latin}', '', 'g')))::BIGINT AS lat,
      |  (length(t) - length(regexp_replace(t, '\p{Cyrillic}', '', 'g')))::BIGINT AS cyr,
      |  (length(t) - length(regexp_replace(t, '\p{Greek}', '', 'g')))::BIGINT AS grk
      |  FROM t2)
      |SELECT doc_id, n AS n_chars,
      |  round(lat::DOUBLE / greatest(n, 1), 6) AS latin_frac,
      |  round(cyr::DOUBLE / greatest(n, 1), 6) AS cyrillic_frac,
      |  round(grk::DOUBLE / greatest(n, 1), 6) AS greek_frac,
      |  CASE WHEN lat >= cyr AND lat >= grk THEN 'latin'
      |       WHEN cyr >= grk THEN 'cyrillic'
      |       ELSE 'greek' END AS dominant_script
      |FROM c""".stripMargin))

  /** Incremental verified-exact-span gate
    * ([[Dedup.exactDupSpansIncremental]]): a NEW batch (every 5th doc plus
    * engineered copies of index docs under shifted ids) against the INDEX
    * corpus (the rest) — pairing is new-fps × index-postings only, never
    * index². The oracle replays both winnow selections side-labeled, the
    * index-side df cap, the cross-side pairing, and the same verify+extend
    * chain as the batch gate.
    */
  private lazy val dedupExactSpansIncr: Q = {
    val minLen = 40; val w = 8; val maxDf = 1000
    val k = minLen - w + 1 // 33
    "x_dedup_exact_spans_incr" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir).select(col("doc_id"), col("text"))
        val index = d.where(col("doc_id") % 5 =!= 0)
        val fresh = d.where(col("doc_id") % 5 === 0).unionByName(
          d.where(col("doc_id") % 50 === 1)
            .select((col("doc_id") + 200000L).as("doc_id"),
              concat(lit("NEWPFX "), col("text")).as("text")))
        Dedup.exactDupSpansIncremental(fresh, index, "doc_id", "text", minLen, w, maxDf)
      },
      s"""WITH idx AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0),
        |nw AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL SELECT doc_id + 200000, 'NEWPFX ' || text FROM documents WHERE doc_id % 50 = 1),
        |allx AS (SELECT 0 AS side, doc_id, text FROM nw
        |  UNION ALL SELECT 1 AS side, doc_id, text FROM idx),
        |t AS (SELECT side, doc_id, text, greatest(length(text) - ${k - 1}, 0) AS m FROM allx),
        |h AS (SELECT side, doc_id, CASE WHEN m > 0 THEN
        |    list_transform(range(1, m + 1), i ->
        |      list_reduce(list_prepend(0::BIGINT, list_transform(range(i, i + $k), j ->
        |        ascii(substr(text, j::INT, 1))::BIGINT)), (a, c) -> (a * 257 + c) % 1000000007))
        |  ELSE []::BIGINT[] END AS hs FROM t),
        |sel0 AS (SELECT side, doc_id, CASE WHEN len(hs) >= $w THEN
        |    list_transform(range(1, len(hs) - ${w - 1} + 1), j ->
        |      struct_pack(fp := list_aggregate(hs[j:j+${w - 1}], 'min'),
        |        pos := j - 1 + list_position(hs[j:j+${w - 1}],
        |                 list_aggregate(hs[j:j+${w - 1}], 'min'))))
        |  ELSE list_transform(range(1, len(hs) + 1), i ->
        |    struct_pack(fp := hs[i], pos := i)) END AS sel FROM h),
        |selx AS (SELECT side, doc_id, unnest(sel) AS s FROM sel0),
        |first AS (SELECT side, doc_id, s.fp AS fp, min(s.pos) AS pos
        |  FROM selx GROUP BY 1, 2, 3),
        |keep AS (SELECT fp FROM first WHERE side = 1 GROUP BY fp
        |  HAVING count(*) <= $maxDf),
        |p AS (SELECT n.doc_id AS id_a, i.doc_id AS id_b, n.pos AS sa, i.pos AS sb
        |  FROM first n JOIN first i ON n.fp = i.fp AND n.side = 0 AND i.side = 1
        |  JOIN keep k2 ON k2.fp = n.fp),
        |cand AS (SELECT id_a, id_b, sa, sb, na.text ta, ib.text tb
        |  FROM p JOIN nw na ON na.doc_id = id_a JOIN idx ib ON ib.doc_id = id_b
        |  WHERE substr(na.text, sa::INT, $k) = substr(ib.text, sb::INT, $k)),
        |ext AS (SELECT id_a, id_b, sa, sb,
        |    list_max(list_filter(range(0, least(sa, sb)), l ->
        |      substr(ta, (sa - l)::INT, l::INT) = substr(tb, (sb - l)::INT, l::INT))) AS le,
        |    list_max(list_filter(range($k, least(length(ta) - sa, length(tb) - sb) + 2), r ->
        |      substr(ta, sa::INT, r::INT) = substr(tb, sb::INT, r::INT))) AS re
        |  FROM cand)
        |SELECT DISTINCT id_a, id_b,
        |  (sa - le)::INT AS start_a, (sb - le)::INT AS start_b,
        |  (le + re)::INT AS match_len
        |FROM ext WHERE le + re >= $minLen""".stripMargin))
  }

  /** Intra-document self-dedup REMOVAL gate ([[Dedup.removeSelfDupText]] —
    * Lee et al.'s cut semantics at document scope): every 13th doc gets its
    * own first 120 chars appended, so repeated spans provably exist; the
    * operator must find each repeat's later occurrence and delete it,
    * keeping the first. The oracle replays the whole path: all winnow
    * positions (NO earliest collapse — the later occurrence is the quarry),
    * the per-(doc, fp) occurrence window, within-doc position pairs, anchor
    * verify + maximal extension, interval-union removal, and the character-
    * level rebuild.
    */
  private lazy val dedupSelfRemoval: Q = {
    val minLen = 40; val w = 8; val maxOcc = 100
    val k = minLen - w + 1 // 33
    "x_dedup_self_removal" -> ((
      (s: SparkSession, dir: String) => {
        val d = docs(s, dir).select(col("doc_id"),
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" "), substring(col("text"), 1, 120)))
            .otherwise(col("text")).as("text"))
        Dedup.removeSelfDupText(d, "doc_id", "text", minLen, w, maxOcc)
      },
      s"""WITH docs2 AS (SELECT doc_id,
        |  CASE WHEN doc_id % 13 = 0 THEN text || ' ' || substr(text, 1, 120)
        |       ELSE text END AS t FROM documents),
        |t AS (SELECT doc_id, t AS text, greatest(length(t) - ${k - 1}, 0) AS m FROM docs2),
        |h AS (SELECT doc_id, CASE WHEN m > 0 THEN
        |    list_transform(range(1, m + 1), i ->
        |      list_reduce(list_prepend(0::BIGINT, list_transform(range(i, i + $k), j ->
        |        ascii(substr(text, j::INT, 1))::BIGINT)), (a, c) -> (a * 257 + c) % 1000000007))
        |  ELSE []::BIGINT[] END AS hs FROM t),
        |sel0 AS (SELECT doc_id, CASE WHEN len(hs) >= $w THEN
        |    list_transform(range(1, len(hs) - ${w - 1} + 1), j ->
        |      struct_pack(fp := list_aggregate(hs[j:j+${w - 1}], 'min'),
        |        pos := j - 1 + list_position(hs[j:j+${w - 1}],
        |                 list_aggregate(hs[j:j+${w - 1}], 'min'))))
        |  ELSE list_transform(range(1, len(hs) + 1), i ->
        |    struct_pack(fp := hs[i], pos := i)) END AS sel FROM h),
        |selx AS (SELECT doc_id, unnest(sel) AS s FROM sel0),
        |selu AS (SELECT DISTINCT doc_id, s.fp AS fp, s.pos AS pos FROM selx),
        |occ AS (SELECT doc_id, fp FROM selu GROUP BY 1, 2
        |  HAVING count(*) >= 2 AND count(*) <= $maxOcc),
        |p AS (SELECT a.doc_id, a.pos AS p1, b.pos AS p2
        |  FROM selu a JOIN selu b ON a.doc_id = b.doc_id AND a.fp = b.fp AND a.pos < b.pos
        |  JOIN occ ON occ.doc_id = a.doc_id AND occ.fp = a.fp),
        |cand AS (SELECT p.doc_id, p1, p2, d.t FROM p JOIN docs2 d ON d.doc_id = p.doc_id
        |  WHERE substr(d.t, p1::INT, $k) = substr(d.t, p2::INT, $k)),
        |ext AS (SELECT doc_id, p1, p2,
        |    list_max(list_filter(range(0, least(p1, p2)), l ->
        |      substr(t, (p1 - l)::INT, l::INT) = substr(t, (p2 - l)::INT, l::INT))) AS le,
        |    list_max(list_filter(range($k, least(length(t) - p1, length(t) - p2) + 2), r ->
        |      substr(t, p1::INT, r::INT) = substr(t, p2::INT, r::INT))) AS re
        |  FROM cand),
        |spans AS (SELECT DISTINCT doc_id, (p1 - le)::INT AS s1, (p2 - le)::INT AS s2,
        |    (le + re)::INT AS len FROM ext WHERE le + re >= $minLen),
        |chars AS (SELECT doc_id, i, substr(t, i::INT, 1) AS ch
        |  FROM docs2, UNNEST(range(1, length(t) + 1)) u(i)),
        |removed AS (SELECT DISTINCT c.doc_id, c.i FROM chars c
        |  JOIN spans s ON s.doc_id = c.doc_id AND c.i >= s.s2 AND c.i < s.s2 + s.len),
        |nsp AS (SELECT doc_id, count(*)::BIGINT AS n FROM spans GROUP BY 1),
        |nrm AS (SELECT doc_id, count(*)::BIGINT AS n FROM removed GROUP BY 1),
        |clean AS (SELECT c.doc_id,
        |    string_agg(c.ch, '' ORDER BY c.i) FILTER (WHERE r.i IS NULL) AS txt
        |  FROM chars c LEFT JOIN removed r ON r.doc_id = c.doc_id AND r.i = c.i
        |  GROUP BY 1)
        |SELECT d.doc_id, coalesce(clean.txt, '') AS text_clean,
        |  coalesce(nsp.n, 0) AS n_spans, coalesce(nrm.n, 0) AS n_removed_chars
        |FROM docs2 d LEFT JOIN nsp USING (doc_id) LEFT JOIN nrm USING (doc_id)
        |  LEFT JOIN clean USING (doc_id)""".stripMargin))
  }

  // ------------------------------------------------ event-stream analytics

  /** Strict-order funnel (view → click → purchase): stage counts where each
    * stage must happen strictly after the user's qualifying previous-stage
    * time — see [[operators.EventAnalytics.funnel]] for the keyed
    * conditional-min plan and why it beats the collect_list fold at scale.
    */
  private val eventsFunnel: Q = "x_events_funnel" -> ((
    (s: SparkSession, dir: String) =>
      operators.EventAnalytics.funnel(sources.EventsTable.load(s, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase")),
    """WITH f AS (SELECT user_id AS u, event_type AS et, ts AS t FROM events
      |           WHERE event_type IN ('view','click','purchase')),
      |s0 AS (SELECT u, min(t) AS ft FROM f WHERE et='view' GROUP BY u),
      |s1 AS (SELECT f.u, min(f.t) AS ft FROM f JOIN s0 USING(u)
      |       WHERE f.et='click' AND f.t > s0.ft GROUP BY f.u),
      |s2 AS (SELECT f.u, min(f.t) AS ft FROM f JOIN s1 USING(u)
      |       WHERE f.et='purchase' AND f.t > s1.ft GROUP BY f.u)
      |SELECT 0 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s0) AS users
      |UNION ALL SELECT 1 AS stage_idx, 'click' AS stage, (SELECT count(*) FROM s1) AS users
      |UNION ALL SELECT 2 AS stage_idx, 'purchase' AS stage, (SELECT count(*) FROM s2) AS users""".stripMargin))

  /** Conversion-window funnel: same strict-order chain with each stage
    * additionally required within 24 h of the previous stage's first-touch
    * time — [[operators.EventAnalytics.funnel]] with `maxDelay`.
    */
  private val eventsFunnelWindow: Q = "x_events_funnel_window" -> ((
    (s: SparkSession, dir: String) =>
      operators.EventAnalytics.funnel(sources.EventsTable.load(s, dir),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"),
        maxDelay = Some(24L * 3600 * 1000 * 1000 * 1000)),
    """WITH f AS (SELECT user_id AS u, event_type AS et, ts AS t FROM events
      |           WHERE event_type IN ('view','click','purchase')),
      |s0 AS (SELECT u, min(t) AS ft FROM f WHERE et='view' GROUP BY u),
      |s1 AS (SELECT f.u, min(f.t) AS ft FROM f JOIN s0 USING(u)
      |       WHERE f.et='click' AND f.t > s0.ft AND f.t <= s0.ft + INTERVAL 24 HOURS
      |       GROUP BY f.u),
      |s2 AS (SELECT f.u, min(f.t) AS ft FROM f JOIN s1 USING(u)
      |       WHERE f.et='purchase' AND f.t > s1.ft AND f.t <= s1.ft + INTERVAL 24 HOURS
      |       GROUP BY f.u)
      |SELECT 0 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s0) AS users
      |UNION ALL SELECT 1 AS stage_idx, 'click' AS stage, (SELECT count(*) FROM s1) AS users
      |UNION ALL SELECT 2 AS stage_idx, 'purchase' AS stage, (SELECT count(*) FROM s2) AS users""".stripMargin))

  /** Market-basket association rules over (user, day) baskets with the
    * props-JSON `k` as the item — [[operators.Basket.pairRules]]: support /
    * confidence / lift at minSupport, loud quadratic-basket guard.
    */
  private val eventsBasket: Q = "x_events_basket" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
      val baskets = ev.select(
        concat_ws("|", col("user_id"),
          date_format(to_date(graft.functions.Conversions.nanosToTimestamp(col("ts"))),
            "yyyy-MM-dd")).as("basket"),
        get_json_object(col("props"), "$.k").cast("int").as("item"))
      operators.Basket.pairRules(baskets, "basket", "item", minSupport = 3)
    },
    """WITH items AS (
      |  SELECT DISTINCT user_id::VARCHAR || '|' || strftime(CAST(ts AS DATE), '%Y-%m-%d') AS b,
      |    CAST(json_extract_string(props, '$.k') AS INT) AS i
      |  FROM events),
      |nb AS (SELECT count(DISTINCT b) AS n FROM items),
      |ic AS (SELECT i, count(*) AS cnt FROM items GROUP BY i),
      |p AS (SELECT l.i AS item_a, r.i AS item_b, count(*) AS support
      |      FROM items l JOIN items r ON l.b = r.b AND l.i < r.i
      |      GROUP BY 1, 2 HAVING count(*) >= 3)
      |SELECT item_a, item_b, support,
      |  round(support::DOUBLE / ca.cnt::DOUBLE, 6) AS conf_a_b,
      |  round(support::DOUBLE * (SELECT n FROM nb)::DOUBLE
      |        / (ca.cnt::DOUBLE * cb.cnt::DOUBLE), 6) AS lift
      |FROM p JOIN ic ca ON ca.i = item_a JOIN ic cb ON cb.i = item_b""".stripMargin))

  /** Kaplan–Meier time-to-conversion (signup → first later purchase, day
    * buckets, censored at corpus max ts) — [[operators.Survival]]: subjects
    * collapse to the duration-bucket frame in one keyed exchange, the curve
    * math is a window over days-not-subjects.
    */
  private val eventsSurvival: Q = "x_events_survival" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      val maxTs = ev.agg(max("t")).head().getLong(0)
      val subj = operators.Survival.durations(ev, "user_id", "event_type", "t",
        startType = "signup", endType = "purchase",
        bucketMs = 86400000L, censorTs = maxTs)
      operators.Survival.kaplanMeier(subj, "duration", "converted")
    },
    """WITH ev AS (SELECT user_id, event_type, epoch_ms(ts) AS t FROM events),
      |mx AS (SELECT max(t) AS m FROM ev),
      |s AS (SELECT user_id, min(t) AS t0 FROM ev WHERE event_type='signup' GROUP BY 1),
      |e AS (SELECT s.user_id, s.t0, min(ev.t) AS t1 FROM s
      |      LEFT JOIN ev ON ev.user_id = s.user_id AND ev.event_type='purchase'
      |                   AND ev.t > s.t0
      |      GROUP BY 1, 2),
      |subj AS (SELECT user_id,
      |    CASE WHEN t1 IS NOT NULL THEN (t1 - t0) // 86400000
      |         ELSE ((SELECT m FROM mx) - t0) // 86400000 END AS dur,
      |    CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS conv
      |  FROM e),
      |byday AS (SELECT dur AS t,
      |    sum(CASE WHEN conv = 1 THEN 1 ELSE 0 END) AS d,
      |    sum(CASE WHEN conv = 1 THEN 0 ELSE 1 END) AS c
      |  FROM subj GROUP BY 1),
      |risk AS (SELECT t, d, c,
      |    (SELECT count(*) FROM subj)
      |      - coalesce(sum(d + c) OVER (ORDER BY t
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
      |  FROM byday),
      |km AS (SELECT t, d, n_risk,
      |    CASE WHEN max(CASE WHEN d >= n_risk AND d > 0 THEN 1 ELSE 0 END)
      |        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) = 1
      |      THEN 0.0
      |      ELSE round(exp(sum(CASE WHEN d > 0 AND d < n_risk
      |          THEN ln(1 - d::DOUBLE / n_risk::DOUBLE) ELSE 0.0 END)
      |        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
      |      END AS survival
      |  FROM risk)
      |SELECT t, n_risk::BIGINT AS n_risk, d::BIGINT AS n_events, survival
      |FROM km WHERE d > 0""".stripMargin))

  /** Markov transition matrix over per-user event paths —
    * [[operators.EventAnalytics.transitionMatrix]]: one user-keyed window,
    * everything downstream type-vocabulary-sized.
    */
  private val eventsTransitions: Q = "x_events_transitions" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"), col("event_id"))
      operators.EventAnalytics.transitionMatrix(ev, "user_id", "event_type",
        orderCols = Seq("t", "event_id"))
    },
    """WITH p AS (
      |  SELECT event_type AS from_type,
      |    lead(event_type) OVER (PARTITION BY user_id
      |                           ORDER BY epoch_ms(ts), event_id) AS to_type
      |  FROM events),
      |c AS (SELECT from_type, to_type, count(*) AS n FROM p
      |      WHERE to_type IS NOT NULL GROUP BY 1, 2),
      |t AS (SELECT from_type, sum(n) AS total FROM c GROUP BY 1)
      |SELECT c.from_type, c.to_type, c.n,
      |  round(c.n::DOUBLE / t.total::DOUBLE, 6) AS p
      |FROM c JOIN t USING (from_type)""".stripMargin))

  /** Day-granularity cohort retention matrix —
    * [[operators.EventAnalytics.retention]]: two user-keyed exchanges,
    * O(days²) output regardless of event volume.
    */
  private val eventsRetention: Q = "x_events_retention" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .withColumn("ts", graft.functions.Conversions.nanosToTimestamp(col("ts")))
      operators.EventAnalytics.retention(ev, "user_id", "ts")
    },
    """WITH active AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
      |firstd AS (SELECT u, min(d) AS cohort FROM active GROUP BY u)
      |SELECT strftime(cohort, '%Y-%m-%d') AS cohort_day,
      |  (d - cohort) AS day_offset, count(DISTINCT a.u) AS users
      |FROM active a JOIN firstd USING(u) GROUP BY cohort, (d - cohort)""".stripMargin))

  // ------------------------------------------------- corpus token statistics

  /** Per-document token Shannon entropy (nats, 6 dp) —
    * [[operators.CorpusStats.tokenEntropy]]: two doc-keyed exchanges, state
    * bounded by within-doc distinct tokens.
    */
  private val textEntropy: Q = "x_text_entropy" -> ((
    (s: SparkSession, dir: String) =>
      operators.CorpusStats.tokenEntropy(docs(s, dir), "doc_id", "text"),
    """WITH toks AS (SELECT doc_id, unnest(string_split(trim(text),' ')) AS tok FROM documents),
      |wc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok)
      |SELECT doc_id, round(ln(sum(c)::DOUBLE) - sum(c::DOUBLE*ln(c::DOUBLE))/sum(c)::DOUBLE, 6)
      |  AS token_entropy
      |FROM wc GROUP BY doc_id""".stripMargin))

  /** Corpus-wide top-50 trigrams (count ≥ 5, lexicographic tie-break) —
    * [[operators.CorpusStats.topNgrams]]: word-count shuffle + bounded
    * [[operators.TopK]] cut, k rows to the driver.
    */
  private val corpusTrigrams: Q = "x_corpus_trigrams" -> ((
    (s: SparkSession, dir: String) =>
      operators.CorpusStats.topNgrams(docs(s, dir), "text", n = 3, k = 50, minCount = 5),
    """WITH toks AS (SELECT string_split(trim(text),' ') AS ws FROM documents),
      |grams AS (SELECT ws[i]||' '||ws[i+1]||' '||ws[i+2] AS gram
      |          FROM toks, UNNEST(range(1, len(ws)-1)) AS t(i)),
      |counted AS (SELECT gram, count(*) AS cnt FROM grams GROUP BY gram HAVING count(*) >= 5)
      |SELECT cnt, gram FROM counted ORDER BY cnt DESC, gram LIMIT 50""".stripMargin))

  /** Rolling DAU / trailing-7-day active users / stickiness per observed day
    * — [[operators.EventAnalytics.rollingActive]]: contribution explosion
    * over the deduplicated user-day frame (×7 that frame, never ×events),
    * all exchanges keyed.
    */
  private val eventsRollingActive: Q = "x_events_rolling_active" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .withColumn("ts", graft.functions.Conversions.nanosToTimestamp(col("ts")))
      operators.EventAnalytics.rollingActive(ev, "user_id", "ts", windowDays = 7)
    },
    """WITH active AS (SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events),
      |dau AS (SELECT d, count(*) AS dau FROM active GROUP BY d),
      |contrib AS (SELECT DISTINCT u, d + i::INT AS obs FROM active, UNNEST(range(0,7)) t(i)),
      |tr AS (SELECT obs, count(*) AS trailing FROM contrib GROUP BY obs)
      |SELECT strftime(dau.d,'%Y-%m-%d') AS day, dau.dau AS dau, tr.trailing AS trailing,
      |  round(dau.dau::DOUBLE/tr.trailing::DOUBLE, 6) AS stickiness
      |FROM dau JOIN tr ON tr.obs = dau.d""".stripMargin))

  /** STREAMING strict-order funnel: [[operators.EventAnalytics.funnelStateful]]
    * (flatMapGroupsWithState, O(users) state store, greedy fold ≡ the batch
    * conditional-min chain) run through an AvailableNow file stream and
    * gated against the SAME batch oracle as `x_events_funnel` — the
    * batch/stream parity statement for custom-state operators.
    */
  private val stEventFunnel: Q = "st_event_funnel" -> {
    val stages = Seq("view", "click", "purchase")
    ((
      (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
        import s.implicits._
        val slim = sources.EventsTable.load(s, dir)
          .where(col("event_type").isin(stages.map(x => x: Any): _*))
          .select(col("user_id").as("u"), col("event_type").as("et"), col("ts").as("t"))
        streamedGate(s, "stfunnel", slim)(
          plan = mk => operators.EventAnalytics.funnelStateful(mk(), stages),
          post = out => {
            val per = out.groupBy("u").agg(max("reached").as("reached"))
            val counts = per.where(col("reached") >= 0)
              .select(explode(sequence(lit(0), col("reached"))).as("stage_idx"))
              .groupBy("stage_idx").agg(count(lit(1)).as("users"))
            val stagesDf = stages.zipWithIndex
              .map { case (st, i) => (i, st) }.toDF("stage_idx", "stage")
            stagesDf.join(counts, Seq("stage_idx"), "left")
              .select(col("stage_idx"), col("stage"),
                coalesce(col("users"), lit(0L)).as("users"))
          })
      },
      """WITH f AS (SELECT user_id AS u, event_type AS et, ts AS t FROM events
        |           WHERE event_type IN ('view','click','purchase')),
        |s0 AS (SELECT u, min(t) AS ft FROM f WHERE et='view' GROUP BY u),
        |s1 AS (SELECT f.u, min(f.t) AS ft FROM f JOIN s0 USING(u)
        |       WHERE f.et='click' AND f.t > s0.ft GROUP BY f.u),
        |s2 AS (SELECT f.u, min(f.t) AS ft FROM f JOIN s1 USING(u)
        |       WHERE f.et='purchase' AND f.t > s1.ft GROUP BY f.u)
        |SELECT 0 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s0) AS users
        |UNION ALL SELECT 1 AS stage_idx, 'click' AS stage, (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT 2 AS stage_idx, 'purchase' AS stage, (SELECT count(*) FROM s2) AS users""".stripMargin))
  }

  /** STREAMING SLIDING-window aggregation (2 h window, 1 h slide): each
    * event lands in two overlapping windows — the windowed-agg family's
    * third shape next to tumbling (`st_windowed_counts`) and session
    * (`st_sessionize`). Round 14: runs the five-batch LATE-DATA fixture
    * (cross-batch arrivals both within and beyond the watermark — see the
    * in-body comment and [[stLateData]]); the oracle replays the
    * two-starts-per-event expansion AND the per-expanded-copy late-drop
    * predicate.
    */
  private lazy val stSlidingCounts: Q = "st_sliding_counts" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      import s.implicits._
      // Round 14: five-batch late-data fixture ([[stageLateTopic]] — same
      // layout and held-back samples as st_late_data/st_sessionize). The
      // sliding twist: each event expands to TWO hop windows BEFORE the
      // late filter, and the watermark predicate tests each expanded
      // copy's own window END — so one copy of a late row can merge (its
      // later window still open) while the other is dropped (its earlier
      // window finalized). The oracle replays exactly that per-expanded-
      // copy predicate.
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"),
          graft.functions.Conversions.nanosToTimestamp(col("ts")).as("ts"),
          col("event_type"))
      val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (mnUs, mxUs) = (mm.getLong(0), mm.getLong(1))
      val cutUs = mnUs + (mxUs - mnUs) * 6 / 10
      val recentUs = cutUs - 14400000000L
      val lab = ev.withColumn("_us", unix_micros(col("ts")))
        .withColumn("_late",
          (col("_us") < recentUs && col("event_id") % 7 === 3) ||
          (col("_us") >= recentUs && col("_us") < cutUs && col("event_id") % 3 === 1))
      val outCols = Seq(col("ts"), col("event_type"))
      val topicSchema = ev.select(outCols: _*).schema
      scratchTree("stslide") { tmp =>
        stageLateTopic(lab, outCols, recentUs, cutUs,
          Seq((new java.sql.Timestamp(mxUs / 1000L + 4 * 3600 * 1000L), "___wm"))
            .toDF("ts", "event_type"), tmp)
        runToEnd(tmp)(s.readStream.schema(topicSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "2 hours", "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("event_type"), col("n"))
          .writeStream.outputMode("append")
          .format("parquet").option("path", s"$tmp/out"))
        s.read.parquet(s"$tmp/out").where(col("event_type") =!= "___wm")
      }
    },
    """WITH b AS (SELECT epoch_us(min(ts)) mn, epoch_us(max(ts)) mx FROM events),
      |cut AS (SELECT mn + (mx - mn) * 6 // 10 AS cutus,
      |               mn + (mx - mn) * 6 // 10 - 14400000000 AS recentus FROM b),
      |lab AS (SELECT event_type, ts, epoch_us(ts) us,
      |    ((epoch_us(ts) < (SELECT recentus FROM cut) AND event_id % 7 = 3)
      |     OR (epoch_us(ts) >= (SELECT recentus FROM cut)
      |         AND epoch_us(ts) < (SELECT cutus FROM cut)
      |         AND event_id % 3 = 1)) AS late
      |  FROM events),
      |wm AS (SELECT max(us) - 600000000 AS wm1 FROM lab
      |  WHERE us < (SELECT recentus FROM cut) AND NOT late),
      |ex AS (SELECT event_type, late,
      |        unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR, date_trunc('hour', ts)]) AS ws
      |      FROM lab),
      |keep AS (SELECT * FROM ex WHERE NOT late
      |  OR epoch_us(ws) + 7200000000 > (SELECT wm1 FROM wm))
      |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type, count(*) AS n
      |FROM keep GROUP BY ws, event_type""".stripMargin))

  /** STREAMING LATE-DATA gate (round-12 verdict item 6): the one streaming
    * behavior class the board didn't yet pin — out-of-order arrivals ACROSS
    * real micro-batch boundaries, both within the watermark (must merge
    * into their still-open windows) and beyond it (must be dropped by the
    * pre-aggregation watermark filter).
    *
    * Fixture (all deterministic, derived from the events table): with a
    * 60% time cut and a 4 h "recent" band just before it, FIVE sequential
    * micro-batches:
    *   b0 on-time OLD rows (before the band, minus the `event_id % 7 == 3`
    *      sample) — sets the late-filter watermark;
    *   b1 on-time RECENT rows (the band, minus `event_id % 3 == 1`) — a
    *      spacer batch, see the dual-watermark note below;
    *   b2 the LATE arrivals: the held-back old %7 sample (windows long
    *      finalized → must DROP) plus the held-back recent %3 sample
    *      (windows still open → must MERGE with b1's state);
    *   b3 the post-cut rows (never late: the filter watermark trails the
    *      cut by > 4 h); b4 the far-future sentinel that flushes all.
    *
    * Dual-watermark subtlety (Spark 3.4+, verified against the progress
    * telemetry while building this gate): the LATE-EVENT FILTER of batch N
    * uses the watermark as of batch N−1's start (one batch behind the
    * EVICTION watermark), so late rows dropped in b2 are judged against
    * `max(b0 event time) − 10 min` — a two-batch structure (the round-12
    * verdict's sketch) drops NOTHING because the filter watermark is still
    * the epoch when the late rows arrive; b1 exists precisely to age b0's
    * watermark into the filter. A held-back row is accepted iff its
    * hour-window END is above that watermark (rows are filtered when
    * `window_end <= wm`, i.e. once their window is finalized — NOT by raw
    * event time). The oracle replays the batch assignment, the exact µs
    * watermark arithmetic, and the drop predicate in DuckDB;
    * `StreamingLateDataSpec` asserts the fixture really contains BOTH late
    * classes (non-vacuity: 4 merge / 89 drop at sf0.001) and that the
    * drops change the answer vs a naive all-rows aggregation. Micro-batch
    * order is deterministic: one file per batch written sequentially
    * (FileStreamSource processes oldest mtime first), `maxFilesPerTrigger=1`.
    */
  private lazy val stLateData: Q = "st_late_data" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      import s.implicits._
      val ev = sources.EventsTable.load(s, dir)
        .select(graft.functions.Conversions.nanosToTimestamp(col("ts")).as("ts"),
          col("event_id"), col("event_type"), col("value"))
      val mm = ev.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val (mnUs, mxUs) = (mm.getLong(0), mm.getLong(1))
      val cutUs = mnUs + (mxUs - mnUs) * 6 / 10
      val recentUs = cutUs - 14400000000L // the 4 h "recent" band start
      val lab = ev.withColumn("_us", unix_micros(col("ts")))
        .withColumn("_late",
          (col("_us") < recentUs && col("event_id") % 7 === 3) ||
          (col("_us") >= recentUs && col("_us") < cutUs && col("event_id") % 3 === 1))
      val outCols = Seq(col("ts"), col("event_type"), col("value"))
      val topicSchema = ev.select(outCols: _*).schema
      scratchTree("stlate") { tmp =>
        // Five sequential single-file batches (shared [[stageLateTopic]]
        // layout). FileStreamSource orders by modification time (ms
        // precision); each write is a full Spark job (>100 ms wall), so
        // consecutive files can never tie — no sleep needed between writes.
        stageLateTopic(lab, outCols, recentUs, cutUs,
          Seq((new java.sql.Timestamp(mxUs / 1000L + 2 * 3600 * 1000L), "___wm", 0.0))
            .toDF("ts", "event_type", "value"), tmp)
        runToEnd(tmp)(s.readStream.schema(topicSchema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
          .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("event_type"), col("n"), col("sum_value"))
          .writeStream.outputMode("append")
          .format("parquet").option("path", s"$tmp/out"))
        s.read.parquet(s"$tmp/out").where(col("event_type") =!= "___wm")
      }
    },
    """WITH b AS (SELECT epoch_us(min(ts)) mn, epoch_us(max(ts)) mx FROM events),
      |cut AS (SELECT mn + (mx - mn) * 6 // 10 AS cutus,
      |               mn + (mx - mn) * 6 // 10 - 14400000000 AS recentus FROM b),
      |lab AS (SELECT event_type, value, ts, epoch_us(ts) us,
      |    ((epoch_us(ts) < (SELECT recentus FROM cut) AND event_id % 7 = 3)
      |     OR (epoch_us(ts) >= (SELECT recentus FROM cut)
      |         AND epoch_us(ts) < (SELECT cutus FROM cut)
      |         AND event_id % 3 = 1)) AS late
      |  FROM events),
      |wm AS (SELECT max(us) - 600000000 AS wm1 FROM lab
      |  WHERE us < (SELECT recentus FROM cut) AND NOT late),
      |keep AS (SELECT * FROM lab WHERE NOT late
      |  OR epoch_us(date_trunc('hour', ts)) + 3600000000 > (SELECT wm1 FROM wm))
      |SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM keep GROUP BY 1, 2""".stripMargin))

  /** Per-user daily resample with forward fill: the time-series
    * regularization every feature pipeline needs — calendar days between a
    * user's first and last activity, carrying the last observed value
    * across silent days.
    *
    * Plan shape: deterministic latest-per-day value via
    * `max(struct(event_id, value))` (argmax by the unique event id — no
    * window sort), per-user day spans
    * exploded from ONE bounds aggregation (fan-out = user-day span, keyed),
    * and the fill is `last(value, ignoreNulls)` over a per-user
    * day-ordered frame — partitioned by user, so the window sort is
    * per-user-span, never global.
    */
  private val eventsResample: Q = "x_events_resample" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          to_date(graft.functions.Conversions.nanosToTimestamp(col("ts"))).as("d"))
      operators.EventAnalytics.resampleDaily(ev, "user_id", "event_id", "value", "d")
    },
    """WITH pd AS (
      |  SELECT user_id, CAST(ts AS DATE) AS d, arg_max(value, event_id) AS v
      |  FROM events GROUP BY 1, 2),
      |bounds AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM pd GROUP BY 1),
      |alldays AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS d
      |  FROM bounds),
      |j AS (SELECT a.user_id, a.d, pd.v FROM alldays a
      |  LEFT JOIN pd ON pd.user_id = a.user_id AND pd.d = a.d)
      |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
      |  round(last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY d
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS value,
      |  CASE WHEN v IS NULL THEN 1 ELSE 0 END AS was_gap
      |FROM j""".stripMargin))

  /** k-anonymity suppression gate — [[operators.Privacy.kAnonymize]] on the
    * (event_type, user_id) quasi space at k=6 (the reference's own k6
    * discipline): only rows whose combination has ≥ 6 peers survive.
    */
  private val privacyKanon: Q = "x_privacy_kanon" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"))
      operators.Privacy.kAnonymize(ev, Seq("event_type", "user_id"), k = 6)
        .select("event_id", "user_id", "event_type")
    },
    """SELECT event_id, user_id, event_type FROM events
      |WHERE (event_type, user_id) IN (
      |  SELECT (event_type, user_id) FROM events
      |  GROUP BY event_type, user_id HAVING count(*) >= 6)""".stripMargin))

  /** ε-DP noisy counts with engine-replayable Laplace noise —
    * [[operators.Privacy.dpNoisyCounts]]; the oracle replays every noisy
    * count bit-for-bit from the hash-uniform inverse CDF.
    */
  private val privacyDpCounts: Q = "x_privacy_dp_counts" -> ((
    (s: SparkSession, dir: String) =>
      operators.Privacy.dpNoisyCounts(sources.EventsTable.load(s, dir),
        Seq("event_type"), epsilon = 0.5),
    """WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
      |u AS (SELECT event_type, n,
      |  (('0x'||substr(md5(event_type||'|dp'),1,8))::BIGINT::DOUBLE + 0.5)/4294967296.0 AS u
      |  FROM g)
      |SELECT event_type, n,
      |  round(n + (-2.0) * sign(u-0.5) * ln(1 - 2*abs(u-0.5)), 6) AS noisy_n
      |FROM u""".stripMargin))

  /** The SAME streaming funnel on the `transformWithState` API
    * ([[graft.streaming.FunnelTws]]) under the ROCKSDB state-store
    * provider (TWS requires it), gated against the SAME batch oracle as
    * `x_events_funnel` / `st_event_funnel` — the three-way equivalence
    * that makes the flatMapGroupsWithState → TWS migration a proven
    * one-line swap.
    */
  private val stFunnelTws: Q = "st_funnel_tws" -> {
    val stages = Seq("view", "click", "purchase")
    ((
      (s: SparkSession, dir: String) => withTwsState(s) {
        import s.implicits._
        val slim = sources.EventsTable.load(s, dir)
          .where(col("event_type").isin(stages.map(x => x: Any): _*))
          .select(col("user_id").as("u"), col("event_type").as("et"), col("ts").as("t"))
        streamedGate(s, "stfunneltws", slim)(
          plan = mk => graft.streaming.FunnelTws.funnel(mk(), stages),
          post = out => {
            val per = out.groupBy("u").agg(max("reached").as("reached"))
            val counts = per.where(col("reached") >= 0)
              .select(explode(sequence(lit(0), col("reached"))).as("stage_idx"))
              .groupBy("stage_idx").agg(count(lit(1)).as("users"))
            val stagesDf = stages.zipWithIndex
              .map { case (st, i) => (i, st) }.toDF("stage_idx", "stage")
            stagesDf.join(counts, Seq("stage_idx"), "left")
              .select(col("stage_idx"), col("stage"),
                coalesce(col("users"), lit(0L)).as("users"))
          })
      },
      """WITH f AS (SELECT user_id AS u, event_type AS et, ts AS t FROM events
        |           WHERE event_type IN ('view','click','purchase')),
        |s0 AS (SELECT u, min(t) AS ft FROM f WHERE et='view' GROUP BY u),
        |s1 AS (SELECT f.u, min(f.t) AS ft FROM f JOIN s0 USING(u)
        |       WHERE f.et='click' AND f.t > s0.ft GROUP BY f.u),
        |s2 AS (SELECT f.u, min(f.t) AS ft FROM f JOIN s1 USING(u)
        |       WHERE f.et='purchase' AND f.t > s1.ft GROUP BY f.u)
        |SELECT 0 AS stage_idx, 'view' AS stage, (SELECT count(*) FROM s0) AS users
        |UNION ALL SELECT 1 AS stage_idx, 'click' AS stage, (SELECT count(*) FROM s1) AS users
        |UNION ALL SELECT 2 AS stage_idx, 'purchase' AS stage, (SELECT count(*) FROM s2) AS users""".stripMargin))
  }

  /** Vocabulary coverage at frequency cutoffs —
    * [[operators.CorpusStats.vocabCoverage]]: one word-count shuffle, head
    * cut by the bounded top-k aggregate, never a global vocab sort.
    */
  private val vocabCoverage: Q = "x_vocab_coverage" -> ((
    (s: SparkSession, dir: String) =>
      operators.CorpusStats.vocabCoverage(docs(s, dir), "text", Seq(5, 10, 50)),
    """WITH toks AS (SELECT unnest(string_split(trim(text),' ')) AS tok FROM documents),
      |wc AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      |total AS (SELECT sum(cnt) AS n FROM wc),
      |ranked AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk FROM wc)
      |SELECT c.cutoff, round(sum(CASE WHEN rk <= c.cutoff THEN cnt ELSE 0 END)::DOUBLE
      |  / (SELECT n FROM total)::DOUBLE, 6) AS coverage
      |FROM ranked, (VALUES (5),(10),(50)) c(cutoff) GROUP BY c.cutoff""".stripMargin))

  /** Zipf-exponent fit over the top-50 frequency head —
    * [[operators.CorpusStats.zipfFit]]: bounded top-k head + closed-form
    * OLS moments on k rows.
    */
  private val textZipf: Q = "x_text_zipf" -> ((
    (s: SparkSession, dir: String) =>
      operators.CorpusStats.zipfFit(docs(s, dir), "text", k = 50),
    """WITH toks AS (SELECT unnest(string_split(trim(text),' ')) AS tok FROM documents),
      |wc AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
      |r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok) AS rk FROM wc),
      |h AS (SELECT ln(rk::DOUBLE) AS x, ln(cnt::DOUBLE) AS y FROM r WHERE rk <= 50),
      |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |      sum(x*y) AS sxy, sum(x*x) AS sxx FROM h)
      |SELECT n AS k_used,
      |  round((sxy - sx*sy/n)/(sxx - sx*sx/n), 6) AS slope,
      |  round((sy - ((sxy - sx*sy/n)/(sxx - sx*sx/n))*sx)/n, 6) AS intercept
      |FROM m""".stripMargin))

  /** Pairwise Jensen–Shannon divergence between per-source unigram
    * distributions — [[operators.CorpusStats.sourceDivergence]]: two
    * token-keyed one-sided joins instead of a pairs×vocabulary grid.
    */
  private val textJsdSources: Q = "x_text_jsd_sources" -> ((
    (s: SparkSession, dir: String) =>
      operators.CorpusStats.sourceDivergence(docs(s, dir), "source", "text"),
    """WITH tok AS (SELECT source AS s, unnest(string_split(trim(text),' ')) AS tok
      |             FROM documents),
      |c AS (SELECT s, tok, count(*) AS c FROM tok GROUP BY 1, 2),
      |n AS (SELECT s, sum(c) AS n FROM c GROUP BY 1),
      |p AS (SELECT c.s, c.tok, c.c::DOUBLE / n.n::DOUBLE AS p FROM c JOIN n USING (s)),
      |pr AS (SELECT a.s AS src_a, b.s AS src_b FROM n a JOIN n b ON a.s < b.s),
      |sa AS (SELECT pr.src_a, pr.src_b,
      |    pa.p/2 * ln(pa.p / ((pa.p + coalesce(pb.p, 0))/2)) AS term
      |  FROM pr JOIN p pa ON pa.s = pr.src_a
      |  LEFT JOIN p pb ON pb.s = pr.src_b AND pb.tok = pa.tok),
      |sb AS (SELECT pr.src_a, pr.src_b,
      |    pb.p/2 * ln(pb.p / ((pb.p + coalesce(pa.p, 0))/2)) AS term
      |  FROM pr JOIN p pb ON pb.s = pr.src_b
      |  LEFT JOIN p pa ON pa.s = pr.src_a AND pa.tok = pb.tok)
      |SELECT src_a, src_b, round(sum(term), 6) AS jsd
      |FROM (SELECT * FROM sa UNION ALL SELECT * FROM sb) GROUP BY 1, 2""".stripMargin))

  /** Flesch reading ease (vowel-group syllable heuristic, 6 dp) — pure
    * scan-riding scalar, [[graft.functions.TextAnalysis.fleschReadingEase]].
    */
  private val textReadability: Q = "x_text_readability" -> ((
    (s: SparkSession, dir: String) =>
      docs(s, dir).select(col("doc_id"),
        TextAnalysis.fleschReadingEase(col("text")).as("flesch")),
    """SELECT doc_id, round(206.835
      |  - 1.015 * (greatest(len(string_split(trim(lower(text)),' ')),1)::DOUBLE
      |             / greatest(len(regexp_extract_all(text,'[.!?]+')),1)::DOUBLE)
      |  - 84.6 * (list_reduce(list_prepend(0::BIGINT,
      |        list_transform(string_split(trim(lower(text)),' '),
      |          w -> greatest(len(regexp_extract_all(w,'[aeiouy]+')),1)::BIGINT)),
      |        (a,b) -> a+b)::DOUBLE
      |      / greatest(len(string_split(trim(lower(text)),' ')),1)::DOUBLE), 6) AS flesch
      |FROM documents""".stripMargin))

  /** Multi-touch attribution — [[operators.EventAnalytics.attribution]]:
    * linear + U-shaped position credit for touches strictly before each
    * user's first purchase; first/last are argmin/argmax aggregates (id
    * tie-break), never a per-user window sort.
    */
  private val eventsAttribution: Q = "x_events_attribution" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      operators.EventAnalytics.attribution(ev, "user_id", "event_type", "t",
        "event_id", conversionType = "purchase")
    },
    """WITH conv AS (
      |  SELECT user_id, min(epoch_ms(ts)) AS tc FROM events
      |  WHERE event_type = 'purchase' GROUP BY 1),
      |tch AS (
      |  SELECT e.user_id, e.event_id, e.event_type, epoch_ms(e.ts) AS t
      |  FROM events e JOIN conv USING (user_id)
      |  WHERE epoch_ms(e.ts) < tc AND e.event_type <> 'purchase'),
      |st AS (
      |  SELECT user_id, count(*) AS n,
      |         min(struct_pack(t := t, event_id := event_id)) AS fst,
      |         max(struct_pack(t := t, event_id := event_id)) AS lst
      |  FROM tch GROUP BY 1),
      |cr AS (
      |  SELECT tch.event_type, 1.0/n AS lin,
      |    CASE WHEN n = 1 THEN 1.0
      |         WHEN n = 2 THEN 0.5
      |         WHEN tch.event_id = fst.event_id THEN 0.4
      |         WHEN tch.event_id = lst.event_id THEN 0.4
      |         ELSE 0.2/(n-2) END AS pos
      |  FROM tch JOIN st USING (user_id))
      |SELECT event_type, count(*) AS touches,
      |  round(sum(lin), 6) AS linear_credit,
      |  round(sum(pos), 6) AS position_credit
      |FROM cr GROUP BY 1""".stripMargin))

  /** RFM segmentation — [[operators.EventAnalytics.rfm]]: user-keyed
    * collapse to the users frame first, then three ntile(5) windows over
    * that (users-sized) frame with the user id as tie-break.
    */
  private val eventsRfm: Q = "x_events_rfm" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_type"), col("value"),
          graft.functions.Conversions.nanosToTimestamp(col("ts")).as("t"))
      operators.EventAnalytics.rfm(ev, "user_id", "event_type", "t", "value",
        conversionType = "purchase")
    },
    """WITH conv AS (
      |  SELECT user_id, ts::DATE AS d, value FROM events
      |  WHERE event_type = 'purchase'),
      |pu AS (
      |  SELECT user_id, max(d) AS last_day, count(*) AS frequency,
      |         round(sum(value), 6) AS monetary
      |  FROM conv GROUP BY 1),
      |ref AS (SELECT max(d) AS ref FROM conv),
      |sc AS (
      |  SELECT user_id, datediff('day', last_day, ref) AS recency_days,
      |         frequency, monetary
      |  FROM pu CROSS JOIN ref)
      |SELECT user_id, recency_days, frequency, monetary,
      |  ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r,
      |  ntile(5) OVER (ORDER BY frequency, user_id) AS f,
      |  ntile(5) OVER (ORDER BY monetary, user_id) AS m,
      |  ntile(5) OVER (ORDER BY recency_days DESC, user_id)::VARCHAR ||
      |  ntile(5) OVER (ORDER BY frequency, user_id)::VARCHAR ||
      |  ntile(5) OVER (ORDER BY monetary, user_id)::VARCHAR AS segment
      |FROM sc""".stripMargin))

  /** Top-k entry paths — [[operators.EventAnalytics.topPaths]]: per-user
    * head via a user-keyed row_number window, ordered concat bounded at
    * `depth`, global cut by orderBy.limit (TakeOrdered, k rows per
    * partition to the driver).
    */
  private val eventsPaths: Q = "x_events_paths" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_type"), col("event_id"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      operators.EventAnalytics.topPaths(ev, "user_id", "event_type", "t",
        "event_id", depth = 5, k = 20)
    },
    """WITH r AS (
      |  SELECT user_id, event_type,
      |    row_number() OVER (PARTITION BY user_id
      |                       ORDER BY epoch_ms(ts), event_id) AS rn
      |  FROM events),
      |p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path
      |      FROM r WHERE rn <= 5 GROUP BY user_id)
      |SELECT path, count(*) AS users FROM p GROUP BY path
      |ORDER BY users DESC, path LIMIT 20""".stripMargin))

  /** Peak interval concurrency — [[operators.EventAnalytics.peakConcurrency]]
    * (hierarchical hour-bucketed sweep-line with exact carry-in). The
    * oracle computes the DAY-LEVEL ground truth directly from the global
    * step function — the engine's hourly decomposition must be invisible.
    * Fixture durations (< 1 h) keep the observed-day sets identical.
    */
  private val eventsConcurrency: Q = "x_events_concurrency" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"),
          col("value"))
      operators.EventAnalytics.peakConcurrency(ev, "t",
        floor(col("value") * 1000).cast("long"))
    },
    """WITH iv AS (
      |  SELECT epoch_ms(ts) AS s, epoch_ms(ts) + floor(value*1000)::BIGINT AS e
      |  FROM events WHERE floor(value*1000) > 0),
      |pts AS (SELECT s AS t, 1 AS d FROM iv
      |        UNION ALL SELECT e, -1 FROM iv),
      |net AS (SELECT t, sum(d) AS net FROM pts GROUP BY t),
      |run AS (SELECT t, sum(net) OVER (ORDER BY t) AS run FROM net),
      |days AS (
      |  SELECT t // 86400000 AS dk, max(run) AS peak_in,
      |         max(CASE WHEN t % 86400000 = 0 THEN 1 ELSE 0 END) AS has0
      |  FROM run GROUP BY 1)
      |SELECT strftime(epoch_ms(dk * 86400000), '%Y-%m-%d') AS day,
      |  (CASE WHEN has0 = 1 THEN peak_in
      |        ELSE greatest(peak_in,
      |          coalesce((SELECT sum(net) FROM net WHERE t < dk * 86400000), 0))
      |   END)::BIGINT AS peak_concurrency
      |FROM days""".stripMargin))

  /** Weighted (multiset) Jaccard near-dup pairs —
    * [[Dedup.weightedJaccardPairs]]: occurrence-expanded elements
    * `(tok, i ≤ cap)` run through the df-capped inverted-index machinery;
    * the oracle replays the expansion, cap, df filter and pair counts.
    */
  private val dedupWeightedJaccard: Q = "x_dedup_weighted_jaccard" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.weightedJaccardPairs(docs(s, dir), "doc_id", "text",
        n = 3, cap = 5, threshold = 0.4, maxDf = 1000),
    """WITH t AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
      |sh AS (SELECT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
      |       FROM t, UNNEST(range(1, len(ws)-1)) r(i)),
      |tok AS (SELECT doc_id, s, count(*) AS c FROM sh GROUP BY 1, 2),
      |el AS (SELECT doc_id, s || '#' || k::VARCHAR AS e
      |       FROM tok, UNNEST(range(1, least(c, 5)+1)) AS r(k)),
      |dfc AS (SELECT e, count(*) AS dfn FROM el GROUP BY e),
      |kept AS (SELECT el.doc_id, el.e FROM el JOIN dfc USING (e) WHERE dfn <= 1000),
      |cnt AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY 1),
      |inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
      |          FROM kept a JOIN kept b ON a.e = b.e AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT id_a, id_b, n_inter::DOUBLE/(ca.n + cb.n - n_inter) AS wjaccard
      |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |WHERE n_inter::DOUBLE/(ca.n + cb.n - n_inter) > 0.4""".stripMargin))

  /** Corpus line-dedup gate — [[Dedup.lineDedup]]: the corpus has no
    * newlines, so the fixture renders each doc as 10-token lines first (a
    * deterministic transform the oracle replays); lines in ≥ 2 distinct
    * docs are removed everywhere and docs reassemble in order.
    */
  private val dedupLines: Q = "x_dedup_lines" -> ((
    (s: SparkSession, dir: String) => {
      val t = docs(s, dir).select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("ws"))
      val lined = t.select(col("doc_id"), array_join(transform(
        sequence(lit(0), ceil(size(col("ws")) / lit(10.0)).cast("int") - 1),
        i => array_join(slice(col("ws"), i * 10 + 1, lit(10)), " ")), "\n")
        .as("text"))
      Dedup.lineDedup(lined, "doc_id", "text", minDf = 2)
    },
    """WITH t AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
      |ln AS (SELECT doc_id, i AS pos,
      |         array_to_string(ws[i*10+1 : i*10+10], ' ') AS line
      |       FROM t, UNNEST(range(0, (len(ws)+9)//10)) r(i)),
      |dfc AS (SELECT line, count(*) AS dfn FROM
      |  (SELECT DISTINCT doc_id, line FROM ln WHERE trim(line) <> '')
      |  GROUP BY line),
      |v AS (SELECT ln.doc_id, ln.pos, ln.line,
      |        coalesce(dfn, 0) >= 2 AS dup
      |      FROM ln LEFT JOIN dfc USING (line))
      |SELECT doc_id,
      |  coalesce(string_agg(line, chr(10) ORDER BY pos)
      |             FILTER (WHERE NOT dup), '') AS text,
      |  sum(CASE WHEN dup THEN 0 ELSE 1 END)::BIGINT AS n_kept,
      |  sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS n_removed
      |FROM v GROUP BY doc_id""".stripMargin))

  /** TextRank keyword gate — [[operators.CorpusStats.textRankKeywords]]:
    * adjacent-token co-occurrence graph (directed counts ≥ 2, then
    * symmetrized presence), 5 damped power iterations via the shared
    * [[operators.Graph.pageRank]], top-20 words. The oracle unrolls the
    * iterations with the same sorted-source folds and double-forced
    * constants as the x_graph_pagerank oracle.
    */
  private lazy val textTextrank: Q = {
    val iterCtes = (1 to 5).map { t =>
      s"""i$t AS (SELECT e.dst AS id,
         |  list_reduce(list_prepend(0.0, list(r.r/d.deg ORDER BY e.src)), (a,b)->a+b) AS v
         |  FROM edges e JOIN degq d ON d.src=e.src JOIN r${t - 1} r ON r.id=e.src GROUP BY e.dst),
         |r$t AS (SELECT n0.id,
         |  (1.0::DOUBLE - 0.85::DOUBLE)/nn.n + 0.85::DOUBLE*coalesce(i$t.v, 0.0::DOUBLE) AS r
         |  FROM nodesq n0 CROSS JOIN nn LEFT JOIN i$t ON i$t.id=n0.id)""".stripMargin
    }.mkString(",\n")
    "x_text_textrank" -> ((
      (s: SparkSession, dir: String) =>
        operators.CorpusStats.textRankKeywords(docs(s, dir), "text",
          minCount = 2, iters = 5, damping = 0.85, k = 20),
      s"""WITH t AS (SELECT string_split(trim(text),' ') AS ws FROM documents),
         |pr0 AS (SELECT ws[i] AS w1, ws[i+1] AS w2 FROM t, UNNEST(range(1, len(ws))) r(i)),
         |pc AS (SELECT w1, w2 FROM pr0 WHERE w1 <> w2 GROUP BY 1, 2 HAVING count(*) >= 2),
         |edges AS (SELECT w1 AS src, w2 AS dst FROM pc UNION SELECT w2, w1 FROM pc),
         |degq AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
         |nodesq AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM nodesq),
         |r0 AS (SELECT id, 1.0::DOUBLE/nn.n AS r FROM nodesq CROSS JOIN nn),
         |$iterCtes
         |SELECT id AS word, round(r, 6) AS pagerank FROM r5
         |ORDER BY round(r, 6) DESC, id LIMIT 20""".stripMargin))
  }

  /** Record-linkage gate — [[operators.Linkage.fuzzyPairs]] over distinct
    * part names, first-byte blocking, native Jaro–Winkler verify at 0.8.
    * The oracle uses DuckDB's own `jaro_winkler_similarity` — the
    * strongest available independent check of the expression's pinned
    * byte-level semantics.
    */
  private val linkJaroWinkler: Q = "x_link_jarowinkler" -> ((
    (s: SparkSession, dir: String) => {
      val names = s.read.parquet(s"$dir/part.parquet")
        .select(col("p_name").as("name")).distinct()
      operators.Linkage.fuzzyPairs(names, "name", "name",
        substring(col("name"), 1, 1), threshold = 0.8)
        .select(col("id_a"), col("id_b"), col("jw"))
    },
    """WITH nm AS (SELECT DISTINCT p_name AS name FROM part),
      |b AS (SELECT name, substr(name, 1, 1) AS bk FROM nm)
      |SELECT a.name AS id_a, c.name AS id_b,
      |  round(jaro_winkler_similarity(a.name, c.name), 6) AS jw
      |FROM b a JOIN b c ON a.bk = c.bk AND a.name < c.name
      |WHERE round(jaro_winkler_similarity(a.name, c.name), 6) >= 0.8""".stripMargin))

  /** Z-order layout gate: the Morton interleave
    * ([[graft.sinks.ParquetLayout.zValue]]) replayed bit-for-bit by the
    * oracle — 8 bits per dimension over (user_id mod 256, minute mod 256).
    * The LAYOUT claim (row-group skipping on either dimension) is an
    * executed-metric assertion in ZOrderTriangleSpec; the gate pins the
    * curve math any engine must reproduce to read the layout back.
    */
  private lazy val layoutZorder: Q = {
    val terms = (0 until 8).flatMap(i => Seq(
      s"(((u >> $i) & 1) << ${2 * i})", s"(((m >> $i) & 1) << ${2 * i + 1})"))
      .mkString(" + ")
    "x_layout_zorder" -> ((
      (s: SparkSession, dir: String) => {
        val ev = sources.EventsTable.load(s, dir)
          .select(col("event_id"),
            pmod(col("user_id"), lit(256L)).as("u"),
            pmod(graft.functions.Conversions.nanosToEpochMs(col("ts"))
              .cast("long") / lit(60000L), lit(256L)).cast("long").as("m"))
        ev.select(col("event_id"),
          sinks.ParquetLayout.zValue(col("u"), col("m"), 8).as("z"))
      },
      s"""WITH e AS (SELECT event_id, user_id % 256 AS u,
         |  (epoch_ms(ts) // 60000) % 256 AS m FROM events)
         |SELECT event_id, ($terms)::BIGINT AS z FROM e""".stripMargin))
  }

  /** Triangle/clustering-coefficient gate over the minhash near-dup graph
    * — [[operators.Graph.triangleStats]] (degree-oriented node-iterator).
    * The oracle enumerates triangles by brute force from the SAME pair
    * CTEs: the orientation optimization must be invisible.
    */
  private lazy val graphTriangles: Q = "x_graph_triangles" -> ((
    (s: SparkSession, dir: String) => {
      val pairs = Dedup.minHashLshPairs(docs(s, dir), "doc_id", "text",
        n = 3, numHashes = 12, bands = 4)
      operators.Graph.triangleStats(pairs, "id_a", "id_b")
    },
    s"""WITH $minhashCtes,
       |pairs AS ($minhashPairsSelect),
       |und AS (SELECT id_a AS a, id_b AS b FROM pairs),
       |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |        FROM und e1 JOIN und e2 ON e2.a = e1.b
       |        JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
       |pn AS (SELECT v, count(*)::BIGINT AS t FROM (
       |         SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
       |         UNION ALL SELECT z FROM tri) GROUP BY v),
       |deg AS (SELECT v, count(*)::BIGINT AS deg FROM (
       |         SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v)
       |SELECT deg.v AS node_id, deg.deg AS degree,
       |  coalesce(pn.t, 0)::BIGINT AS triangles,
       |  CASE WHEN deg.deg < 2 THEN 0.0
       |       ELSE round(2.0 * coalesce(pn.t, 0) / (deg.deg * (deg.deg - 1)), 6)
       |  END AS clustering_coeff
       |FROM deg LEFT JOIN pn USING (v)""".stripMargin))

  /** transformWithState MapState gate: per-(user, type) streaming counters
    * ([[graft.streaming.CountsTws]]) under the RocksDB provider, final
    * totals = `max` per key (monotone counters), gated against the plain
    * batch `count(*)` — cross-batch MapState accumulation proven against
    * an oracle that has never heard of state stores.
    */
  private val stTypeCountsTws: Q = "st_type_counts_tws" -> ((
    (s: SparkSession, dir: String) => withTwsState(s) {
      val slim = sources.EventsTable.load(s, dir)
        .select(col("user_id").as("u"), col("event_type").as("et"))
      streamedGate(s, "sttypecounts", slim)(
        plan = mk => graft.streaming.CountsTws.counts(mk()),
        post = out => out.groupBy(col("u").as("user_id"), col("et").as("event_type"))
          .agg(max(col("n")).as("n")))
    },
    """SELECT user_id, event_type, count(*)::BIGINT AS n
      |FROM events GROUP BY 1, 2""".stripMargin))

  /** Length-bucket padding report — [[operators.Packing.lengthBucketStats]]:
    * power-of-two buckets via an exact-integer when-chain (never
    * `ceil(log2)`), per-bucket padding waste. The oracle replays the same
    * CASE ladder.
    */
  private lazy val packLengthBuckets: Q = {
    val maxBits = 8
    val cases = (0 to maxBits)
      .map(k => s"WHEN n <= ${1L << k} THEN ${1L << k}").mkString(" ")
    "x_pack_length_buckets" -> ((
      (s: SparkSession, dir: String) =>
        operators.Packing.lengthBucketStats(
          docs(s, dir).select(size(split(trim(col("text")), "\\s+")).as("n")),
          col("n"), maxBits = maxBits),
      s"""WITH d AS (SELECT len(string_split(trim(text), ' '))::BIGINT AS n FROM documents),
         |b AS (SELECT CASE $cases ELSE ${1L << maxBits} END::BIGINT AS bucket,
         |        least(n, ${1L << maxBits})::BIGINT AS t FROM d)
         |SELECT bucket, count(*)::BIGINT AS n_docs, sum(t)::BIGINT AS sum_tokens,
         |  (count(*) * bucket)::BIGINT AS padded_tokens,
         |  round((count(*) * bucket - sum(t))::DOUBLE / (count(*) * bucket)::DOUBLE, 6)
         |    AS waste_pct
         |FROM b GROUP BY bucket""".stripMargin))
  }

  /** Water-filling token-budget allocation — [[operators.Mixture.waterFill]]:
    * the closed-form λ over the sources frame (sorted prefix/suffix window
    * sums, first-valid-split selection), every division replayed in the
    * same order by the oracle. Weights 4/2/1 with budget 60k against cap =
    * 3 epochs exercises BOTH regimes (saturated prefix + λ-bound tail).
    */
  private lazy val mixWaterfill: Q = {
    val w4 = (0 to 4).map(i => s"'src$i'").mkString(",")
    val w2 = (5 to 9).map(i => s"'src$i'").mkString(",")
    "x_mix_waterfill" -> ((
      (s: SparkSession, dir: String) => {
        val weights = ((0 to 4).map(i => s"src$i" -> 4.0) ++
          (5 to 9).map(i => s"src$i" -> 2.0)).toMap
        operators.Mixture.waterFill(
          docs(s, dir).select(col("source"),
            size(split(trim(col("text")), "\\s+")).as("n")),
          "source", col("n"), weights, budget = 60000.0, maxEpochs = 3.0)
      },
      s"""WITH base AS (
         |  SELECT source, sum(len(string_split(trim(text), ' ')))::BIGINT AS n_tokens,
         |    CASE WHEN source IN ($w4) THEN 4.0
         |         WHEN source IN ($w2) THEN 2.0 ELSE 1.0 END AS weight
         |  FROM documents GROUP BY source),
         |st AS (SELECT *, n_tokens::DOUBLE * 3.0 AS cap FROM base),
         |o AS (SELECT *,
         |  coalesce(sum(cap) OVER (ORDER BY cap/weight, source
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS pc,
         |  sum(weight) OVER (ORDER BY cap/weight, source
         |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS sw,
         |  row_number() OVER (ORDER BY cap/weight, source) AS rn
         |  FROM st),
         |c AS (SELECT *, (60000.0 - pc)/sw AS cand FROM o),
         |lam AS (SELECT min(struct_pack(r := rn, c := cand)) AS m FROM c
         |        WHERE cap/weight >= cand)
         |SELECT source, n_tokens, weight,
         |  round(CASE WHEN (SELECT m FROM lam) IS NULL THEN cap
         |             ELSE least(cap, (SELECT m.c FROM lam) * weight) END, 6) AS alloc_tokens,
         |  round(CASE WHEN (SELECT m FROM lam) IS NULL THEN 3.0
         |             ELSE least(cap, (SELECT m.c FROM lam) * weight) / n_tokens::DOUBLE
         |        END, 6) AS epochs
         |FROM c""".stripMargin))
  }

  /** Best-of-n rejection sampling — [[operators.ChatTemplate.bestOfN]]:
    * prompt-keyed argmax (tie → lowest candidate id) + template render +
    * loss span; candidates are doc quadruples with a content-hash "reward"
    * both engines can replay.
    */
  private val sftBestOfN: Q = "x_sft_best_of_n" -> ((
    (s: SparkSession, dir: String) => {
      val cands = docs(s, dir).select(
        (col("doc_id") / 4).cast("long").as("prompt_id"),
        concat(lit("p"), (col("doc_id") / 4).cast("long")).as("prompt"),
        substring(col("text"), 1, 50).as("resp"),
        col("doc_id").as("cand_id"),
        conv(substring(md5(col("text")), 1, 4), 16, 10).cast("double").as("score"))
      graft.operators.ChatTemplate.bestOfN(cands, "prompt_id", "prompt",
        "resp", "cand_id", col("score"))
    },
    """WITH c AS (SELECT doc_id // 4 AS prompt_id,
      |    'p' || (doc_id // 4)::VARCHAR AS prompt,
      |    substr(text, 1, 50) AS resp, doc_id AS cand_id,
      |    ('0x' || substr(md5(text), 1, 4))::INT::DOUBLE AS score
      |  FROM documents),
      |r AS (SELECT *, row_number() OVER (PARTITION BY prompt_id
      |        ORDER BY score DESC, cand_id) AS rn,
      |      count(*) OVER (PARTITION BY prompt_id) AS n_candidates,
      |      min(score) OVER (PARTITION BY prompt_id) AS worst
      |      FROM c),
      |b AS (SELECT *, '<|user|>' || prompt || '<|assistant|>' AS prefix
      |      FROM r WHERE rn = 1)
      |SELECT prompt_id, cand_id AS best_candidate,
      |  round(score, 6) AS best_score, round(worst, 6) AS worst_score,
      |  n_candidates::BIGINT AS n_candidates,
      |  prefix || resp AS text,
      |  length(prefix)::BIGINT AS span_start,
      |  (length(prefix) + length(resp))::BIGINT AS span_end
      |FROM b""".stripMargin))

  /** EWMA residual anomalies — [[operators.EventAnalytics.ewmaAnomaly]]:
    * truncated (window-20) exponentially-weighted one-step-ahead
    * prediction per user, flag at 3σ of the user's own values. The oracle
    * replays the newest-first weighted fold with DuckDB's indexed
    * list_transform (1-based index → pow(0.7, i-1)).
    */
  private val eventsEwma: Q = "x_events_ewma" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_id"), col("value"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      operators.EventAnalytics.ewmaAnomaly(ev, "user_id", "event_id", "t",
        "value", alpha = 0.3, window = 20, k = 3.0)
    },
    """WITH h AS (
      |  SELECT user_id, event_id, epoch_ms(ts) AS t, value,
      |    list_reverse(list(value::DOUBLE) OVER (PARTITION BY user_id
      |      ORDER BY epoch_ms(ts), event_id
      |      ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)) AS hist
      |  FROM events),
      |st AS (SELECT user_id,
      |    sum(value)::DOUBLE / count(*) AS mu,
      |    sqrt(sum(value*value)::DOUBLE / count(*) -
      |      (sum(value)::DOUBLE / count(*)) * (sum(value)::DOUBLE / count(*))) AS sigma
      |  FROM events GROUP BY user_id),
      |e AS (SELECT user_id, event_id, t, value,
      |    list_reduce(list_prepend(0.0,
      |      list_transform(hist, (v, i) -> v * pow(0.7, (i-1)::DOUBLE))),
      |      (a, b) -> a + b)
      |      / ((1.0 - pow(0.7, len(hist)::DOUBLE)) / 0.3) AS ewma
      |  FROM h WHERE len(hist) > 0)
      |SELECT e.user_id, e.event_id, e.t, e.value,
      |  round(e.ewma, 6) AS ewma_prev,
      |  round(e.value - e.ewma, 6) AS residual,
      |  abs(e.value - e.ewma) > 3.0 * st.sigma AS is_anomaly
      |FROM e JOIN st USING (user_id)""".stripMargin))

  /** Funnel stage-latency percentiles —
    * [[operators.EventAnalytics.stageLatency]]: conditional-min chain per
    * user (the funnel machinery) + exact percentile per stage pair,
    * replayed with quantile_cont.
    */
  private val eventsStageLatency: Q = "x_events_stage_latency" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      operators.EventAnalytics.stageLatency(ev, "user_id", "event_type", "t",
        Seq("view", "click", "purchase"))
    },
    """WITH f AS (SELECT user_id AS u, event_type AS et, epoch_ms(ts) AS t
      |           FROM events WHERE event_type IN ('view','click','purchase')),
      |s0 AS (SELECT u, min(t) AS ft FROM f WHERE et='view' GROUP BY u),
      |s1 AS (SELECT f.u, min(f.t) AS nt, any_value(s0.ft) AS pt
      |       FROM f JOIN s0 USING (u) WHERE f.et='click' AND f.t > s0.ft GROUP BY f.u),
      |s2 AS (SELECT f.u, min(f.t) AS nt, any_value(s1.nt) AS pt
      |       FROM f JOIN s1 USING (u) WHERE f.et='purchase' AND f.t > s1.nt GROUP BY f.u),
      |l1 AS (SELECT nt - pt AS d FROM s1), l2 AS (SELECT nt - pt AS d FROM s2)
      |SELECT 1 AS stage_idx, 'click' AS stage, (SELECT count(*) FROM l1) AS users,
      |  round((SELECT quantile_cont(d, 0.25) FROM l1), 6) AS p25_ms,
      |  round((SELECT quantile_cont(d, 0.5) FROM l1), 6) AS p50_ms,
      |  round((SELECT quantile_cont(d, 0.9) FROM l1), 6) AS p90_ms,
      |  (SELECT max(d) FROM l1) AS max_ms
      |UNION ALL
      |SELECT 2, 'purchase', (SELECT count(*) FROM l2),
      |  round((SELECT quantile_cont(d, 0.25) FROM l2), 6),
      |  round((SELECT quantile_cont(d, 0.5) FROM l2), 6),
      |  round((SELECT quantile_cont(d, 0.9) FROM l2), 6),
      |  (SELECT max(d) FROM l2)""".stripMargin))

  /** Web link-graph extraction — [[graft.functions.UrlOps.extractHrefs]]
    * over a deterministic HTML fixture (each doc links its first three
    * tokens' domains), exploded to (doc, href, registrable domain) edges.
    */
  private val webLinkgraph: Q = "x_web_linkgraph" -> ((
    (s: SparkSession, dir: String) => {
      val html = docs(s, dir).select(col("doc_id"),
        concat(lit("<html><body>"),
          concat_ws("", transform(slice(split(trim(col("text")), "\\s+"), 1, 3),
            w => concat(lit("<a href=\"https://"), w, lit(".example.com/p?x=1\">"), w, lit("</a>")))),
          lit("</body></html>")).as("html"))
      html.select(col("doc_id"),
        posexplode(graft.functions.UrlOps.extractHrefs(col("html"))).as(Seq("pos", "href")))
        .select(col("doc_id"), col("pos"), col("href"),
          graft.functions.UrlOps.registrableDomain(
            graft.functions.UrlOps.urlHost(col("href"))).as("domain"))
    },
    """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents),
      |h AS (SELECT doc_id,
      |  '<html><body>' || array_to_string(list_transform(ws[1:3],
      |     w -> '<a href="https://' || w || '.example.com/p?x=1">' || w || '</a>'), '')
      |  || '</body></html>' AS html FROM t),
      |x AS (SELECT doc_id, unnest(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS href,
      |        generate_subscripts(regexp_extract_all(html, 'href="([^"]*)"', 1), 1) - 1 AS pos
      |      FROM h)
      |SELECT doc_id, pos::INT AS pos, href,
      |  regexp_extract(href, '^https://([^/]*)', 1)
      |    .regexp_extract('([^.]+\.[^.]+)$', 1) AS domain
      |FROM x""".stripMargin))

  /** Decimal-exact correlation matrix — [[operators.Quality.corrPairs]]
    * on lineitem money/quantity columns per return flag: moments summed
    * as decimals (exact on any engine/partitioning), formula in doubles
    * identically ordered.
    */
  private val profileCorr: Q = "x_profile_corr" -> ((
    (s: SparkSession, dir: String) =>
      operators.Quality.corrPairs(
        s.read.parquet(s"$dir/lineitem.parquet"),
        "l_returnflag", Seq("l_quantity", "l_extendedprice", "l_discount")),
    """WITH m AS (SELECT l_returnflag,
      |    count(*) AS n,
      |    sum(l_quantity::DECIMAL(19,4)) AS sq,
      |    sum(l_quantity::DECIMAL(19,4) * l_quantity::DECIMAL(19,4)) AS sqq,
      |    sum(l_extendedprice::DECIMAL(19,4)) AS se,
      |    sum(l_extendedprice::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4)) AS see,
      |    sum(l_discount::DECIMAL(19,4)) AS sd,
      |    sum(l_discount::DECIMAL(19,4) * l_discount::DECIMAL(19,4)) AS sdd,
      |    sum(l_quantity::DECIMAL(19,4) * l_extendedprice::DECIMAL(19,4)) AS sqe,
      |    sum(l_quantity::DECIMAL(19,4) * l_discount::DECIMAL(19,4)) AS sqd,
      |    sum(l_extendedprice::DECIMAL(19,4) * l_discount::DECIMAL(19,4)) AS sed
      |  FROM lineitem GROUP BY l_returnflag),
      |p AS (
      |  SELECT l_returnflag, 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, n,
      |    n::DOUBLE AS nd, sq::DOUBLE AS sx, sqq::DOUBLE AS sxx,
      |    se::DOUBLE AS sy, see::DOUBLE AS syy, sqe::DOUBLE AS sxy FROM m
      |  UNION ALL
      |  SELECT l_returnflag, 'l_quantity', 'l_discount', n,
      |    n::DOUBLE, sq::DOUBLE, sqq::DOUBLE, sd::DOUBLE, sdd::DOUBLE, sqd::DOUBLE FROM m
      |  UNION ALL
      |  SELECT l_returnflag, 'l_extendedprice', 'l_discount', n,
      |    n::DOUBLE, se::DOUBLE, see::DOUBLE, sd::DOUBLE, sdd::DOUBLE, sed::DOUBLE FROM m)
      |SELECT l_returnflag, col_a, col_b, n,
      |  CASE WHEN sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy)) = 0.0 THEN NULL
      |       ELSE round((nd*sxy - sx*sy) / sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy)), 6)
      |  END AS corr
      |FROM p""".stripMargin))

  /** k-core gate — [[operators.Graph.kCore]] (peeling fixpoint) on the
    * minhash near-dup graph at k = 2. The oracle unrolls six peel stages
    * (the graph fixpoints in two; peeling is idempotent at the fixpoint,
    * so over-unrolling is safe) — the engine's convergence-detected loop
    * must land on the same core.
    */
  private lazy val graphKcore: Q = {
    val stages = (1 to 6).map { t =>
      s"""d$t AS MATERIALIZED (SELECT v, count(*) AS c FROM (
         |  SELECT a AS v FROM e${t - 1} UNION ALL SELECT b FROM e${t - 1}) GROUP BY v),
         |e$t AS MATERIALIZED (SELECT a, b FROM e${t - 1}
         |  WHERE a NOT IN (SELECT v FROM d$t WHERE c < 2)
         |    AND b NOT IN (SELECT v FROM d$t WHERE c < 2))""".stripMargin
    }.mkString(",\n")
    "x_graph_kcore" -> ((
      (s: SparkSession, dir: String) => {
        val pairs = Dedup.minHashLshPairs(docs(s, dir), "doc_id", "text",
          n = 3, numHashes = 12, bands = 4)
        operators.Graph.kCore(pairs, "id_a", "id_b", k = 2)
      },
      s"""WITH $minhashCtes,
         |pairs AS ($minhashPairsSelect),
         |e0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM pairs),
         |$stages
         |SELECT v AS node_id, count(*)::BIGINT AS core_degree FROM (
         |  SELECT a AS v FROM e6 UNION ALL SELECT b FROM e6) GROUP BY v""".stripMargin))
  }

  /** FORWARD as-of gate — [[operators.Joins.asOfForward]]: each purchase
    * gets the user's NEXT signup event at-or-after it; oracle = DuckDB's
    * native ASOF LEFT JOIN with the `<=` inequality.
    */
  private val joinAsofForward: Q = "x_join_asof_forward" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("t"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("t").as("ts_ms"))
      val dim = ev.where(col("event_type") === "signup")
        .select(col("user_id"), col("t"), col("event_id"))
      graft.operators.Joins.asOfForward(facts, dim,
        keys = Seq("user_id"), factTime = "ts_ms", dimTime = "t",
        dimCols = Seq("event_id", "t"))
    },
    """WITH f AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms FROM events
      |           WHERE event_type = 'purchase'),
      |d AS (SELECT user_id, epoch_ms(ts) AS t, max(event_id) AS event_id
      |      FROM events WHERE event_type = 'signup' GROUP BY 1, 2)
      |SELECT f.event_id, f.user_id, f.ts_ms,
      |  d.event_id AS asof_event_id, d.t AS asof_t
      |FROM f ASOF LEFT JOIN d ON f.user_id = d.user_id AND f.ts_ms <= d.t""".stripMargin))

  /** Decimal-exact embedding covariance matrix —
    * [[operators.Similarity.covarianceMatrix]]: (i ≤ j) second moments via
    * a row-keyed self-join of the exploded frame, every sum a
    * decimal(15,8)-termed exact.
    */
  private val embCovariance: Q = "x_emb_covariance" -> ((
    (s: SparkSession, dir: String) =>
      operators.Similarity.covarianceMatrix(emb(s, dir), "embedding"),
    """WITH pos AS (SELECT vec_id AS r, generate_subscripts(embedding, 1) - 1 AS i,
      |    unnest(embedding) AS x FROM embeddings),
      |s AS (SELECT i, count(*) AS n, sum((x::DOUBLE)::DECIMAL(15,8)) AS sx
      |      FROM pos GROUP BY i),
      |p AS (SELECT a.i AS i, b.i AS j,
      |        sum((a.x::DOUBLE)::DECIMAL(15,8) * (b.x::DOUBLE)::DECIMAL(15,8)) AS sxy
      |      FROM pos a JOIN pos b ON a.r = b.r AND a.i <= b.i GROUP BY 1, 2)
      |SELECT p.i, p.j, si.n,
      |  round(si.sx::DOUBLE / si.n, 6) + 0.0 AS mean_i,
      |  round(sj.sx::DOUBLE / sj.n, 6) + 0.0 AS mean_j,
      |  round((p.sxy::DOUBLE - si.sx::DOUBLE * sj.sx::DOUBLE / si.n) / si.n, 6) + 0.0 AS cov
      |FROM p JOIN s si ON si.i = p.i JOIN s sj ON sj.i = p.j""".stripMargin))

  /** Quantile normalization — [[operators.Quality.quantileNormalize]]:
    * per-source percent_rank mapped onto the global exact-percentile grid
    * by monotone linear interpolation; grid probs written as
    * decimal-literal::DOUBLE on both engines so every interpolation input
    * is the identical double.
    */
  private lazy val qualityQnorm: Q = {
    val probs = (0 to 100).map(i => f"${i / 100.0}%.2f::DOUBLE").mkString(", ")
    "x_quality_qnorm" -> ((
      (s: SparkSession, dir: String) =>
        operators.Quality.quantileNormalize(
          docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
          "source", "doc_id", "n_chars", gridSize = 100),
      s"""WITH g AS (SELECT quantile_cont(n_chars, [$probs]) AS grid FROM documents),
         |r AS (SELECT doc_id, source, n_chars,
         |        percent_rank() OVER (PARTITION BY source
         |                             ORDER BY n_chars, doc_id) AS pr
         |      FROM documents)
         |SELECT doc_id, source, n_chars, round(pr, 6) AS pct_rank,
         |  round(CASE WHEN floor(pr * 100)::INT >= 100 THEN grid[101]
         |    ELSE grid[floor(pr * 100)::INT + 1] * (1.0 - (pr * 100 - floor(pr * 100)))
         |       + grid[floor(pr * 100)::INT + 2] * (pr * 100 - floor(pr * 100))
         |  END, 6) AS norm_score
         |FROM r, g""".stripMargin))
  }

  /** ViT patch extraction — [[operators.Multimodal.imagePatches]] over the
    * REAL-decoded synthetic PNGs (every 11th corrupt): grid arithmetic,
    * edge truncation and exact integer pixel sums replayed from the
    * fixture's pixel formula.
    */
  private val mmPatches: Q = "x_multimodal_patches" -> ((
    (s: SparkSession, dir: String) =>
      Multimodal.imagePatches(
        Multimodal.syntheticPngs(docs(s, dir), "doc_id")
          .withColumn("blob",
            when(col("doc_id") % 11 === 0, lit("not an image").cast("binary"))
              .otherwise(col("blob"))),
        "doc_id", "blob", patch = 4),
    """WITH d AS (SELECT doc_id, 1 + doc_id % 37 AS w, 1 + doc_id % 23 AS h FROM documents),
      |ok AS (SELECT * FROM d WHERE doc_id % 11 <> 0),
      |g AS (SELECT doc_id, w, h, px::INT AS px, py::INT AS py
      |      FROM ok, UNNEST(range(0, (w+3)//4)) t1(px), UNNEST(range(0, (h+3)//4)) t2(py)),
      |p AS (SELECT doc_id, px, py, (px*4)::INT AS x0, (py*4)::INT AS y0,
      |        least(4, w - px*4)::INT AS pw, least(4, h - py*4)::INT AS ph FROM g),
      |s AS (SELECT doc_id, px, py, x0, y0, pw, ph,
      |        sum((doc_id + 31*(x0+dx) + 17*(y0+dy)) % 256)::BIGINT AS pix_sum,
      |        (pw*ph)::BIGINT AS n_pix
      |      FROM p, UNNEST(range(0, pw)) a(dx), UNNEST(range(0, ph)) b(dy)
      |      GROUP BY doc_id, px, py, x0, y0, pw, ph)
      |SELECT doc_id AS id, px, py, x0, y0, pw, ph, pix_sum, n_pix, true AS decoded FROM s
      |UNION ALL
      |SELECT doc_id, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, false
      |FROM d WHERE doc_id % 11 = 0""".stripMargin))

  /** The SAME sessionizer on `transformWithState` with EVENT-TIME TIMERS
    * ([[graft.streaming.SessionizeTws]]) under the RocksDB provider, gated
    * against the SAME batch lag-window oracle as `st_sessionize` — the
    * funnel-pair migration proof, now for the timer surface.
    */
  private val stSessionizeTws: Q = "st_sessionize_tws" -> ((
    (s: SparkSession, dir: String) => withTwsState(s) {
      import s.implicits._
      val gapMs = 21600000L
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"),
          graft.functions.Conversions.nanosToTimestamp(col("ts")).as("ts"),
          col("value"))
      val maxTs = ev.agg(max("ts")).head().getTimestamp(0)
      val sentinel = Seq((-1L, new java.sql.Timestamp(maxTs.getTime + gapMs + 2 * 3600 * 1000L), 0.0))
        .toDF("user_id", "ts", "value")
      streamedGate(s, "stsesstws", ev, Some(sentinel))(
        plan = mk => graft.streaming.SessionizeTws
          .sessions(s, mk(), gapMs = gapMs, watermarkDelay = "10 minutes").toDF()
          .select(col("userId").as("user_id"), col("startMs").as("start_ms"),
            col("endMs").as("end_ms"), col("nEvents").as("n_events")),
        post = _.where(col("user_id") >= 0))
    },
    """WITH e AS (SELECT user_id, epoch_ms(ts) t FROM events),
      |m AS (SELECT user_id, t,
      |  CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL
      |         OR t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > 21600000
      |       THEN 1 ELSE 0 END AS brk FROM e),
      |s AS (SELECT user_id, t, sum(brk) OVER (PARTITION BY user_id ORDER BY t
      |        ROWS UNBOUNDED PRECEDING) AS sid FROM m)
      |SELECT user_id, min(t) AS start_ms, max(t) AS end_ms, count(*) AS n_events
      |FROM s GROUP BY user_id, sid""".stripMargin))

  /** Snapshot-CDC composition: two corpus snapshots (deterministic
    * add/change/remove transform) → [[Dimension.snapshotDiff]] change
    * records → [[Dimension.scd2Build]] over snapshot-1 seeds + diff-driven
    * versions (removal = the `GONE` sentinel version — SCD-2 soft delete).
    * The gate proves the snapshot→CDC→dimension PIPELINE, not just its
    * stages: the oracle replays diff statuses and the lag/lead fold from
    * the raw snapshots.
    */
  private val scd2FromSnapshots: Q = "x_scd2_from_snapshots" -> ((
    (s: SparkSession, dir: String) => {
      val snap1 = docs(s, dir).select(col("doc_id"), col("text"))
      val snap2 = snap1.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionAll(snap1.where(col("doc_id") % 17 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("new "), col("text")).as("text")))
      val diff = Dimension.snapshotDiff(snap1, snap2, "doc_id", "text")
      val ev1 = snap1.select(col("doc_id"), lit(1).as("t"), md5(col("text")).as("h"))
      val ev2 = diff.join(snap2, Seq("doc_id"), "left")
        .select(col("doc_id"), lit(2).as("t"),
          when(col("status") === "removed", lit("GONE"))
            .otherwise(md5(col("text"))).as("h"))
      Dimension.scd2Build(ev1.unionAll(ev2), Seq("doc_id"), Seq("t"), Seq("h"))
    },
    """WITH s1 AS (SELECT doc_id, text FROM documents),
      |s2 AS (SELECT doc_id,
      |         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
      |       FROM documents WHERE doc_id % 13 <> 0
      |       UNION ALL
      |       SELECT doc_id + 1000000, 'new ' || text FROM documents
      |       WHERE doc_id % 17 = 0),
      |d0 AS (SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
      |         CASE WHEN a.doc_id IS NULL THEN 'added'
      |              WHEN b.doc_id IS NULL THEN 'removed'
      |              WHEN md5(a.text) <> md5(b.text) THEN 'changed' END AS status
      |       FROM s1 a FULL OUTER JOIN s2 b ON a.doc_id = b.doc_id),
      |d AS (SELECT * FROM d0 WHERE status IS NOT NULL),
      |ev AS (SELECT doc_id, 1 AS t, md5(text) AS h FROM s1
      |       UNION ALL
      |       SELECT d.doc_id, 2,
      |         CASE WHEN d.status = 'removed' THEN 'GONE' ELSE md5(s2.text) END
      |       FROM d LEFT JOIN s2 ON s2.doc_id = d.doc_id),
      |chg AS (SELECT *, CASE WHEN lag(h) OVER (PARTITION BY doc_id ORDER BY t)
      |          IS DISTINCT FROM h THEN 1 ELSE 0 END AS c FROM ev),
      |k AS (SELECT doc_id, h, t FROM chg WHERE c = 1)
      |SELECT doc_id, h, t AS valid_from,
      |  lead(t) OVER (PARTITION BY doc_id ORDER BY t) AS valid_to
      |FROM k""".stripMargin))

  /** Incremental line dedup — [[Dedup.lineDedupIncremental]]: the odd-id
    * batch cleaned against the even-id corpus's [[Dedup.lineIndex]]; the
    * oracle replays the FULL line-df over old∪batch and slices to the
    * batch docs (the incremental-family equivalence shape).
    */
  private val dedupLinesIncr: Q = "x_dedup_lines_incr" -> ((
    (s: SparkSession, dir: String) => {
      val lined = docs(s, dir).select(col("doc_id"),
        split(trim(col("text")), "\\s+").as("ws"))
        .select(col("doc_id"), array_join(transform(
          sequence(lit(0), ceil(size(col("ws")) / lit(10.0)).cast("int") - 1),
          i => array_join(slice(col("ws"), i * 10 + 1, lit(10)), " ")), "\n")
          .as("text"))
      val old = lined.where(col("doc_id") % 2 === 0)
      val batch = lined.where(col("doc_id") % 2 === 1)
      Dedup.lineDedupIncremental(
        Dedup.lineIndex(old, "doc_id", "text"), batch, "doc_id", "text", minDf = 2)
    },
    """WITH t AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
      |ln AS (SELECT doc_id, i AS pos,
      |         array_to_string(ws[i*10+1 : i*10+10], ' ') AS line
      |       FROM t, UNNEST(range(0, (len(ws)+9)//10)) r(i)),
      |dfc AS (SELECT line, count(*) AS dfn FROM
      |  (SELECT DISTINCT doc_id, line FROM ln WHERE trim(line) <> '')
      |  GROUP BY line),
      |v AS (SELECT ln.doc_id, ln.pos, ln.line,
      |        coalesce(dfn, 0) >= 2 AS dup
      |      FROM ln LEFT JOIN dfc USING (line)
      |      WHERE ln.doc_id % 2 = 1)
      |SELECT doc_id,
      |  coalesce(string_agg(line, chr(10) ORDER BY pos)
      |             FILTER (WHERE NOT dup), '') AS text,
      |  sum(CASE WHEN dup THEN 0 ELSE 1 END)::BIGINT AS n_kept,
      |  sum(CASE WHEN dup THEN 1 ELSE 0 END)::BIGINT AS n_removed
      |FROM v GROUP BY doc_id""".stripMargin))

  /** Trained Cavnar–Trenkle language-ID —
    * [[operators.LangProfile.ctLangId]]: top-k trigram rank profiles per
    * language, out-of-place distance, argmin with lang tie-break; the
    * oracle replays profiles, distances and the argmin (accuracy on the
    * synthetic shared-vocabulary corpus is meaningless by construction —
    * the gate pins the MECHANICS; the spec plants separable languages).
    */
  private val textLangidTrained: Q = "x_text_langid_trained" -> ((
    // The heavy stage is the FIRST one (per-position trigram explode via an
    // interpreted HOF over the raw scan), and the gate corpus arrives as
    // 1-2 parquet splits — measured 18 tasks / 3.8 s wall with the 32-thread
    // pool idle. Spread the scan before the explode so the per-char work
    // parallelizes; at production scale input splits are plentiful and the
    // operator needs no such help.
    (s: SparkSession, dir: String) =>
      operators.LangProfile.ctLangId(
        docs(s, dir).repartition(s.sparkContext.defaultParallelism),
        "doc_id", "text", "lang", k = 50),
    """WITH g AS (SELECT doc_id, lang, substr(text, i, 3) AS g
      |           FROM documents, UNNEST(range(1, len(text) - 1)) r(i)),
      |lc AS (SELECT lang, g, count(*) AS c FROM g GROUP BY 1, 2),
      |lp AS (SELECT lang, g, lr FROM (
      |         SELECT lang, g, row_number() OVER (PARTITION BY lang
      |                  ORDER BY c DESC, g) AS lr FROM lc) WHERE lr <= 50),
      |dc AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
      |dp AS (SELECT doc_id, g, dr FROM (
      |         SELECT doc_id, g, row_number() OVER (PARTITION BY doc_id
      |                  ORDER BY c DESC, g) AS dr FROM dc) WHERE dr <= 50),
      |langs AS (SELECT DISTINCT lang FROM lp),
      |dist AS (SELECT dp.doc_id, langs.lang,
      |           sum(coalesce(abs(dp.dr - lp.lr), 50))::BIGINT AS dist
      |         FROM dp CROSS JOIN langs
      |         LEFT JOIN lp ON lp.lang = langs.lang AND lp.g = dp.g
      |         GROUP BY 1, 2),
      |best AS (SELECT doc_id, min(struct_pack(dist := dist, lang := lang)) AS b
      |         FROM dist GROUP BY doc_id)
      |SELECT d.doc_id, b.b.lang AS pred_lang, b.b.dist AS dist, d.lang,
      |  b.b.lang = d.lang AS correct
      |FROM best b JOIN documents d USING (doc_id)""".stripMargin))

  /** The two BT gates' shared duel fixture: each user's consecutive event
    * pair (event-time order, event_id tiebreak) is one duel, higher
    * `value` wins, same-type and equal-value duels are skipped. The first
    * event's id rides along as the deterministic micro-batch split key of
    * the streaming twin.
    */
  private def btDuels(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev = sources.EventsTable.load(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("value"),
        unix_micros(graft.functions.Conversions.nanosToTimestamp(col("ts")))
          .as("_us"))
    val w = Window.partitionBy("user_id").orderBy(col("_us"), col("event_id"))
    ev
      .withColumn("_nt", lead("event_type", 1).over(w))
      .withColumn("_nv", lead("value", 1).over(w))
      .where(col("_nt").isNotNull && col("_nt") =!= col("event_type") &&
        col("value") =!= col("_nv"))
      .select(
        when(col("value") > col("_nv"), col("event_type"))
          .otherwise(col("_nt")).as("winner"),
        when(col("value") > col("_nv"), col("_nt"))
          .otherwise(col("event_type")).as("loser"),
        col("event_id"))
  }

  /** Bradley–Terry preference-strength gate
    * ([[graft.operators.Preference.bradleyTerry]]): pairwise judgments are
    * derived deterministically from the events table — each user's
    * consecutive event pair (event-time order, event_id tiebreak) is one
    * duel, higher `value` wins, same-type and equal-value duels are
    * skipped — then 8 MM iterations with λ = 0.5 fit per-event-type
    * strengths. The oracle replays the duels and EVERY MM iteration as
    * unrolled CTEs (denominator join → smoothed update → mean-1
    * normalization), so strengths match to round-6, and the exact integer
    * win/game totals are hash-pinned alongside.
    */
  private lazy val prefBradleyTerry: Q = {
    val iters = 8
    // Every iteration CTE is MATERIALIZED: r{k-1} is referenced three
    // times per step, so inlining would blow the plan up 3^iters-fold
    // (same reason the connected-components oracle materializes).
    val iterCtes = (1 to iters).map { k =>
      s"""dk$k AS MATERIALIZED (SELECT d.id, sum(d.n::DOUBLE / (si.s + sj.s)) AS den
         |  FROM d JOIN r${k - 1} si ON si.id = d.id
         |         JOIN r${k - 1} sj ON sj.id = d.opp
         |  GROUP BY d.id),
         |raw$k AS MATERIALIZED (SELECT b.id,
         |    (b.wins::DOUBLE + 0.5) / (dk.den + 1.0 / (p.s + 1.0)) AS sr
         |  FROM base b JOIN dk$k dk ON dk.id = b.id
         |              JOIN r${k - 1} p ON p.id = b.id),
         |r$k AS MATERIALIZED (SELECT id, sr / (SELECT avg(sr) FROM raw$k) AS s FROM raw$k)"""
        .stripMargin
    }.mkString(",\n")
    "x_pref_bradley_terry" -> ((
      (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
        operators.Preference.bradleyTerry(btDuels(s, dir), "winner", "loser",
            iters = iters, lambda = 0.5)
          .select(col("id").as("event_type"),
            round(col("strength"), 6).as("strength"), col("wins"), col("games"))
          .localCheckpoint(true)
      },
      s"""WITH ev AS (SELECT user_id, event_id, event_type, value,
         |    lead(event_type) OVER w AS nt, lead(value) OVER w AS nv
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
         |duel AS MATERIALIZED (SELECT
         |    CASE WHEN value > nv THEN event_type ELSE nt END AS winner,
         |    CASE WHEN value > nv THEN nt ELSE event_type END AS loser
         |  FROM ev WHERE nt IS NOT NULL AND nt <> event_type AND value <> nv),
         |wns AS (SELECT winner AS id, count(*)::BIGINT AS wins FROM duel GROUP BY 1),
         |gms AS (SELECT least(winner, loser) AS a, greatest(winner, loser) AS b,
         |    count(*)::BIGINT AS n
         |  FROM duel GROUP BY 1, 2),
         |d AS MATERIALIZED (SELECT a AS id, b AS opp, n FROM gms
         |      UNION ALL SELECT b AS id, a AS opp, n FROM gms),
         |base AS MATERIALIZED (SELECT d.id, sum(d.n)::BIGINT AS games,
         |    coalesce(min(w.wins), 0)::BIGINT AS wins
         |  FROM d LEFT JOIN wns w ON w.id = d.id GROUP BY d.id),
         |r0 AS MATERIALIZED (SELECT id, 1.0::DOUBLE AS s FROM base),
         |$iterCtes
         |SELECT b.id AS event_type, round(r.s, 6) AS strength, b.wins, b.games
         |FROM base b JOIN r$iters r ON r.id = b.id""".stripMargin))
  }

  /** STREAMING Bradley–Terry — the arena's daily-ingest shape: judgments
    * arrive in micro-batches, each batch's DIRECTED duel counts are
    * written to a `batch_id`-partitioned state dir with per-batch
    * OVERWRITE (crash-replay replaces its own output — the
    * `lshIncrementStep`/`st_sketch_hll` idempotence discipline), and the
    * leaderboard at any point is one
    * [[graft.operators.Preference.bradleyTerryFromCounts]] fit over the
    * summed count tables. Duel counts are associative and commutative, so
    * the accumulated state is batching-invariant and the gate shares
    * `x_pref_bradley_terry`'s oracle VERBATIM — the streamed fit must
    * equal the batch fit on the whole history. Micro-batch split is
    * deterministic (first-event id mod 4), one file per batch,
    * `maxFilesPerTrigger=1`.
    */
  private lazy val stPrefBtIncrement: Q = "st_pref_bt_increment" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      // Materialize the duel derivation ONCE (round 15): btDuels carries a
      // corpus-wide window exchange, and the 4-slice staging loop re-ran it
      // per slice — 4x the shuffle for identical bytes staged (measured:
      // gate shufR 11.75 MB -> ~3 MB). The slices then filter a tiny
      // checkpointed frame.
      val duels = btDuels(s, dir)
        .select("winner", "loser", "event_id").localCheckpoint(true)
      scratchTree("stbt") { tmp =>
        (0L until 4L).foreach { b =>
          duels.where(pmod(col("event_id"), lit(4L)) === b)
            .select("winner", "loser")
            .repartition(1).write.mode("append").parquet(s"$tmp/topic")
        }
        val stream = s.readStream.schema(duels.select("winner", "loser").schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
        val accumulated = foldBatches(tmp, stream)(
            _.groupBy("winner", "loser").agg(count(lit(1)).as("n")))
          .groupBy("winner", "loser").agg(sum("n").as("n"))
        operators.Preference.bradleyTerryFromCounts(accumulated,
            "winner", "loser", "n", iters = 8, lambda = 0.5)
          .select(col("id").as("event_type"),
            round(col("strength"), 6).as("strength"), col("wins"), col("games"))
      }
    },
    prefBradleyTerry._2._2))

  /** Bucketed co-located join gate ([[graft.operators.Bucketing]]): both
    * sides written `bucketBy(8, l_orderkey)` + sorted, then joined through
    * [[graft.operators.Bucketing.colocatedJoin]] (bucket-spec validated) —
    * the pay-the-shuffle-once layout for recurring fact joins. The
    * EXCHANGE-FREE plan shape is asserted in BucketingSpec on executed
    * shuffle-record metrics; this gate proves output parity of the whole
    * write→catalog→join path against the plain-join oracle. Decimal-summed
    * revenue (shuffle-order-immune, the q1 pattern).
    */
  private lazy val joinBucketed: Q = "x_join_bucketed" -> ((
    // The catalog entries go after the scratch tree: the result is
    // materialized before either is dropped.
    (s: SparkSession, dir: String) => try scratchTree("bkt") { tmp =>
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderstatus"))
      operators.Bucketing.writeBucketed(l, "graft_bkt_lineitem", s"$tmp/l",
        Seq("l_orderkey"), numBuckets = 8)
      operators.Bucketing.writeBucketed(o, "graft_bkt_orders", s"$tmp/o",
        Seq("l_orderkey"), numBuckets = 8)
      val j = operators.Bucketing.colocatedJoin(s,
        "graft_bkt_lineitem", "graft_bkt_orders", Seq("l_orderkey"))
      val price = col("l_extendedprice").cast("decimal(18,2)")
      val disc = col("l_discount").cast("decimal(18,2)")
      j.groupBy("o_orderstatus")
        .agg(
          sum(price * (lit(1).cast("decimal(18,2)") - disc)).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))
    } finally {
      s.sql("DROP TABLE IF EXISTS graft_bkt_lineitem")
      s.sql("DROP TABLE IF EXISTS graft_bkt_orders")
    },
    """SELECT o_orderstatus,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
      |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
      |  count(*)::BIGINT AS n_items
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY o_orderstatus""".stripMargin))

  /** Dynamic-partition-pruning gate: the fact table written
    * `partitionBy(event_type)`, joined to a FILTERED small dim on the
    * partition column — the star-join shape where Spark plants the dim's
    * surviving keys as a runtime subquery filter on the fact scan, so
    * only 2 of 5 partition directories are ever read (the executed-metric
    * assertion lives in ParquetLayoutSpec; this gate proves output parity
    * of the layout→DPP-join→aggregate path). Complements x_join_bucketed:
    * bucketing kills the recurring join EXCHANGE, partitioning + DPP
    * kills the fact SCAN.
    */
  private lazy val joinDpp: Q = "x_join_dpp" -> ((
    (s: SparkSession, dir: String) => scratchTree("dpp") { tmp =>
      s.read.parquet(s"$dir/events.parquet").where(col("value").isNotNull)
        .write.partitionBy("event_type").parquet(s"$tmp/fact")
      val fact = s.read.parquet(s"$tmp/fact")
      import s.implicits._
      // The dim must be a FILE scan for DPP to key on its filter — an
      // in-memory Seq gets constant-folded (ConvertToLocalRelation) and
      // leaves no selective predicate (pinned in ParquetLayoutSpec).
      Seq(("click", 3.0), ("purchase", 2.5), ("view", 0.5),
        ("error", 0.1), ("signup", 1.0)).toDF("event_type", "weight")
        .write.parquet(s"$tmp/dim")
      val dim = s.read.parquet(s"$tmp/dim").where(col("weight") >= 2.0)
      fact.join(broadcast(dim), Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
    },
    """SELECT event_type, count(*)::BIGINT AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |WHERE value IS NOT NULL AND event_type IN ('click', 'purchase')
      |GROUP BY event_type""".stripMargin))

  /** Order-invariant corpus version digest gate
    * ([[graft.operators.CorpusStats.corpusDigest]]): per-source
    * (n_docs, XOR, exact SUM) of 60-bit md5-prefix content hashes — the
    * cheap "is this the same corpus?" check across copies/engines/
    * partitionings, mergeable for append-only ingest. Both accumulators
    * are commutative, so the gate hash is partitioning-proof by
    * construction; the oracle replays the identical hex-prefix hashing.
    */
  private lazy val corpusDigestGate: Q = "x_corpus_digest" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.CorpusStats.corpusDigest(docs(s, dir), Seq("source"), "text"),
    """SELECT source, count(*)::BIGINT AS n_docs,
      |  bit_xor(('0x' || substr(md5(text), 1, 15))::BIGINT) AS digest_xor,
      |  (sum(('0x' || substr(md5(text), 1, 15))::BIGINT)::HUGEINT
      |     % 2305843009213693951)::BIGINT AS digest_sum
      |FROM documents GROUP BY source""".stripMargin))

  /** Streaming twin of the corpus digest: four AvailableNow micro-batches
    * each write their own per-batch digest partition (batch_id OVERWRITE,
    * crash-idempotent); the accumulated state merges by the digest's own
    * algebra — counts add, XORs xor (bit_xor of the per-batch xors), sums
    * add mod p — and must equal the one-shot batch digest exactly (shares
    * its oracle VERBATIM). This is the append-only-ingest deployment
    * shape: a corpus version stamp maintained incrementally without ever
    * rescanning landed data.
    */
  private lazy val stCorpusDigest: Q = "st_corpus_digest" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      val d = docs(s, dir).select("doc_id", "source", "text")
      scratchTree("stdig") { tmp =>
        (0L until 4L).foreach { b =>
          d.where(pmod(col("doc_id"), lit(4L)) === b)
            .repartition(1).write.mode("append").parquet(s"$tmp/topic")
        }
        val stream = s.readStream.schema(d.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
        foldBatches(tmp, stream)(
            graft.operators.CorpusStats.corpusDigest(_, Seq("source"), "text"))
          .groupBy("source").agg(
            sum("n_docs").as("n_docs"),
            bit_xor(col("digest_xor")).as("digest_xor"),
            (sum(col("digest_sum").cast("decimal(28,0)")) % lit(2305843009213693951L))
              .cast("long").as("digest_sum"))
      }
    },
    corpusDigestGate._2._2))

  // ----------------------------------------------- RL post-training ops
  /** GRPO group-relative advantage gate ([[graft.operators.RlOps
    * .groupAdvantage]]): rollout groups are users, rewards the event
    * value; the oracle replays mean/stddev_samp/count as window
    * aggregates over the same partition. Degenerate contract under test:
    * zero-variance and single-sample groups must emit advantage 0.
    */
  private lazy val rlGroupAdvantage: Q = "x_rl_group_advantage" -> ((
    (s: SparkSession, dir: String) =>
      operators.RlOps.groupAdvantage(
          s.read.parquet(s"$dir/events.parquet").where(col("value").isNotNull),
          Seq("user_id"), "value")
        .select(col("event_id"), col("user_id"),
          round(col("advantage"), 6).as("advantage"),
          round(col("group_mean"), 6).as("group_mean"), col("n_samples")),
    """SELECT event_id, user_id,
      |  round(CASE WHEN s IS NULL OR s = 0 THEN 0.0 ELSE (value - m) / s END, 6) AS advantage,
      |  round(m, 6) AS group_mean, n AS n_samples
      |FROM (SELECT event_id, user_id, value,
      |        avg(value) OVER w AS m, stddev_samp(value) OVER w AS s,
      |        count(*) OVER w AS n
      |      FROM events WHERE value IS NOT NULL
      |      WINDOW w AS (PARTITION BY user_id))""".stripMargin))

  /** Unbiased pass@k gate ([[graft.operators.RlOps.passAtK]], Chen et al.
    * 2021 eq. 1): tasks are users, a sample passes when value > 100; the
    * oracle replays the identical left-fold product Π (n−c−i)/(n−i) via
    * list_reduce so both engines run the same double sequence. k = 1
    * degenerates to c/n; k = 32 exercises the long-product path (n ≈ 66
    * per user at gate SF).
    */
  private lazy val rlPassAtK: Q = "x_rl_pass_at_k" -> ((
    (s: SparkSession, dir: String) =>
      operators.RlOps.passAtK(
          s.read.parquet(s"$dir/events.parquet").where(col("value").isNotNull),
          Seq("user_id"), col("value") > 100, Seq(1, 8, 32))
        .select(col("user_id"), col("n"), col("c"),
          round(col("pass_at_1"), 6).as("pass_at_1"),
          round(col("pass_at_8"), 6).as("pass_at_8"),
          round(col("pass_at_32"), 6).as("pass_at_32")),
    {
      def p(k: Int) =
        s"""round(CASE WHEN n < $k THEN NULL WHEN n - c < $k THEN 1.0
           |  ELSE 1.0 - list_reduce(
           |    list_prepend(1.0::DOUBLE, list_transform(range(0, $k),
           |      i -> (n - c - i)::DOUBLE / (n - i)::DOUBLE)),
           |    (x, y) -> x * y) END, 6) AS pass_at_$k""".stripMargin
      s"""SELECT user_id, n, c, ${p(1)}, ${p(8)}, ${p(32)}
         |FROM (SELECT user_id, count(*)::BIGINT AS n,
         |        sum(CASE WHEN value > 100 THEN 1 ELSE 0 END)::BIGINT AS c
         |      FROM events WHERE value IS NOT NULL GROUP BY user_id)""".stripMargin
    }))

  /** Sampled-KL estimator gate ([[graft.operators.RlOps.klEstimators]],
    * Schulman's k1/k2/k3): per-sample policy and reference logprobs are
    * deterministic affine transforms of the event value (so logr =
    * lp_ref − lp_pol spans ≈ (−0.09, 1.14) — enough spread that the
    * three estimators visibly disagree); both engines replay the exact
    * same double expressions before the grouped means.
    */
  private lazy val rlKlEstimate: Q = "x_rl_kl_estimate" -> ((
    (s: SparkSession, dir: String) => {
      val ev = s.read.parquet(s"$dir/events.parquet").where(col("value").isNotNull)
        .withColumn("lp_pol", lit(-1.0) - col("value") / 500)
        .withColumn("lp_ref", col("lp_pol") + (col("value") - 35) / 400)
      operators.RlOps.klEstimators(ev, Seq("event_type"), col("lp_pol"), col("lp_ref"))
        .select(col("event_type"), col("n"),
          round(col("kl_k1"), 6).as("kl_k1"),
          round(col("kl_k2"), 6).as("kl_k2"),
          round(col("kl_k3"), 6).as("kl_k3"))
    },
    """WITH t AS (SELECT event_type,
      |    -1.0 - value / 500 AS lp_pol,
      |    (-1.0 - value / 500) + (value - 35) / 400 AS lp_ref
      |  FROM events WHERE value IS NOT NULL),
      |u AS (SELECT event_type, lp_ref - lp_pol AS lr FROM t)
      |SELECT event_type, count(*)::BIGINT AS n,
      |  round(avg(-lr), 6) AS kl_k1,
      |  round(avg(lr * lr / 2), 6) AS kl_k2,
      |  round(avg(exp(lr) - 1.0 - lr), 6) AS kl_k3
      |FROM u GROUP BY event_type""".stripMargin))

  /** DPO implicit-reward margin gate ([[graft.operators.RlOps
    * .dpoMarginStats]], Rafailov et al. 2023 eq. 5): chosen/rejected
    * policy and reference logprobs are deterministic transforms of order
    * columns (the %15 == 0 stratum pins the exact-zero-margin contract:
    * both log-ratio terms cancel EXACTLY, so reward_acc must not count
    * them); quantiles are the exact `percentile` ≡ `quantile_cont`
    * pairing proven by the corpus-quantile gate.
    */
  private lazy val rlDpoMargin: Q = "x_rl_dpo_margin" -> ((
    (s: SparkSession, dir: String) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val lpcPol = -col("o_totalprice") / 100000
      val lprPol = -col("o_totalprice") / 100000 - (col("o_orderkey") % 7) / lit(100.0)
      val lpcRef = lpcPol - (col("o_orderkey") % 5) / lit(200.0)
      val lprRef = lprPol - (col("o_orderkey") % 3) / lit(150.0)
      operators.RlOps.dpoMarginStats(o, Seq("o_orderpriority"), beta = 0.1,
          lpcPol, lprPol, lpcRef, lprRef)
        .select(col("o_orderpriority"), col("n_pairs"),
          round(col("reward_acc"), 6).as("reward_acc"),
          round(col("mean_margin"), 6).as("mean_margin"),
          round(col("p50_margin"), 6).as("p50_margin"),
          round(col("p90_margin"), 6).as("p90_margin"))
    },
    """WITH t AS (SELECT o_orderpriority,
      |    -o_totalprice / 100000 AS lpc_pol,
      |    -o_totalprice / 100000 - (o_orderkey % 7) / 100.0 AS lpr_pol,
      |    (-o_totalprice / 100000) - (o_orderkey % 5) / 200.0 AS lpc_ref,
      |    (-o_totalprice / 100000 - (o_orderkey % 7) / 100.0) - (o_orderkey % 3) / 150.0 AS lpr_ref
      |  FROM orders),
      |m AS (SELECT o_orderpriority,
      |        0.1 * ((lpc_pol - lpc_ref) - (lpr_pol - lpr_ref)) AS _margin FROM t)
      |SELECT o_orderpriority, count(*)::BIGINT AS n_pairs,
      |  round(avg(CASE WHEN _margin > 0 THEN 1.0 ELSE 0.0 END), 6) AS reward_acc,
      |  round(avg(_margin), 6) AS mean_margin,
      |  round(quantile_cont(_margin, 0.5), 6) AS p50_margin,
      |  round(quantile_cont(_margin, 0.9), 6) AS p90_margin
      |FROM m GROUP BY o_orderpriority""".stripMargin))

  /** Reward length-bias gate ([[graft.operators.RlOps.rewardLengthBias]]):
    * completion length is synthesized from the event id and the reward
    * given a KNOWN planted slope (r = value + 0.3·len), so the fitted
    * per-type slope must recover ≈0.3 plus the natural value noise; the
    * oracle replays covar_samp/var_samp/corr, which share the (n−1)
    * convention across engines.
    */
  private lazy val rlLengthBias: Q = "x_rl_length_bias" -> ((
    (s: SparkSession, dir: String) => {
      val ev = s.read.parquet(s"$dir/events.parquet").where(col("value").isNotNull)
        .withColumn("len", (col("event_id") % 50 + 10).cast("double"))
        .withColumn("r", col("value") + lit(0.3) * col("len"))
      operators.RlOps.rewardLengthBias(ev, Seq("event_type"), "r", "len")
        .select(col("event_type"), col("n"),
          round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"),
          round(col("r2"), 6).as("r2"))
    },
    """WITH t AS (SELECT event_type,
      |    (event_id % 50 + 10)::DOUBLE AS len,
      |    value + 0.3 * ((event_id % 50 + 10)::DOUBLE) AS r
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_type, count(*)::BIGINT AS n,
      |  round(CASE WHEN var_samp(len) IS NULL OR var_samp(len) = 0 THEN NULL
      |    ELSE covar_samp(len, r) / var_samp(len) END, 6) AS slope,
      |  round(CASE WHEN var_samp(len) IS NULL OR var_samp(len) = 0 THEN NULL
      |    ELSE avg(r) - (covar_samp(len, r) / var_samp(len)) * avg(len) END, 6) AS intercept,
      |  round(CASE WHEN var_samp(len) IS NULL OR var_samp(len) = 0
      |             OR var_samp(r) IS NULL OR var_samp(r) = 0 THEN NULL
      |    ELSE covar_samp(len, r) * covar_samp(len, r)
      |         / (var_samp(len) * var_samp(r)) END, 6) AS r2
      |FROM t GROUP BY event_type""".stripMargin))

  /** Rollout-diversity gate ([[graft.operators.RlOps.rolloutDiversity]]):
    * prompts are users, completions the event type (5 distinct values ≫
    * collapsed against ~66 rollouts per user — the mode-collapse regime
    * the report exists to flag); the oracle replays the two-level count
    * exactly.
    */
  private lazy val rlRolloutDiversity: Q = "x_rl_rollout_diversity" -> ((
    (s: SparkSession, dir: String) =>
      operators.RlOps.rolloutDiversity(
          s.read.parquet(s"$dir/events.parquet").where(col("value").isNotNull),
          Seq("user_id"), "event_type")
        .select(col("user_id"), col("n"), col("n_distinct"),
          round(col("distinct_frac"), 6).as("distinct_frac"),
          round(col("top_share"), 6).as("top_share")),
    """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS _c
      |  FROM events WHERE value IS NOT NULL GROUP BY user_id, event_type)
      |SELECT user_id, sum(_c)::BIGINT AS n, count(*)::BIGINT AS n_distinct,
      |  round(count(*)::DOUBLE / sum(_c)::DOUBLE, 6) AS distinct_frac,
      |  round(max(_c)::DOUBLE / sum(_c)::DOUBLE, 6) AS top_share
      |FROM c GROUP BY user_id""".stripMargin))

  /** Off-policy evaluation gate ([[graft.operators.RlOps.offPolicyValue]]):
    * behavior and target logprobs are deterministic transforms of the
    * event value (log-ratio spans ≈ (−0.09, 1.14), so a measurable
    * fraction of weights hits the 2.0 clip — clip_frac must be > 0 for
    * the gate to be testing anything); the oracle replays the identical
    * least(exp(lr), clip) weights and all four estimators.
    */
  private lazy val rlIpsEval: Q = "x_rl_ips_eval" -> ((
    (s: SparkSession, dir: String) => {
      val ev = s.read.parquet(s"$dir/events.parquet").where(col("value").isNotNull)
        .withColumn("lp_beh", lit(-1.0) - col("value") / 500)
        .withColumn("lp_tgt", col("lp_beh") + (col("value") - 35) / 400)
        .withColumn("r", when(col("value") > 100, 1.0).otherwise(0.0))
      operators.RlOps.offPolicyValue(ev, Seq("event_type"), "r",
          col("lp_tgt"), col("lp_beh"), clip = 2.0)
        .select(col("event_type"), col("n"),
          round(col("ips"), 6).as("ips"),
          round(col("snips"), 6).as("snips"),
          round(col("ess"), 6).as("ess"),
          round(col("clip_frac"), 6).as("clip_frac"))
    },
    """WITH t AS (SELECT event_type,
      |    CASE WHEN value > 100 THEN 1.0 ELSE 0.0 END AS r,
      |    ((-1.0 - value / 500) + (value - 35) / 400) - (-1.0 - value / 500) AS lr
      |  FROM events WHERE value IS NOT NULL),
      |u AS (SELECT event_type, r, least(exp(lr), 2.0) AS w,
      |        CASE WHEN exp(lr) > 2.0 THEN 1.0 ELSE 0.0 END AS clipped
      |  FROM t)
      |SELECT event_type, count(*)::BIGINT AS n,
      |  round(avg(w * r), 6) AS ips,
      |  round(sum(w * r) / sum(w), 6) AS snips,
      |  round(sum(w) * sum(w) / sum(w * w), 6) AS ess,
      |  round(avg(clipped), 6) AS clip_frac
      |FROM u GROUP BY event_type""".stripMargin))

  /** Streaming twin of the GRPO advantage gate: four AvailableNow
    * micro-batches accumulate MERGEABLE per-group moments (n, Σr, Σr² —
    * [[graft.operators.RlOps.rewardMoments]]), then the full table is
    * scored against the accumulated normalizer
    * ([[graft.operators.RlOps.advantageFromMoments]]). The invariant
    * under test: per-batch moment tables SUM into exactly the
    * whole-history mean/std, so the streamed result hash-matches the
    * one-shot batch oracle (same SQL as x_rl_group_advantage minus the
    * mean column).
    */
  private lazy val stRlAdvantage: Q = "st_rl_advantage" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      val ev = s.read.parquet(s"$dir/events.parquet").where(col("value").isNotNull)
        .select("event_id", "user_id", "value")
      scratchTree("strladv") { tmp =>
        (0L until 4L).foreach { b =>
          ev.where(pmod(col("event_id"), lit(4L)) === b)
            .repartition(1).write.mode("append").parquet(s"$tmp/topic")
        }
        val stream = s.readStream.schema(ev.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
        val moments = foldBatches(tmp, stream)(
            operators.RlOps.rewardMoments(_, Seq("user_id"), "value"))
          .groupBy("user_id").agg(
            sum("m_n").as("m_n"), sum("m_sum").as("m_sum"), sum("m_sumsq").as("m_sumsq"))
        operators.RlOps.advantageFromMoments(ev, moments, Seq("user_id"), "value")
          .select(col("event_id"), col("user_id"),
            round(col("advantage"), 6).as("advantage"), col("n_samples"))
      }
    },
    """SELECT event_id, user_id,
      |  round(CASE WHEN s IS NULL OR s = 0 THEN 0.0 ELSE (value - m) / s END, 6) AS advantage,
      |  n AS n_samples
      |FROM (SELECT event_id, user_id, value,
      |        avg(value) OVER w AS m, stddev_samp(value) OVER w AS s,
      |        count(*) OVER w AS n
      |      FROM events WHERE value IS NOT NULL
      |      WINDOW w AS (PARTITION BY user_id))""".stripMargin))

  val all: Seq[Q] = Seq(
    rlGroupAdvantage, rlPassAtK, rlKlEstimate, rlDpoMargin, stRlAdvantage,
    rlLengthBias, rlRolloutDiversity, rlIpsEval, joinBucketed, joinDpp, corpusDigestGate, stCorpusDigest,
    prefBradleyTerry, stPrefBtIncrement,
    eventsAttribution, eventsRfm, eventsPaths, eventsConcurrency,
    dedupWeightedJaccard, dedupLines, textTextrank, linkJaroWinkler,
    layoutZorder, graphTriangles, stTypeCountsTws,
    packLengthBuckets, mixWaterfill, sftBestOfN,
    eventsEwma, eventsStageLatency, webLinkgraph, profileCorr,
    graphKcore, joinAsofForward, embCovariance,
    qualityQnorm, mmPatches, textLangidTrained, stSessionizeTws, scd2FromSnapshots, dedupLinesIncr,
    eventsFunnel, eventsRetention, textEntropy, corpusTrigrams, textReadability,
    eventsRollingActive, stEventFunnel, vocabCoverage, joinAsofNative,
    stSlidingCounts, stLateData, eventsResample, stJoinAsof, privacyKanon, privacyDpCounts,
    eventsFunnelWindow, eventsBasket, eventsSurvival, stFunnelTws, eventsTransitions, textJsdSources, textZipf,
    textSegmentLm, mmVideo, dedupExactSpans, jsonlIngest, textScript,
    dedupExactSpansIncr, dedupSelfRemoval, decontaminateReport, evalBleu,
    dedupExact, dedupMinhash, dedupSimhash, dedupJaccard, dedupJaccardPrefix, dedupEmbedding, dedupEmbeddingLsh,
    dedupLshRecall, dedupClusters,
    decontaminate, corpusPipeline, e2eYamlCurate, suffixArray, suffixDupSpans,
    suffixDedupCut, exactGramCut, exactContaminationGate,
    textPii, textRepetition, textVocab, textBoilerplate,
    annBruteforce, annLsh, annIvf, annIvfLayout, annKmeans, embNormalize,
    textLangid, textQuality, textTokens, textFingerprint,
    mmMeta, mmDecode, mmFrames, mmAudio, mmAudioFp, eventWindows, stWindowedCounts, stSessionize, skewSaltedAgg,
    sampleSystematic, sampleStratified, packSequences, textChunks, corpusReport, corpusQuantiles,
    joinAsof, joinRange,
    textUnigramLm, splitAssign, sourceCap, sampleWeighted, upsertLatest, stDedup, skewSaltedJoin,
    stJoinInterval, stJoinIntervalLeft, textNfc,
    dedupSpans, mixEpochs, tfidfTerms,
    scd2Build, scd2Incr, cdcApply, dqChecks, annPq, embProject, textCollocations,
    dedupHllStats, dedupIncremental, freqCms, sketchHll, sketchHllMerge, stSketchHll, sketchKmvOverlap, sketchQuantileSample, sketchQuantileMerge, stSketchQuantile, textBm25, outlierMad, quantileSketch,
    annIvfPq, dedupEditDist, profileHist, annIvfPqResidual, textBpe, textNovelty,
    stDqChecks, eventsAnomaly, qualityBlend, embQuantize, urlOps, dedupEmbeddingIncr,
    textBpeLearn, textHtmlStrip, sampleMixture, dedupSemantic,
    textBpeIds, qualityFilter, dedupKeepBest, spanCorrupt, textBigramLm,
    urlBlocklist, stCurateIncrement, stLshDedupIncrement, stAnnServe, stExactContamination, textGopher, exportCurriculum, dedupWinnow,
    dedupWinnowSpans, sampleMixtureTemp, driftReport, mineHardNegatives,
    corpusDiff, textOov, dedupCdc, sftTemplate, packExamples, textFertility,
    sftPairs, qualityClassifier, classifierEval, sampleDsir, dedupContainment,
    splitLeakage, splitSafe, stClassifierScore, mineBitext, annInt8Rescore, mmPhash, annIvfIncr,
    topkPerKey, retrieveHybrid, qualityCompress, graphPagerank)

  /** Operators whose results would be sketch-based and engine-specific.
    * Empty since round 5: the HLL and CMS surfaces are gated through their
    * ACCURACY CONTRACTS instead (exact values + in-band booleans the oracle
    * can verify) — see [[dedupHllStats]] / [[freqCms]]. */
  val noOracle: Seq[(String, (SparkSession, String) => DataFrame)] = Seq.empty

  /** HLL approx-distinct, upgraded from rows-only to ORACLE-GATED: the
    * sketch bytes aren't portable, but the accuracy claim is — emit the
    * exact distinct count (one distinct agg, same scan) and a boolean
    * asserting the HLL estimate sits within 5% of it (rsd 0.02 → far
    * inside). The oracle checks `true` literally: an estimator regression
    * hash-mismatches.
    */
  private lazy val dedupHllStats: Q = "x_dedup_hll_stats" -> ((
    (s: SparkSession, dir: String) =>
      docs(s, dir).agg(
        count(lit(1)).as("total_docs"),
        count_distinct(col("text")).as("exact_distinct"),
        approx_count_distinct(col("text"), 0.02).as("_apx"))
      .select(col("total_docs"), col("exact_distinct"),
        (abs(col("_apx") - col("exact_distinct")) <=
          col("exact_distinct") * 0.05).as("hll_within_5pct")),
    """SELECT count(*) AS total_docs, count(DISTINCT text) AS exact_distinct,
      |  true AS hll_within_5pct FROM documents""".stripMargin))

  /** Incremental near-dup gate: docs < 400 are the persisted LSH index,
    * docs >= 400 the new batch; candidates must involve a new doc and the
    * old×old cross product is never generated. The oracle is the full
    * minhash replay with the at-least-one-new predicate — proving the
    * incremental probe converges to exactly the batch answer's new slice.
    */
  private lazy val dedupIncremental: Q = "x_dedup_incremental" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val idx = Dedup.minHashBands(d.where(col("doc_id") < 400), "doc_id", "text",
        n = 3, numHashes = 12, bands = 4)
      Dedup.lshPairsIncremental(d.where(col("doc_id") >= 400), idx, "doc_id", "text",
        n = 3, numHashes = 12, bands = 4)
    },
    minhashOracleWhere("\nWHERE a.doc_id >= 400 OR b.doc_id >= 400")))

  /** Candidate-verify dedup gate: LSH candidates (the gated minhash
    * pipeline) pass through an EDIT-DISTANCE verification on the document
    * head — the production near-dup shape (cheap hash recall stage, exact
    * verify stage on the candidate set only; levenshtein on full 100 TB
    * text would be quadratic suicide, on candidates' heads it is a bounded
    * per-pair cost). Both engines implement classic Levenshtein — integer
    * DP, engine-exact.
    */
  private lazy val dedupEditDist: Q = "x_dedup_editdist" -> ((
    (s: SparkSession, dir: String) => {
      // ASCII projection before the distance: Spark's levenshtein counts
      // CODE POINTS, DuckDB's counts BYTES — identical only on ASCII, so
      // the gate pins non-ASCII (æ/ø/å in this domain) to '?' on both
      // sides. The library operator itself stays code-point-based (the
      // correct semantics); only the cross-engine comparison is projected.
      val d = docs(s, dir).select(col("doc_id"),
        regexp_replace(substring(col("text"), 1, 100), "[^\\x20-\\x7E]", "?").as("head"))
      Dedup.minHashLshPairs(docs(s, dir), "doc_id", "text", n = 3, numHashes = 12, bands = 4)
        .join(d.select(col("doc_id").as("id_a"), col("head").as("h_a")), "id_a")
        .join(d.select(col("doc_id").as("id_b"), col("head").as("h_b")), "id_b")
        .select(col("id_a"), col("id_b"), levenshtein(col("h_a"), col("h_b")).as("edit_dist"))
        .where(col("edit_dist") <= 20)
    },
    s"""WITH cand AS (${minhashOracleWhere("")}),
       |h AS (SELECT doc_id,
       |        regexp_replace(substr(text, 1, 100), '[^\\x20-\\x7E]', '?', 'g') AS head
       |      FROM documents)
       |SELECT c.id_a, c.id_b, levenshtein(a.head, b.head) AS edit_dist
       |FROM cand c JOIN h a ON a.doc_id = c.id_a JOIN h b ON b.doc_id = c.id_b
       |WHERE levenshtein(a.head, b.head) <= 20""".stripMargin))

  /** Equi-width histogram profiling gate: 10 buckets over n_chars per
    * source, bounds from one broadcast min/max aggregate; the max value
    * clamps into the last bucket. Completes the profiling trio
    * (quantiles, MAD outliers, histogram).
    */
  private lazy val profileHist: Q = "x_profile_hist" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val mm = d.agg(min("n_chars").cast("double").as("_lo"),
        max("n_chars").cast("double").as("_hi"))
      d.crossJoin(broadcast(mm))
        .select(col("source"),
          least(floor((col("n_chars") - col("_lo")) * 10.0 / (col("_hi") - col("_lo"))), lit(9L))
            .cast("int").as("bucket"))
        .groupBy("source", "bucket").agg(count(lit(1)).as("n"))
    },
    """WITH mm AS (SELECT min(n_chars)::DOUBLE AS lo, max(n_chars)::DOUBLE AS hi FROM documents)
      |SELECT source,
      |  least(floor((n_chars - lo) * 10.0 / (hi - lo)), 9)::INT AS bucket,
      |  count(*) AS n
      |FROM documents, mm GROUP BY 1, 2""".stripMargin))

  /** BPE-application gate: token counts under an 8-rule merge list whose
    * later rules consume earlier rules' output (t+h → th, then th+e →
    * the). The oracle replays the same ordered literal replaces per word.
    */
  /** The 8-rule merge list shared by the BPE application gates; later
    * rules consume earlier rules' output (t+h → th, then th+e → the).
    */
  private lazy val bpeGateMerges = Seq("t h" -> "th", "i n" -> "in", "a n" -> "an",
    "e r" -> "er", "o n" -> "on", "th e" -> "the", "a t" -> "at", "o r" -> "or")

  /** Oracle replay of one word's merge application: space-DOUBLING replace
    * per rule (exact greedy left-to-right merge) — see
    * TextAnalysis.bpeTokenCount for the boundary/odd-run rationale.
    */
  private def bpePerWordSql(merges: Seq[(String, String)]): String =
    merges.foldLeft("""' ' || regexp_replace(w, '(.)', '\1 ', 'g')""") {
      case (acc, (a, b)) =>
        val a2 = a.replace(" ", "  ")
        s"replace(replace(replace($acc, ' ', '  '), ' $a2 ', ' $b '), '  ', ' ')"
    }

  private lazy val textBpe: Q = {
    val merges = bpeGateMerges
    val perWord = bpePerWordSql(merges)
    "x_text_bpe" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir).select(col("doc_id"),
          size(graft.functions.TextAnalysis.tokens(col("text"))).as("n_ws"),
          graft.functions.TextAnalysis.bpeTokenCount(col("text"), merges).as("n_bpe")),
      s"""SELECT doc_id,
         |  len(string_split(trim(text),' '))::INT AS n_ws,
         |  list_reduce(list_prepend(0, list_transform(string_split(trim(text),' '),
         |    w -> len(string_split(trim($perWord), ' '))::INT)), (a,b)->a+b) AS n_bpe
         |FROM documents""".stripMargin))
  }

  /** Tokenizer FERTILITY gate — per-source whitespace-token vs BPE-subword
    * counts (fertility = n_bpe / n_ws, the tokenizer-efficiency screen a
    * training mix runs per source: a source whose fertility is far above
    * the corpus norm is one the tokenizer fragments, and it silently pays
    * more sequence length per word than its mixture weight assumes).
    * Counts only — exact longs, division left to the reader. Plan shape:
    * per-row Column math under one source-keyed aggregate; shuffle carries
    * `sources × 3` longs.
    */
  private lazy val textFertility: Q = {
    val merges = bpeGateMerges
    val perWord = bpePerWordSql(merges)
    "x_text_fertility" -> ((
      (s: SparkSession, dir: String) =>
        docs(s, dir).select(col("source"),
          size(graft.functions.TextAnalysis.tokens(col("text"))).cast("long").as("_ws"),
          graft.functions.TextAnalysis.bpeTokenCount(col("text"), merges)
            .cast("long").as("_bpe"))
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(col("_ws")).as("n_ws"),
            sum(col("_bpe")).as("n_bpe")),
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(len(string_split(trim(text),' ')))::BIGINT AS n_ws,
         |  sum(list_reduce(list_prepend(0, list_transform(string_split(trim(text),' '),
         |    w -> len(string_split(trim($perWord), ' '))::INT)), (a,b)->a+b))::BIGINT AS n_bpe
         |FROM documents GROUP BY source""".stripMargin))
  }

  /** BPE merge-LEARNING gate: 4 greedy rounds over the corpus word-
    * frequency table. The oracle unrolls the identical algorithm — pair
    * counts weighted by word frequency, (cnt DESC, pair ASC) argmax,
    * space-doubling greedy merge application — one CTE pair per round,
    * the same unrolling discipline as the Lloyd trainers. Integer counts
    * and ASCII-bytewise tie-breaks leave nothing engine-specific.
    */
  private lazy val textBpeLearn: Q = {
    val k = 4
    val ctes = new StringBuilder
    ctes.append(
      """w AS (SELECT w, count(*)::BIGINT AS c
        |  FROM (SELECT unnest(string_split(trim(text),' ')) AS w FROM documents)
        |  WHERE w <> '' GROUP BY w),
        |s0 AS (SELECT ' ' || regexp_replace(w, '(.)', '\1 ', 'g') AS sym, c FROM w)""".stripMargin)
    (0 until k).foreach { i =>
      ctes.append(s""",
        |p$i AS (SELECT ws[j]||' '||ws[j+1] AS pair, sum(c)::BIGINT AS cnt
        |  FROM (SELECT string_split(trim(sym),' ') AS ws, c FROM s$i),
        |       UNNEST(range(1, len(ws))) t(j)
        |  GROUP BY 1),
        |m$i AS (SELECT $i::INT AS rank, pair, replace(pair,' ','') AS merged, cnt
        |  FROM p$i ORDER BY cnt DESC, pair LIMIT 1)""".stripMargin)
      if (i < k - 1) ctes.append(s""",
        |s${i + 1} AS (SELECT replace(replace(replace(sym, ' ', '  '),
        |    ' '||replace((SELECT pair FROM m$i), ' ', '  ')||' ',
        |    ' '||(SELECT merged FROM m$i)||' '),
        |    '  ', ' ') AS sym, c
        |  FROM s$i)""".stripMargin)
    }
    val union = (0 until k).map(i => s"SELECT * FROM m$i").mkString(" UNION ALL ")
    "x_text_bpe_learn" -> ((
      (s: SparkSession, dir: String) =>
        graft.operators.BpeTrain.learnMerges(docs(s, dir), "text", numMerges = k),
      s"WITH ${ctes.toString}\nSELECT rank, pair, merged, cnt FROM ($union)"))
  }

  /** STREAMING data-quality contract gate: the dq expectation engine runs
    * inside `foreachBatch` over an AvailableNow file stream — per-batch
    * violation counts accumulate, so the ingest contract is enforced ON THE
    * STREAM (the production shape: a micro-batch with contract breakage can
    * abort before its write). Only BATCH-ADDITIVE checks (not-null, range,
    * accepted) run here — their per-batch counts sum to the global answer
    * under ANY micro-batch split; a Unique check is deliberately absent
    * because per-batch distinct counts cannot see cross-batch duplicates
    * (streaming uniqueness is [[stDedup]]'s stateful
    * `dropDuplicatesWithinWatermark` job).
    */
  private lazy val stDqChecks: Q = "st_dq_checks" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      import graft.operators.Quality, Quality.DqCheck._
      scratchTree("stdq") { tmp =>
        val ev = sources.EventsTable.load(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        ev.write.parquet(s"$tmp/topic")
        val totals = scala.collection.mutable.Map.empty[String, Long]
        runToEnd(tmp)(s.readStream.schema(ev.schema).parquet(s"$tmp/topic")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            Quality.evaluate(batch, Seq(
              NotNull("user_id"),
              InRange("value", 0.0, 15.0),
              AcceptedValues("event_type", Seq("click", "view", "purchase", "signup"))))
              .collect().foreach { r =>
                totals.updateWith(r.getString(0))(v => Some(v.getOrElse(0L) + r.getLong(1)))
              }
          })
        import s.implicits._
        totals.toSeq.toDF("check_name", "violations")
      }
    },
    """SELECT 'not_null:user_id' AS check_name,
      |       count(*) FILTER (WHERE user_id IS NULL) AS violations FROM events
      |UNION ALL SELECT 'range:value',
      |       count(*) FILTER (WHERE value IS NOT NULL
      |                        AND value NOT BETWEEN 0 AND 15) FROM events
      |UNION ALL SELECT 'accepted:event_type',
      |       count(*) FILTER (WHERE event_type IS NOT NULL
      |                        AND event_type NOT IN ('click','view','purchase','signup'))
      |FROM events""".stripMargin))

  /** Bounded top-k-per-key gate over the native [[graft.expressions.TopKAgg]]
    * aggregate: top-3 events per event_type by (value DESC, event_id DESC) —
    * the shortlist shape (per-domain best docs, per-query rescore cut) that
    * at 100 TB must NOT shuffle N rows. The aggregate's capped partial
    * buffers keep the exchange at O(keys × k × partitions); TopKSpec proves
    * the bound from executed shuffle metrics. Oracle is the plain
    * `row_number() <= k` window — same rows, naive plan.
    */
  private lazy val topkPerKey: Q = "x_topk_per_key" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir).where(col("value").isNotNull)
      operators.TopK.topKPerKey(ev, Seq("event_type"),
          struct(col("value"), col("event_id"), col("user_id")), k = 3)
        .select("event_type", "value", "event_id", "user_id")
    },
    """SELECT event_type, value, event_id, user_id FROM (
      |  SELECT event_type, value, event_id, user_id,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY value DESC, event_id DESC) AS rn
      |  FROM events WHERE value IS NOT NULL) WHERE rn <= 3""".stripMargin))

  /** Hybrid-retrieval gate: BM25 lexical top-30 and dense cosine top-30
    * (query = vector 0) fused by reciprocal rank (c=60) into a top-20 —
    * the standard sparse+dense first stage of a RAG retrieval pipeline.
    * Both shortlists reuse gated rankers ([[graft.operators.TfIdf.bm25]],
    * [[graft.operators.Similarity.topK]]); the oracle replays both plus the
    * same coalesced two-term fusion sum. `n_lists` counts rankers that
    * surfaced the doc.
    */
  private lazy val retrieveHybrid: Q = "x_retrieve_hybrid" -> ((
    (s: SparkSession, dir: String) => {
      val sparse = graft.operators.TfIdf.bm25(docs(s, dir), "doc_id", "text",
        queryTerms = Seq("hash", "join", "spark", "vector"), k1 = 1.2, b = 0.75, topK = 30)
        .select("doc_id", "rank")
      val dense = Similarity.topK(emb(s, dir).where(col("vec_id") === 0), emb(s, dir),
          "vec_id", "embedding", k = 30)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      graft.operators.Retrieval.rrfFuse(Seq(sparse, dense), "doc_id", "rank", c = 60, k = 20)
    },
    """WITH ws AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
      |stats AS (SELECT count(*)::DOUBLE AS n, sum(len(ws))::DOUBLE / count(*) AS avgdl FROM ws),
      |post AS (SELECT doc_id, len(ws)::DOUBLE AS dl, unnest(ws) AS term FROM ws),
      |fp AS (SELECT * FROM post WHERE term IN ('hash','join','spark','vector')),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
      |  FROM fp GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM fp GROUP BY term),
      |per AS (SELECT tf.doc_id, tf.term,
      |    ln((n - df + 0.5)/(df + 0.5) + 1) * (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
      |  FROM tf JOIN dfq USING (term), stats),
      |sc AS (SELECT doc_id,
      |    round(list_reduce(list_prepend(0.0, list(s ORDER BY term)), (a,b)->a+b), 4) AS score
      |  FROM per GROUP BY doc_id),
      |sparse AS (SELECT doc_id, rank FROM
      |  (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)::INT AS rank FROM sc)
      |  WHERE rank <= 30),
      |nv AS (SELECT vec_id, embedding,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
      |       (a,b)->a+b)) nrm FROM embeddings),
      |scored AS (SELECT c.vec_id AS doc_id,
      |  list_reduce(list_prepend(0.0, list_transform(list_zip(q.embedding,c.embedding),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,v)->acc+v)/(q.nrm*c.nrm) AS cosine
      |  FROM nv q JOIN nv c ON q.vec_id <> c.vec_id WHERE q.vec_id = 0),
      |dense AS (SELECT doc_id, rank FROM
      |  (SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id)::INT AS rank
      |   FROM scored) WHERE rank <= 30)
      |SELECT COALESCE(s.doc_id, d.doc_id) AS doc_id,
      |  round(COALESCE(1.0/(60.0 + s.rank::DOUBLE), 0.0)
      |      + COALESCE(1.0/(60.0 + d.rank::DOUBLE), 0.0), 6) AS rrf_score,
      |  (CASE WHEN s.rank IS NOT NULL THEN 1 ELSE 0 END
      |   + CASE WHEN d.rank IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_lists
      |FROM sparse s FULL OUTER JOIN dense d ON s.doc_id = d.doc_id
      |ORDER BY rrf_score DESC, 1 LIMIT 20""".stripMargin))

  /** Compression-ratio quality gate (sketch-gate pattern, like the HLL/CMS
    * gates): zlib lengths aren't SQL-portable, so the gated claims are the
    * oracle-checkable count plus two booleans that are TRUE BY CONSTRUCTION
    * of DEFLATE — every doc within the stored-block bound (compressed ≤
    * bytes + 64) and doubling subadditive (defl(t‖t) < 2·defl(t) + 64, the
    * LZ77 back-reference guarantee) — so an implementation regression (e.g.
    * a codec swap that inflates short docs) hash-mismatches. The RATIO
    * itself is the training-filter signal ([[graft.operators.Quality
    * .compressionRatio]]); its spec pins known-compressibility fixtures.
    */
  private lazy val qualityCompress: Q = "x_quality_compress" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir).select(col("source"),
        octet_length(col("text")).cast("long").as("bl"),
        Quality.deflateLen(col("text")).as("c1"),
        Quality.deflateLen(concat(col("text"), col("text"))).as("c2"))
      d.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        bool_and(col("c1") <= col("bl") + lit(64L)).as("within_stored_bound"),
        bool_and(col("c2") < lit(2L) * col("c1") + lit(64L)).as("doubling_subadditive"))
    },
    """SELECT source, count(*) AS n_docs, true AS within_stored_bound,
      |  true AS doubling_subadditive FROM documents GROUP BY source""".stripMargin))

  /** PageRank-over-near-dup-graph gate: the minhash-LSH pair list (same
    * semantics as `x_dedup_minhash_lsh`, CTEs shared verbatim) symmetrized
    * into a directed edge list, 5 damped power iterations — the
    * boilerplate-hub curation signal. The oracle unrolls the iterations
    * with the same sorted-source contribution folds and double-forced
    * constants, so ranks are bit-identical before the final round(6).
    */
  private lazy val graphPagerank: Q = {
    val iterCtes = (1 to 5).map { t =>
      s"""i$t AS (SELECT e.dst AS id,
         |  list_reduce(list_prepend(0.0, list(r.r/d.deg ORDER BY e.src)), (a,b)->a+b) AS v
         |  FROM edges e JOIN degq d ON d.src=e.src JOIN r${t - 1} r ON r.id=e.src GROUP BY e.dst),
         |r$t AS (SELECT n0.id,
         |  (1.0::DOUBLE - 0.85::DOUBLE)/nn.n + 0.85::DOUBLE*coalesce(i$t.v, 0.0::DOUBLE) AS r
         |  FROM nodesq n0 CROSS JOIN nn LEFT JOIN i$t ON i$t.id=n0.id)""".stripMargin
    }.mkString(",\n")
    "x_graph_pagerank" -> ((
      (s: SparkSession, dir: String) => {
        // Two-phase partition sizing (the x_corpus_pipeline diagnosis,
        // BASELINE.md r13): the minhash pair generation is the corpus-sized
        // relational phase — materialize it at session width; the PageRank
        // iterations then run over a SLIVER graph (thousands of edges), and
        // 32-wide iteration stages are pure per-task fixed cost — narrow
        // them like connectedComponents sizes its own width. Eager
        // localCheckpoint keeps every iteration inside the narrow scope.
        val pairs = Dedup.minHashLshPairs(docs(s, dir), "doc_id", "text",
          n = 3, numHashes = 12, bands = 4).localCheckpoint(true)
        val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        withStatePartitions(s, 8) {
          operators.Graph.pageRank(edges, "src", "dst", iters = 5, damping = 0.85)
            .localCheckpoint(true)
        }
      },
      s"""WITH $minhashCtes,
         |pairs AS ($minhashPairsSelect),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
         |degq AS (SELECT src, count(*)::BIGINT AS deg FROM edges GROUP BY src),
         |nodesq AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
         |nn AS (SELECT count(*)::DOUBLE AS n FROM nodesq),
         |r0 AS (SELECT id, 1.0::DOUBLE/nn.n AS r FROM nodesq CROSS JOIN nn),
         |$iterCtes
         |SELECT id AS node_id, round(r, 6) AS pagerank FROM r5""".stripMargin))
  }

  /** Event-rate anomaly gate: per (user, hour) event counts flagged beyond
    * 3σ of that user's own hourly mean — composition of event-time
    * bucketing, grouped stats and a broadcast join back. Counts are
    * integers, so the mean/variance sums are exact in doubles and both
    * engines agree without rounding tricks (round(…,6) belt anyway).
    */
  private lazy val eventsAnomaly: Q = "x_events_anomaly" -> ((
    (s: SparkSession, dir: String) => {
      val hourly = sources.EventsTable.load(s, dir)
        .select(col("user_id"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("ms"))
        // integer floor-div, NOT `/` (Column `/` is double division and the
        // truncating cast could land a boundary millisecond in the wrong hour)
        .select(col("user_id"), expr("ms div 3600000").as("hr"))
        .groupBy("user_id", "hr").agg(count(lit(1)).as("n"))
      val stats = hourly.groupBy("user_id").agg(
        (sum("n").cast("double") / count(lit(1))).as("mu"),
        sqrt(sum(col("n") * col("n")).cast("double") / count(lit(1)) -
          (sum("n").cast("double") / count(lit(1))) * (sum("n").cast("double") / count(lit(1))))
          .as("sigma"),
        count(lit(1)).as("n_hours"))
      hourly.join(broadcast(stats), "user_id")
        .where(col("n") > col("mu") + lit(3.0) * col("sigma"))
        .select(col("user_id"), col("hr"), col("n"),
          round(col("mu"), 6).as("mu"), round(col("sigma"), 6).as("sigma"))
    },
    """WITH hourly AS (SELECT user_id, epoch_ms(ts) // 3600000 AS hr, count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |stats AS (SELECT user_id,
      |    sum(n)::DOUBLE / count(*) AS mu,
      |    sqrt(sum(n*n)::DOUBLE / count(*) -
      |         (sum(n)::DOUBLE / count(*)) * (sum(n)::DOUBLE / count(*))) AS sigma
      |  FROM hourly GROUP BY user_id)
      |SELECT h.user_id, h.hr, h.n, round(s.mu, 6) AS mu, round(s.sigma, 6) AS sigma
      |FROM hourly h JOIN stats s USING (user_id)
      |WHERE h.n > s.mu + 3.0 * s.sigma""".stripMargin))

  /** Curation-score blending gate: quality score, trigram novelty and raw
    * length rank-normalized per source, averaged, decile-bucketed — the
    * signal combiner a corpus-mixing recipe ranks by. The oracle composes
    * the quality-formula and novelty CTEs with the same deterministic
    * (signal, doc_id) window orders.
    */
  private lazy val qualityBlend: Q = {
    val en = graft.functions.TextAnalysis.markers.head._2.map(w => s"'$w'").mkString(",")
    "x_quality_blend" -> ((
      (s: SparkSession, dir: String) => {
        val base = docs(s, dir).select(col("doc_id"), col("source"), col("n_chars"),
          round(graft.functions.TextAnalysis.qualityScore(col("text")), 6).as("sq"))
        val ds = Dedup.shingleTable(docs(s, dir), "doc_id", "text", n = 3)
        val nov = ds.join(ds.groupBy("shingle").agg(count(lit(1)).as("df")), "shingle")
          .groupBy("doc_id")
          .agg(round(count_if(col("df") === 1).cast("double") / count(lit(1)), 6).as("nov"))
        val j = base.join(nov, Seq("doc_id"), "left_outer")
          .withColumn("nov", coalesce(col("nov"), lit(0.0)))
        Quality.rankBlend(j, "source", "doc_id",
            signals = Seq(col("sq"), col("nov"), col("n_chars")))
          .select("doc_id", "source", "blend", "decile")
      },
      s"""WITH qf AS (SELECT doc_id, source, n_chars,
         |    round(
         |      least(length(text)::DOUBLE / 500.0, 1.0) * 0.5
         |      + (len(list_filter(string_split(trim(lower(text)),' '), t -> t IN ($en)))::DOUBLE
         |         / greatest(len(string_split(trim(lower(text)),' ')),1)::DOUBLE) * 0.4
         |      + (1.0 - least(len(regexp_extract_all(text, '[.,!?;:]'))::DOUBLE
         |                     / greatest(length(text),1)::DOUBLE * 10.0, 1.0)) * 0.1, 6) AS sq
         |  FROM documents),
         |toks AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
         |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s2
         |       FROM toks, UNNEST(range(1, len(ws)-1)) t(i)),
         |dfq AS (SELECT s2, count(*)::BIGINT AS df FROM sh GROUP BY s2),
         |nv AS (SELECT doc_id,
         |    round((count(*) FILTER (WHERE df = 1))::DOUBLE / count(*), 6) AS nov
         |  FROM sh JOIN dfq USING (s2) GROUP BY doc_id),
         |j AS (SELECT q.doc_id, q.source, q.sq, coalesce(nv.nov, 0.0) AS nov, q.n_chars
         |  FROM qf q LEFT JOIN nv ON nv.doc_id = q.doc_id),
         |r AS (SELECT doc_id, source,
         |    percent_rank() OVER (PARTITION BY source ORDER BY sq, doc_id) AS r0,
         |    percent_rank() OVER (PARTITION BY source ORDER BY nov, doc_id) AS r1,
         |    percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r2
         |  FROM j),
         |b AS (SELECT doc_id, source, round((r0 + r1 + r2) / 3, 6) AS blend FROM r)
         |SELECT doc_id, source, blend,
         |  ntile(10) OVER (PARTITION BY source ORDER BY blend, doc_id) AS decile
         |FROM b""".stripMargin))
  }

  /** Curriculum EXPORT layout gate: rank-decile the corpus, land it
    * `partitionBy(decile)` with in-file ordering
    * ([[graft.sinks.ParquetLayout.writePartitioned]]), and read back the
    * curriculum head (`decile <= 2`) — a training reader that consumes
    * easy-to-hard buckets must PRUNE to its bucket's directories, not scan
    * the corpus (pruning itself asserted on scan metrics in
    * ParquetLayoutSpec; this gate pins the decile VALUES that land).
    */
  private lazy val exportCurriculum: Q = "x_export_curriculum" -> ((
    (s: SparkSession, dir: String) => {
      val ranked = graft.operators.Quality.rankBlend(
        docs(s, dir).select(col("doc_id"), col("source"), col("n_chars")),
        "source", "doc_id", signals = Seq(col("n_chars")))
      scratchTree("cur") { tmp =>
        graft.sinks.ParquetLayout.writePartitioned(
          ranked.select("doc_id", "source", "n_chars", "decile"),
          s"$tmp/cur", partitionCols = Seq("decile"), sortCols = Seq("n_chars"))
        s.read.parquet(s"$tmp/cur").where(col("decile") <= 2)
          .select(col("doc_id"), col("source"), col("decile").cast("int").as("decile"))
      }
    },
    """WITH r AS (SELECT doc_id, source,
      |  round(percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id), 6) AS blend
      |  FROM documents)
      |SELECT doc_id, source, decile FROM (
      |  SELECT doc_id, source,
      |    ntile(10) OVER (PARTITION BY source ORDER BY blend, doc_id)::INT AS decile
      |  FROM r)
      |WHERE decile <= 2""".stripMargin))

  /** N-gram novelty gate: per document, the share of its DISTINCT word
    * trigrams that occur in no other document — the "how much of this doc
    * is new text" curation signal (low novelty = templated/duplicated
    * content even when no single dedup rule fires). One distinct shingle
    * expansion feeding a shingle-keyed df count; same construction as the
    * minhash oracle's `sh` CTE.
    */
  private lazy val textNovelty: Q = "x_text_novelty" -> ((
    (s: SparkSession, dir: String) => {
      // shingleTable output is already per-doc distinct (array_distinct
      // before the explode) — no distinct() here: it would re-shuffle the
      // whole expanded shingle volume for identical rows.
      val ds = Dedup.shingleTable(docs(s, dir), "doc_id", "text", n = 3)
      val dfq = ds.groupBy("shingle").agg(count(lit(1)).as("df"))
      ds.join(dfq, "shingle")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          count_if(col("df") === 1).as("n_novel"),
          round(count_if(col("df") === 1).cast("double") / count(lit(1)), 6).as("novelty"))
    },
    """WITH toks AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
      |sh AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
      |       FROM toks, UNNEST(range(1, len(ws)-1)) t(i)),
      |dfq AS (SELECT s, count(*)::BIGINT AS df FROM sh GROUP BY s)
      |SELECT doc_id, count(*)::BIGINT AS n_shingles,
      |  (count(*) FILTER (WHERE df = 1))::BIGINT AS n_novel,
      |  round((count(*) FILTER (WHERE df = 1))::DOUBLE / count(*), 6) AS novelty
      |FROM sh JOIN dfq USING (s) GROUP BY doc_id""".stripMargin))

  /** BM25 retrieval gate: top-20 docs for a four-term query. Constant
    * arithmetic is written identically on both sides (same IEEE double
    * folds); per-doc term scores fold in sorted term order and round to 4
    * decimals before ranking.
    */
  private lazy val textBm25: Q = "x_text_bm25" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.TfIdf.bm25(docs(s, dir), "doc_id", "text",
        queryTerms = Seq("hash", "join", "spark", "vector"), k1 = 1.2, b = 0.75, topK = 20),
    """WITH ws AS (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
      |stats AS (SELECT count(*)::DOUBLE AS n, sum(len(ws))::DOUBLE / count(*) AS avgdl FROM ws),
      |post AS (SELECT doc_id, len(ws)::DOUBLE AS dl, unnest(ws) AS term FROM ws),
      |fp AS (SELECT * FROM post WHERE term IN ('hash','join','spark','vector')),
      |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf, any_value(dl) AS dl
      |  FROM fp GROUP BY doc_id, term),
      |dfq AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM fp GROUP BY term),
      |per AS (SELECT tf.doc_id, tf.term,
      |    ln((n - df + 0.5)/(df + 0.5) + 1) * (tf * (1.2 + 1.0)) /
      |      (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS s
      |  FROM tf JOIN dfq USING (term), stats),
      |sc AS (SELECT doc_id,
      |    round(list_reduce(list_prepend(0.0, list(s ORDER BY term)), (a,b)->a+b), 4) AS score
      |  FROM per GROUP BY doc_id)
      |SELECT doc_id, score, rank FROM
      |  (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id)::INT AS rank FROM sc)
      |WHERE rank <= 20""".stripMargin))

  /** Robust outlier profile gate: per-priority median / MAD / beyond-3-MAD
    * counts over order totals. Medians round to 6 decimals BEFORE the
    * deviation and threshold math on both sides, so last-ULP percentile
    * interpolation differences cannot flip a boundary point's class.
    */
  private lazy val outlierMad: Q = "x_outlier_mad" -> ((
    (s: SparkSession, dir: String) =>
      Quality.madOutliers(s.read.parquet(s"$dir/orders.parquet"),
        "o_totalprice", "o_orderpriority", z = 3.0),
    """WITH med AS (SELECT o_orderpriority AS grp,
      |    round(quantile_cont(o_totalprice, 0.5), 6) AS med
      |  FROM orders GROUP BY 1),
      |d AS (SELECT o.o_orderpriority AS grp, m.med,
      |    abs(o.o_totalprice - m.med) AS ad
      |  FROM orders o JOIN med m ON m.grp = o.o_orderpriority),
      |madf AS (SELECT grp, med, round(quantile_cont(ad, 0.5), 6) AS mad,
      |    count(*)::BIGINT AS n
      |  FROM d GROUP BY grp, med)
      |SELECT d.grp AS o_orderpriority, m.med, m.mad, m.n,
      |  (count(*) FILTER (WHERE d.ad > 3.0 * m.mad))::BIGINT AS n_outliers
      |FROM d JOIN madf m USING (grp) GROUP BY 1, 2, 3, 4""".stripMargin))

  /** Approx-percentile accuracy contract (same pattern as the HLL/CMS
    * gates): the sketch value stays engine-side; the gated claim is that it
    * lands inside the exact p45–p55 bracket (rank error ≤ n/1000 — far
    * inside). Legitimizes the percentile→approx_percentile swap the
    * profiling ops document for 100 TB groups.
    */
  private lazy val quantileSketch: Q = "x_quantile_sketch" -> ((
    (s: SparkSession, dir: String) =>
      docs(s, dir).groupBy("source").agg(
        expr("percentile(n_chars, 0.5)").as("exact_p50"),
        expr("approx_percentile(n_chars, 0.5, 1000)").as("_apx"),
        expr("percentile(n_chars, 0.45)").as("_lo"),
        expr("percentile(n_chars, 0.55)").as("_hi"))
      .select(col("source"), col("exact_p50"),
        (col("_apx") >= col("_lo") && col("_apx") <= col("_hi")).as("apx_in_bracket")),
    """SELECT source, quantile_cont(n_chars, 0.5) AS exact_p50,
      |  true AS apx_in_bracket FROM documents GROUP BY source""".stripMargin))

  /** Count–min-sketch heavy-hitter gate via the accuracy contract: exact
    * top-20 token counts (oracle-verifiable) + `cms_ok` booleans the oracle
    * pins to `true`. */
  private lazy val freqCms: Q = "x_freq_cms" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Sketches.cmsHeavyHitterCheck(docs(s, dir), "text", topK = 20),
    """SELECT tok, exact_cnt, true AS cms_ok FROM (
      |  SELECT tok, count(*)::BIGINT AS exact_cnt,
      |    row_number() OVER (ORDER BY count(*) DESC, tok) AS rk
      |  FROM (SELECT unnest(string_split(trim(text),' ')) AS tok FROM documents)
      |  GROUP BY tok) WHERE rk <= 20""".stripMargin))

  /** HyperLogLog distinct-count gate ([[graft.operators.Sketches.hllDistinct]]):
    * distinct `l_orderkey` per `l_returnflag` with m=256 registers. Unlike
    * the CMS/percentile accuracy-contract gates, the sketch here is
    * ENGINE-PORTABLE, so the oracle replays the register construction
    * itself — md5-32-bit hash, top-8-bit register, binary-string-length
    * rho, exact `2^-rho` fold (every partial sum is a multiple of
    * `2^-25` bounded by 256, hence bit-exact under any addition order) —
    * and the estimates hash-match to 6 decimals. Per-flag cardinalities
    * (~thousands) sit in the correction-free raw regime by construction:
    * the estimate is division-only, no transcendental boundary risk.
    */
  private lazy val sketchHll: Q = "x_sketch_hll" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Sketches.hllDistinct(
        s.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_returnflag"), col("l_orderkey"), p = 8),
    """WITH h AS (SELECT l_returnflag,
      |    ('0x'||substr(md5(CAST(l_orderkey AS VARCHAR)),1,8))::BIGINT AS hv
      |  FROM lineitem),
      |r AS (SELECT l_returnflag, hv >> 24 AS reg, hv & 16777215 AS rest FROM h),
      |regs AS (SELECT l_returnflag, reg,
      |    max(CASE WHEN rest = 0 THEN 25 ELSE 25 - length(bin(rest)) END) AS mr
      |  FROM r GROUP BY 1, 2)
      |SELECT l_returnflag, count(*)::BIGINT AS n_regs,
      |  round((0.7213/(1 + 1.079/256)) * 65536.0 /
      |        (sum(power(2.0, -mr)) + (256 - count(*))), 6) AS hll_estimate
      |FROM regs GROUP BY 1""".stripMargin))

  /** Mergeable QUANTILE SAMPLE gate
    * ([[graft.operators.Sketches.quantileSampleRows]]): the k = 512
    * smallest-row-hash lineitem prices per return flag are a
    * deterministic min-wise reservoir; the gate emits each group's exact
    * median, the sample median, and the accuracy contract (sample median
    * inside the exact p40–p60 band — sample-quantile rank error at k=512
    * is ~2.2% σ, the band is ±10%). The oracle replays the identical
    * sample as a rank-≤-k window over the same md5-prefix row hashes, so
    * every emitted value matches exactly, not just in-band.
    */
  /** Exact (lo=p40, p50, hi=p60) of `l_extendedprice` per return flag from
    * ONE `percentile` buffer (round 15): the previous three separate
    * `percentile` aggregates each built an identical full-group value
    * buffer — 3x the partial-aggregate bytes through the exchange for the
    * same sorted walk (guide: shuffle fewer bytes / aggregate before you
    * shuffle). `percentile(v, array(...))` sorts one buffer and
    * interpolates all three ranks from it — values bit-identical (same
    * counts-map buffer, same per-p interpolation as the scalar form).
    */
  private def exactPriceBand(li: DataFrame): DataFrame =
    li.groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.40D, 0.5D, 0.60D))").as("_ps"))
      .select(col("l_returnflag"),
        element_at(col("_ps"), 2).as("_p50"),
        element_at(col("_ps"), 1).as("_lo"),
        element_at(col("_ps"), 3).as("_hi"))

  private lazy val sketchQuantileSample: Q = "x_sketch_quantile_sample" -> ((
    (s: SparkSession, dir: String) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val sample = graft.operators.Sketches.quantileSampleRows(
        li, Seq("l_returnflag"),
        concat_ws("_", col("l_orderkey"), col("l_linenumber")),
        col("l_extendedprice"), k = 512)
      val sq = sample.groupBy("l_returnflag")
        .agg(expr("percentile(v, 0.5)").as("_sp50"))
      val ex = exactPriceBand(li)
      ex.join(sq, "l_returnflag")
        .select(col("l_returnflag"), round(col("_p50"), 6).as("exact_p50"),
          round(col("_sp50"), 6).as("sample_p50"),
          (col("_sp50") >= col("_lo") && col("_sp50") <= col("_hi")).as("in_band"))
    },
    """WITH r AS (SELECT l_returnflag AS g, l_extendedprice::DOUBLE AS v,
      |    ('0x'||substr(md5(l_orderkey::VARCHAR||'_'||l_linenumber::VARCHAR),1,8))::BIGINT AS hv
      |  FROM lineitem),
      |sm AS (SELECT g, v FROM (SELECT g, v,
      |    row_number() OVER (PARTITION BY g ORDER BY hv, v) AS rn FROM r)
      |  WHERE rn <= 512),
      |sq AS (SELECT g, quantile_cont(v, 0.5) AS sp50 FROM sm GROUP BY g),
      |ex AS (SELECT g, quantile_cont(v, 0.5) AS p50, quantile_cont(v, 0.40) AS lo,
      |    quantile_cont(v, 0.60) AS hi FROM r GROUP BY g)
      |SELECT ex.g AS l_returnflag, round(ex.p50, 6) AS exact_p50,
      |  round(sq.sp50, 6) AS sample_p50,
      |  sq.sp50 >= ex.lo AND sq.sp50 <= ex.hi AS in_band
      |FROM ex JOIN sq ON sq.g = ex.g""".stripMargin))

  /** Quantile-sample MERGE gate — the roll-up property as a correctness
    * statement: samples built on the two `l_orderkey % 2` halves
    * SEPARATELY, merged with
    * [[graft.operators.Sketches.quantileSampleMerge]] (union + re-rank ≤
    * k), must reproduce EXACTLY the whole-data sample's medians — the
    * bottom-k of a union is computable from the slices' bottom-k's alone.
    * Shares `x_sketch_quantile_sample`'s oracle VERBATIM. This is the
    * 100 TB roll-up shape [[sketchHllMerge]] gives distinct counts, for
    * quantiles: per-day k-row tables merge without rescanning the data.
    */
  private lazy val sketchQuantileMerge: Q = "x_sketch_quantile_merge" -> ((
    (s: SparkSession, dir: String) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      def sampleOf(p: Int) = graft.operators.Sketches.quantileSampleRows(
        li.where(pmod(col("l_orderkey"), lit(2)) === p), Seq("l_returnflag"),
        concat_ws("_", col("l_orderkey"), col("l_linenumber")),
        col("l_extendedprice"), k = 512)
      val merged = graft.operators.Sketches.quantileSampleMerge(
        Seq("l_returnflag"), 512, sampleOf(0), sampleOf(1))
      val sq = merged.groupBy("l_returnflag")
        .agg(expr("percentile(v, 0.5)").as("_sp50"))
      val ex = exactPriceBand(li)
      ex.join(sq, "l_returnflag")
        .select(col("l_returnflag"), round(col("_p50"), 6).as("exact_p50"),
          round(col("_sp50"), 6).as("sample_p50"),
          (col("_sp50") >= col("_lo") && col("_sp50") <= col("_hi")).as("in_band"))
    },
    sketchQuantileSample._2._2))

  /** HLL MERGE gate — the sketch's defining property as a correctness
    * statement: registers built on the two `l_orderkey % 2` halves
    * SEPARATELY, merged with [[graft.operators.Sketches.hllMergeRegisters]]
    * (union + keyed max), must estimate EXACTLY what the whole-corpus
    * sketch estimates — register state is a per-key max, so slice-and-merge
    * is lossless by construction. Shares `x_sketch_hll`'s oracle VERBATIM.
    * This is the 100 TB roll-up shape: per-partition / per-day register
    * tables (m-bounded rows) merge without rescanning the data.
    */
  private lazy val sketchHllMerge: Q = "x_sketch_hll_merge" -> ((
    (s: SparkSession, dir: String) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val even = graft.operators.Sketches.hllRegisters(
        li.where(col("l_orderkey") % 2 === 0), Seq("l_returnflag"), col("l_orderkey"), p = 8)
      val odd = graft.operators.Sketches.hllRegisters(
        li.where(col("l_orderkey") % 2 === 1), Seq("l_returnflag"), col("l_orderkey"), p = 8)
      graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllMergeRegisters(Seq("l_returnflag"), even, odd),
        Seq("l_returnflag"), p = 8)
    },
    sketchHll._2._2))

  /** STREAMING quantile tracking: each micro-batch's per-group bottom-k
    * row-hash sample is written to a `batch_id`-partitioned state dir with
    * per-batch OVERWRITE (the `lshIncrementStep`/`st_sketch_hll`
    * idempotence discipline), and the quantile at any point is one
    * [[graft.operators.Sketches.quantileSampleMerge]] + percentile over
    * the accumulated k-row tables. Bottom-k of a union is computable from
    * the slices' bottom-k's, so the accumulated state is
    * batching-invariant and the gate shares
    * `x_sketch_quantile_sample`'s oracle VERBATIM.
    */
  private lazy val stSketchQuantile: Q = "st_sketch_quantile" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      scratchTree("stqnt") { tmp =>
        val li = s.read.parquet(s"$dir/lineitem.parquet")
          .select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        // Stage the 4 micro-batch files WITHOUT a full-table exchange
        // (round-14: the previous `repartition(4).write` shuffled all of
        // lineitem — 24MB of the gate's 26.4MB total was this fixture
        // staging, not the operator; the sketch itself is k·groups-bounded).
        // Four filtered scans + narrow coalesce = zero staging shuffle.
        (0 until 4).foreach { i =>
          li.where(pmod(col("l_orderkey"), lit(4)) === i).coalesce(1)
            .write.mode("append").parquet(s"$tmp/topic")
        }
        val stream = s.readStream.schema(li.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
        val merged = graft.operators.Sketches.quantileSampleMerge(
          Seq("l_returnflag"), 512,
          foldBatches(tmp, stream)(graft.operators.Sketches.quantileSampleRows(
            _, Seq("l_returnflag"),
            concat_ws("_", col("l_orderkey"), col("l_linenumber")),
            col("l_extendedprice"), k = 512)))
        val sq = merged.groupBy("l_returnflag")
          .agg(expr("percentile(v, 0.5)").as("_sp50"))
        val ex = exactPriceBand(li.select("l_returnflag", "l_extendedprice"))
        ex.join(sq, "l_returnflag")
          .select(col("l_returnflag"), round(col("_p50"), 6).as("exact_p50"),
            round(col("_sp50"), 6).as("sample_p50"),
            (col("_sp50") >= col("_lo") && col("_sp50") <= col("_hi")).as("in_band"))
      }
    },
    sketchQuantileSample._2._2))

  /** STREAMING HLL cardinality tracking: each micro-batch's register table
    * is written to a `batch_id`-partitioned state dir with per-batch
    * OVERWRITE (crash-replay REPLACES its own output — the
    * `lshIncrementStep` idempotence discipline; registers are maxes, so
    * even a duplicated batch could not corrupt the estimate, but the state
    * stays clean), and the estimate at any point is one merge over the
    * m-bounded appended tables. Register max is associative, commutative,
    * idempotent ⇒ the accumulated state is batching-invariant and the gate
    * shares `x_sketch_hll`'s oracle VERBATIM.
    */
  private lazy val stSketchHll: Q = "st_sketch_hll" -> ((
    (s: SparkSession, dir: String) => withStatePartitions(s, 8) {
      scratchTree("sthll") { tmp =>
        val li = s.read.parquet(s"$dir/lineitem.parquet")
          .select("l_returnflag", "l_orderkey")
        // Shuffle-free 4-file staging — same rationale as st_sketch_quantile.
        (0 until 4).foreach { i =>
          li.where(pmod(col("l_orderkey"), lit(4)) === i).coalesce(1)
            .write.mode("append").parquet(s"$tmp/topic")
        }
        val stream = s.readStream.schema(li.schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$tmp/topic")
        graft.operators.Sketches.hllEstimate(
          foldBatches(tmp, stream)(graft.operators.Sketches.hllRegisters(
              _, Seq("l_returnflag"), col("l_orderkey"), p = 8))
            .groupBy(col("l_returnflag"), col("reg")).agg(max("max_rho").as("max_rho")),
          Seq("l_returnflag"), p = 8)
      }
    },
    sketchHll._2._2))

  /** KMV set-overlap gate ([[graft.operators.Sketches.kmvOverlap]]):
    * audience overlap between the (user, active-day) sets of two event
    * types, estimated from two 128-row bottom-k sketches — never a join of
    * the sides. Fully deterministic (the hash order IS the sample), so the
    * oracle replays the sketches as `ORDER BY hash LIMIT k`, the merged
    * union bottom-k, the shared fraction, and the `(k-1)/U(k)` estimator
    * with its exact-below-k fallback, to identical 6-decimal values.
    */
  private lazy val sketchKmvOverlap: Q = "x_sketch_kmv_overlap" -> ((
    (s: SparkSession, dir: String) => {
      val ev = sources.EventsTable.load(s, dir)
        .select(col("user_id"), col("event_type"),
          graft.functions.Conversions.nanosToEpochMs(col("ts")).as("ms"))
      def setOf(t: String) = ev.where(col("event_type") === t)
        .select(concat_ws("_", col("user_id"), expr("ms div 86400000")).as("v"))
      graft.operators.Sketches.kmvOverlap(
        setOf("purchase"), col("v"), setOf("click"), col("v"), k = 128)
    },
    """WITH da AS (SELECT DISTINCT
      |    ('0x'||substr(md5(user_id::VARCHAR||'_'||(epoch_ms(ts)//86400000)::VARCHAR),1,8))::BIGINT AS hv
      |  FROM events WHERE event_type = 'purchase'),
      |sa AS (SELECT hv FROM da ORDER BY hv LIMIT 128),
      |db AS (SELECT DISTINCT
      |    ('0x'||substr(md5(user_id::VARCHAR||'_'||(epoch_ms(ts)//86400000)::VARCHAR),1,8))::BIGINT AS hv
      |  FROM events WHERE event_type = 'click'),
      |sb AS (SELECT hv FROM db ORDER BY hv LIMIT 128),
      |m AS (SELECT DISTINCT hv FROM (SELECT hv FROM sa UNION ALL SELECT hv FROM sb)
      |      ORDER BY hv LIMIT 128),
      |ea AS (SELECT CASE WHEN count(*) < 128 THEN count(*)::DOUBLE
      |         ELSE 127.0 / (max(hv) / 4294967296.0) END AS e FROM sa),
      |eb AS (SELECT CASE WHEN count(*) < 128 THEN count(*)::DOUBLE
      |         ELSE 127.0 / (max(hv) / 4294967296.0) END AS e FROM sb),
      |eu AS (SELECT CASE WHEN count(*) < 128 THEN count(*)::DOUBLE
      |         ELSE 127.0 / (max(hv) / 4294967296.0) END AS e FROM m),
      |jc AS (SELECT (SELECT count(*) FROM m
      |          WHERE hv IN (SELECT hv FROM sa) AND hv IN (SELECT hv FROM sb))::DOUBLE
      |        / (SELECT count(*) FROM m) AS j)
      |SELECT round(ea.e, 6) AS n_a_est, round(eb.e, 6) AS n_b_est,
      |  round(eu.e, 6) AS n_union_est, round(jc.j, 6) AS jaccard,
      |  round(jc.j * eu.e, 6) AS n_intersection_est
      |FROM ea, eb, eu, jc""".stripMargin))

  /** Shared oracle body for the NB classifier gates: fit multinomial NB
    * (add-one smoothing, 4096-token vocab cap — a declared no-op on the
    * 31-token gate corpus) on the `trainWhere` slice, score every doc with
    * the sorted-token ordered fold [[graft.operators.Classifier]] uses, so
    * the double reduction is bit-identical across engines.
    */
  private def nbOracleCtes(trainWhere: String): String =
    s"""WITH tr AS (SELECT doc_id,
       |    (('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 10000) AS bkt FROM documents),
       |d AS (SELECT doc_id, text, CASE WHEN lang='en' THEN 1 ELSE 0 END AS y FROM documents),
       |tok AS (SELECT doc_id, y, t FROM d,
       |        UNNEST(string_split(trim(text),' ')) u(t) WHERE t <> ''),
       |dt AS (SELECT doc_id, y, t, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2, 3),
       |tc AS (SELECT t, sum(CASE WHEN y=1 THEN tf ELSE 0 END)::BIGINT AS c1,
       |              sum(CASE WHEN y=0 THEN tf ELSE 0 END)::BIGINT AS c0
       |       FROM dt JOIN tr USING (doc_id) $trainWhere GROUP BY t),
       |v AS (SELECT t, c1, c0 FROM tc ORDER BY (c1+c0) DESC, t LIMIT 4096),
       |tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c0)::BIGINT AS n0,
       |               count(*)::BIGINT AS vv FROM v),
       |pri AS (SELECT ln(sum(y)::DOUBLE / sum(1-y)::DOUBLE) AS bias
       |        FROM d JOIN tr USING (doc_id) $trainWhere),
       |w AS (SELECT t, ln((c1+1)::DOUBLE/(n1+vv)::DOUBLE)
       |             - ln((c0+1)::DOUBLE/(n0+vv)::DOUBLE) AS w FROM v, tot),
       |l AS (SELECT doc_id, any_value(y) AS y,
       |        list(struct_pack(t := dt.t, tf := dt.tf, w := w.w) ORDER BY dt.t) AS lst
       |      FROM dt JOIN w USING (t) GROUP BY doc_id),
       |sc AS (SELECT doc_id, y, bias + list_reduce(list_prepend(0.0,
       |         list_transform(lst, x -> x.tf::DOUBLE * x.w)), (a, b) -> a + b) AS s
       |       FROM l, pri)""".stripMargin

  /** NB bootstrap classifier gate: seed = the corpus' own `lang='en'`
    * metadata, fit on everything, per-doc log-odds score + prediction.
    * The learned-classifier complement of the heuristic `x_text_langid`.
    */
  private lazy val qualityClassifier: Q = "x_quality_classifier" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Classifier.nbTrainScore(
        docs(s, dir), "doc_id", "text", col("lang") === "en"),
    nbOracleCtes("") +
      """
        |SELECT doc_id, y, round(s, 6) AS nb_score,
        |  CASE WHEN s > 0 THEN 1 ELSE 0 END AS pred FROM sc""".stripMargin))

  /** Held-out confusion contract for the NB classifier: fit on the 80%
    * content-hash bucket slice, reduce the unseen 20% to one exact-integer
    * confusion row — the accuracy gate that keeps the classifier honest the
    * way `x_dedup_lsh_recall` keeps the LSH band parameters honest.
    */
  private lazy val classifierEval: Q = "x_classifier_eval" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Classifier.nbHoldoutConfusion(
        docs(s, dir), "doc_id", "text", col("lang") === "en"),
    nbOracleCtes("WHERE bkt < 8000") +
      """
        |SELECT count(*)::BIGINT AS n_test,
        |  sum(CASE WHEN s > 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS tp,
        |  sum(CASE WHEN s <= 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS tn,
        |  sum(CASE WHEN s > 0 AND y = 0 THEN 1 ELSE 0 END)::BIGINT AS fp,
        |  sum(CASE WHEN s <= 0 AND y = 1 THEN 1 ELSE 0 END)::BIGINT AS fn
        |FROM sc JOIN tr USING (doc_id) WHERE bkt >= 8000""".stripMargin))

  /** DSIR importance-resampling gate: hashed-unigram importance weights
    * toward the `lang='en'` slice as the target domain, Gumbel-top-50
    * selection with the content-hash uniform — full fit, fold, noise, and
    * top-k replayed by the oracle.
    */
  private lazy val sampleDsir: Q = "x_sample_dsir" -> ((
    (s: SparkSession, dir: String) =>
      graft.operators.Dsir.gumbelTopK(
        graft.operators.Dsir.importanceWeights(
          docs(s, dir), "doc_id", "text", col("lang") === "en"),
        "doc_id", k = 50),
    """WITH tok AS (SELECT doc_id, t FROM documents,
      |        UNNEST(string_split(trim(text),' ')) u(t) WHERE t <> ''),
      |db AS (SELECT doc_id, ('0x'||substr(md5(t),1,8))::BIGINT % 4096 AS bk,
      |               count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
      |cr AS (SELECT bk, sum(tf)::BIGINT AS cr FROM db GROUP BY bk),
      |ct AS (SELECT bk, sum(tf)::BIGINT AS ct FROM db
      |       JOIN documents USING (doc_id) WHERE lang='en' GROUP BY bk),
      |tot AS (SELECT (SELECT sum(cr)::BIGINT FROM cr) AS nr,
      |               (SELECT sum(ct)::BIGINT FROM ct) AS nt),
      |w AS (SELECT cr.bk,
      |        ln((coalesce(ct.ct, 0)+1)::DOUBLE/(nt+4096)::DOUBLE)
      |      - ln((cr.cr+1)::DOUBLE/(nr+4096)::DOUBLE) AS w
      |      FROM cr LEFT JOIN ct USING (bk), tot),
      |l AS (SELECT doc_id,
      |        list(struct_pack(bk := db.bk, tf := db.tf, w := w.w) ORDER BY db.bk) AS lst
      |      FROM db JOIN w USING (bk) GROUP BY doc_id),
      |sc AS (SELECT doc_id, list_reduce(list_prepend(0.0,
      |         list_transform(lst, x -> x.tf::DOUBLE * x.w)), (a, b) -> a + b) AS logw
      |       FROM l),
      |g AS (SELECT doc_id, logw, logw + (-ln(-ln(
      |        (('0x'||substr(md5(doc_id::VARCHAR||'|dsir'),1,8))::BIGINT + 0.5)
      |        / 4294967296.0))) AS gk FROM sc)
      |SELECT doc_id, round(logw, 6) AS logw FROM (
      |  SELECT doc_id, logw, row_number() OVER (ORDER BY gk DESC, doc_id) AS rk FROM g)
      |WHERE rk <= 50""".stripMargin))

  /** Asymmetric containment pairs: |A∩B|/|A| over the jaccard gate's
    * df-capped shingle space — the quote-inclusion/doc-inside-doc detector
    * symmetric Jaccard structurally misses. Both directions emitted.
    */
  private lazy val dedupContainment: Q = "x_dedup_containment" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.containmentPairs(docs(s, dir), "doc_id", "text", n = 3, threshold = 0.5),
    """WITH toks AS (SELECT doc_id, string_split(trim(text), ' ') ws FROM documents),
      |sh0 AS (SELECT DISTINCT doc_id, ws[i]||' '||ws[i+1]||' '||ws[i+2] AS s
      |       FROM toks, UNNEST(range(1, len(ws)-1)) AS t(i)),
      |keep AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 1000),
      |sh AS (SELECT sh0.doc_id, sh0.s FROM sh0 JOIN keep USING (s)),
      |cnt AS (SELECT doc_id, count(*) n FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id id_a, b.doc_id id_b, count(*) n_inter
      |          FROM sh a JOIN sh b ON a.s=b.s AND a.doc_id < b.doc_id GROUP BY 1,2)
      |SELECT id_a, id_b, n_inter::DOUBLE/ca.n AS c_ab, n_inter::DOUBLE/cb.n AS c_ba
      |FROM inter JOIN cnt ca ON ca.doc_id = id_a JOIN cnt cb ON cb.doc_id = id_b
      |WHERE greatest(n_inter::DOUBLE/ca.n, n_inter::DOUBLE/cb.n) >= 0.5""".stripMargin))

  /** Split-leakage audit gate: MinHash-LSH near-dup pairs whose members
    * fall in different 80/10/10 content-hash splits — train/test
    * contamination the corpus inherits when the near-dup tail survives the
    * split. Oracle = the minhash pair replay joined against the split
    * bucket replay.
    */
  private lazy val splitLeakage: Q = "x_split_leakage" -> ((
    (s: SparkSession, dir: String) =>
      Dedup.splitLeakage(docs(s, dir), "doc_id", "text",
        Seq("train" -> 80.0, "val" -> 10.0, "test" -> 10.0)),
    s"""WITH pr AS ($minhashOracle),
       |spl AS (SELECT doc_id,
       |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
       |  FROM (SELECT doc_id,
       |    ('0x'||substr(md5(doc_id::VARCHAR),1,8))::BIGINT % 10000 AS b FROM documents))
       |SELECT pr.id_a, pr.id_b, sa.split AS split_a, sb.split AS split_b
       |FROM pr JOIN spl sa ON sa.doc_id = pr.id_a JOIN spl sb ON sb.doc_id = pr.id_b
       |WHERE sa.split <> sb.split""".stripMargin))

  /** LEAKAGE-SAFE split gate ([[graft.operators.Dedup.splitAssignByComponent]]):
    * the constructive companion of the audit above — near-dup components
    * (3-gram Jaccard pairs at 0.3, the same generator as
    * `x_dedup_clusters`) collapse to their min-id representative before the
    * 80/10/10 contiguous-bucket assignment, so no candidate pair can
    * straddle a split boundary. The oracle replays the recursive
    * reachability CTE, representative fallback, and the md5 bucket
    * arithmetic; the no-straddle invariant itself is spec-asserted on the
    * same corpus (non-vacuously: plain [[graft.operators.Dedup.splitAssign]]
    * DOES straddle at least one of these pairs).
    */
  private lazy val splitSafe: Q = "x_split_leakage_safe" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      graft.operators.Dedup.splitAssignByComponent(
        d, "doc_id",
        graft.operators.Dedup.jaccardPairs(d, "doc_id", "text", n = 3, threshold = 0.3),
        Seq("train" -> 80.0, "val" -> 10.0, "test" -> 10.0))
        .select("doc_id", "split")
    },
    s"""WITH RECURSIVE $jaccardCcCtes,
       |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
       |rep AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
       |        FROM documents d LEFT JOIN comp c ON c.id = d.doc_id)
       |SELECT doc_id,
       |  CASE WHEN b < 8000 THEN 'train' WHEN b < 9000 THEN 'val' ELSE 'test' END AS split
       |FROM (SELECT doc_id,
       |  ('0x'||substr(md5(rep::VARCHAR),1,8))::BIGINT % 10000 AS b FROM rep)""".stripMargin))

  /** STREAMING frozen-model scoring gate: fit NB offline ([[Classifier
    * .nbWeights]], vocab-bounded driver transfer), freeze the weights into
    * the streaming plan as a map literal, and score micro-batches with a
    * shuffle-free per-row fold — the production "classifier in the ingest
    * path" shape (stateless projection: no watermark, no state store; a
    * batch and a stream produce identical rows by construction, which is
    * exactly what the oracle checks). The fold runs in token-stream order,
    * so the oracle replays it BY POSITION, not by sorted token.
    */
  private lazy val stClassifierScore: Q = "st_classifier_score" -> ((
    (s: SparkSession, dir: String) => {
      val d = docs(s, dir)
      val (w, b) = graft.operators.Classifier.nbWeights(
        d, "doc_id", "text", col("lang") === "en")
      streamedGate(s, "stcls", d.select("doc_id", "text"))(
        plan = mk => mk().select(col("doc_id"),
          round(graft.operators.Classifier.nbScoreRow(col("text"), w, b), 6)
            .as("nb_score")))
    },
    nbOracleCtes("") +
      """,
        |pos AS (SELECT doc_id, i, ws[i] AS t
        |        FROM (SELECT doc_id, string_split(trim(text),' ') AS ws FROM documents),
        |             UNNEST(range(1, len(ws)+1)) r(i) WHERE ws[i] <> ''),
        |l2 AS (SELECT doc_id, list(coalesce(w.w, 0.0) ORDER BY pos.i) AS lst
        |       FROM pos LEFT JOIN w ON pos.t = w.t GROUP BY doc_id)
        |SELECT d2.doc_id, round(pri.bias + coalesce(
        |    list_reduce(list_prepend(0.0, l2.lst), (a, b) -> a + b), 0.0), 6) AS nb_score
        |FROM documents d2 LEFT JOIN l2 ON l2.doc_id = d2.doc_id, pri""".stripMargin))

  /** Ratio-margin cross-domain pair mining gate (Artetxe & Schwenk / the
    * CCMatrix criterion): even labels are the source side, odd the target;
    * per source vector the best margin-scored partner above 1.0 — cosine
    * relative to both sides' k-NN neighborhood density, the hubness-immune
    * mining score. Oracle replays shortlists, rank-ordered neighborhood
    * folds, and the argmax.
    */
  private lazy val mineBitext: Q = "x_mine_bitext" -> ((
    (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      Similarity.marginMine(
        e.where(col("label") % 2 === 0), e.where(col("label") % 2 === 1),
        "vec_id", "embedding", k = 4, threshold = 1.0)
    },
    """WITH n AS (SELECT vec_id, label, embedding,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)),
      |       (a,b)->a+b)) nrm FROM embeddings),
      |cx AS (SELECT a.vec_id qa, b.vec_id qb,
      |  list_reduce(list_prepend(0.0, list_transform(list_zip(a.embedding,b.embedding),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,v)->acc+v)/(a.nrm*b.nrm) AS cos
      |  FROM n a JOIN n b ON a.label % 2 = 0 AND b.label % 2 = 1),
      |fk AS (SELECT * FROM (SELECT qa, qb, cos,
      |         row_number() OVER (PARTITION BY qa ORDER BY cos DESC, qb) rk FROM cx)
      |       WHERE rk <= 4),
      |bk AS (SELECT * FROM (SELECT qa, qb, cos,
      |         row_number() OVER (PARTITION BY qb ORDER BY cos DESC, qa) rk FROM cx)
      |       WHERE rk <= 4),
      |af AS (SELECT qa, list_reduce(list_prepend(0.0, list(cos ORDER BY rk)),
      |         (x,y)->x+y) / count(*) AS avg_l FROM fk GROUP BY qa),
      |ab AS (SELECT qb, list_reduce(list_prepend(0.0, list(cos ORDER BY rk)),
      |         (x,y)->x+y) / count(*) AS avg_r FROM bk GROUP BY qb),
      |m AS (SELECT fk.qa, fk.qb, fk.cos / ((af.avg_l + ab.avg_r) / 2) AS margin
      |      FROM fk JOIN af USING (qa) JOIN ab USING (qb))
      |SELECT qa AS src_id, qb AS tgt_id, round(margin, 6) AS margin FROM (
      |  SELECT qa, qb, margin,
      |    row_number() OVER (PARTITION BY qa ORDER BY margin DESC, qb) AS rk FROM m)
      |WHERE rk = 1 AND margin >= 1.0""".stripMargin))

  /** Two-stage int8 retrieval gate: shortlist on the quantized corpus
    * (×4 shortlist), exact fp32 rescore to top-10 — the memory-bounded
    * retrieval shape. Oracle replays quantization, asymmetric coarse
    * scoring, shortlist cut, and exact re-rank.
    */
  private lazy val annInt8Rescore: Q = "x_ann_int8_rescore" -> ((
    (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      Similarity.topKInt8Rescore(e.where(col("vec_id") < 20), e,
        "vec_id", "embedding", k = 10, shortlistFactor = 4)
    },
    """WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) vd FROM embeddings),
      |n AS (SELECT vec_id, vd,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(vd, x -> x*x)), (a,b)->a+b)) nrm
      |  FROM v),
      |p AS (SELECT vec_id, vd, list_min(vd) mn,
      |        (list_max(vd) - list_min(vd)) / 255.0 AS scale FROM v),
      |dq AS (SELECT vec_id, list_transform(
      |         list_transform(vd, x -> (CASE WHEN scale = 0 THEN 0
      |           ELSE floor((x - mn) / scale + 0.5) END)::INT),
      |         c -> mn + c::DOUBLE * scale) AS v8 FROM p),
      |n8 AS (SELECT vec_id, v8,
      |  sqrt(list_reduce(list_prepend(0.0, list_transform(v8, x -> x*x)), (a,b)->a+b)) nrm8
      |  FROM dq),
      |coarse AS (SELECT q.vec_id query_id, c.vec_id neighbor_id,
      |  list_reduce(list_prepend(0.0, list_transform(list_zip(q.vd, c.v8),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,w)->acc+w)/(q.nrm*c.nrm8) AS cos8
      |  FROM n q JOIN n8 c ON q.vec_id <> c.vec_id WHERE q.vec_id < 20),
      |short AS (SELECT query_id, neighbor_id FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos8 DESC, neighbor_id) rk
      |  FROM coarse) WHERE rk <= 40),
      |exact AS (SELECT s.query_id, s.neighbor_id,
      |  list_reduce(list_prepend(0.0, list_transform(list_zip(q.vd, c.vd),
      |    x -> x[1]::DOUBLE * x[2]::DOUBLE)), (acc,w)->acc+w)/(q.nrm*c.nrm) AS cosine
      |  FROM short s JOIN n q ON q.vec_id = s.query_id JOIN n c ON c.vec_id = s.neighbor_id)
      |SELECT query_id, neighbor_id, rank, cosine FROM (
      |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      |  FROM exact) WHERE rank <= 10""".stripMargin))

  /** Incremental-IVF gate: the index is built from the first 400 vectors,
    * the last 100 arrive as a batch through [[Similarity.ivfAppend]] (batch
    * assignment only — no corpus rescan), and the probe runs over the
    * appended index. Assignment is a pure per-row argmax against fixed
    * centroids, so append-then-search ≡ rebuild-then-search — the gate
    * shares the full-rebuild oracle VERBATIM, which is the strongest
    * equivalence statement available.
    */
  private lazy val annIvfIncr: Q = "x_ann_ivf_incr" -> ((
    (s: SparkSession, dir: String) => {
      val e = emb(s, dir)
      val cents = e.where(col("vec_id") < 16)
      val index = Similarity.assignCells(
        e.where(col("vec_id") < 400), cents, "vec_id", "embedding")
      Similarity.topKIvfPrebuilt(
        queries = e.where(col("vec_id") >= 100 && col("vec_id") < 120),
        assigned = Similarity.ivfAppend(index, e.where(col("vec_id") >= 400),
          cents, "vec_id", "embedding"),
        centroids = cents, "vec_id", "embedding", k = 5, nProbe = 2)
    },
    annIvfOracle))

  /** Perceptual image-hash gate: REAL pixel decode of the PNG fixtures →
    * all-integer aHash/dHash bit assembly, every-11th corrupt channel. The
    * oracle knows only the fixture's pixel FORMULA — every one of the 128
    * bits is replayed through integer math, so a single mis-sampled pixel
    * or bit-order slip hash-mismatches.
    */
  private lazy val mmPhash: Q = "x_multimodal_phash" -> ((
    (s: SparkSession, dir: String) =>
      Multimodal.perceptualHashes(
        Multimodal.syntheticPngs(docs(s, dir), "doc_id")
          .withColumn("blob",
            when(col("doc_id") % 11 === 0, lit("not an image").cast("binary"))
              .otherwise(col("blob"))),
        "doc_id", "blob"),
    """WITH d AS (SELECT doc_id, 1 + doc_id % 37 AS w, 1 + doc_id % 23 AS h FROM documents),
      |a AS (SELECT doc_id, (j*8+i)::INT AS k,
      |        ((doc_id + 31*(((2*i+1)*w)//16) + 17*(((2*j+1)*h)//16)) % 256) AS g
      |      FROM d, UNNEST(range(0,8)) t1(i), UNNEST(range(0,8)) t2(j)),
      |s AS (SELECT doc_id, sum(g) AS s64 FROM a GROUP BY doc_id),
      |ah AS (SELECT a.doc_id,
      |        sum(CASE WHEN g*64 > s64 AND k < 32 THEN (1::BIGINT << k) ELSE 0 END)::BIGINT AS ahash_lo,
      |        sum(CASE WHEN g*64 > s64 AND k >= 32 THEN (1::BIGINT << (k-32)) ELSE 0 END)::BIGINT AS ahash_hi
      |      FROM a JOIN s USING (doc_id) GROUP BY a.doc_id),
      |d0 AS (SELECT doc_id, (j*8+i)::INT AS k,
      |        ((doc_id + 31*(((2*(i+1)+1)*w)//18) + 17*(((2*j+1)*h)//16)) % 256) AS ga,
      |        ((doc_id + 31*(((2*i+1)*w)//18) + 17*(((2*j+1)*h)//16)) % 256) AS gb
      |      FROM d, UNNEST(range(0,8)) t1(i), UNNEST(range(0,8)) t2(j)),
      |dh AS (SELECT doc_id,
      |        sum(CASE WHEN ga > gb AND k < 32 THEN (1::BIGINT << k) ELSE 0 END)::BIGINT AS dhash_lo,
      |        sum(CASE WHEN ga > gb AND k >= 32 THEN (1::BIGINT << (k-32)) ELSE 0 END)::BIGINT AS dhash_hi
      |      FROM d0 GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CASE WHEN d.doc_id % 11 = 0 THEN NULL ELSE ah.ahash_lo END AS ahash_lo,
      |  CASE WHEN d.doc_id % 11 = 0 THEN NULL ELSE ah.ahash_hi END AS ahash_hi,
      |  CASE WHEN d.doc_id % 11 = 0 THEN NULL ELSE dh.dhash_lo END AS dhash_lo,
      |  CASE WHEN d.doc_id % 11 = 0 THEN NULL ELSE dh.dhash_hi END AS dhash_hi,
      |  d.doc_id % 11 <> 0 AS decoded
      |FROM d JOIN ah USING (doc_id) JOIN dh USING (doc_id)""".stripMargin))
}
