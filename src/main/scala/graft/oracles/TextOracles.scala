package graft.oracles

/** DuckDB oracle SQL for the LLM-pipeline set over documents/embeddings:
  * dedup (exact/MinHash/SimHash/Jaccard/CC), similarity, text analysis,
  * curation, multimodal. Extracted from SparkEntry; key set and strings
  * unchanged. Fragments: [[OracleFrags]].
  */
private[graft] object TextOracles {
  import OracleFrags._
  import graft.ops.{Curation, Similarity, TextStats}

  /** [[graft.ops.PqModel]]'s published integer codebooks as a DuckDB VALUES
    * list — both engines divide the same integer micros by 1000000.0, so the
    * codewords are bit-identical without any float crossing engines.
    */
  private lazy val pqCbValues: String = {
    import graft.ops.PqModel
    (for { mi <- 0 until PqModel.M; cid <- 0 until PqModel.Ksub }
      yield s"($mi, $cid, " +
        PqModel.Micros(mi)(cid).map(v => s"$v / 1000000.0")
          .mkString("list_value(", ", ", "))")).mkString(", ")
  }

  /** [[graft.ops.IvfModel]]'s published integer coarse centroids as a
    * DuckDB VALUES list — same discipline as [[pqCbValues]].
    */
  private lazy val ivfCbValues: String = {
    import graft.ops.IvfModel
    (0 until IvfModel.Nlist).map(cid =>
      s"($cid, " + IvfModel.Micros(cid).map(v => s"$v / 1000000.0")
        .mkString("list_value(", ", ", "))")).mkString(", ")
  }

  /** [[graft.ops.PqResModel]]'s published RESIDUAL codebooks as a DuckDB
    * VALUES list — same discipline as [[pqCbValues]].
    */
  private lazy val pqResCbValues: String = {
    import graft.ops.PqResModel
    (for { mi <- 0 until PqResModel.M; cid <- 0 until PqResModel.Ksub }
      yield s"($mi, $cid, " +
        PqResModel.Micros(mi)(cid).map(v => s"$v / 1000000.0")
          .mkString("list_value(", ", ", "))")).mkString(", ")
  }

  /** [[graft.ops.OpqModel]]'s published dimension permutation as a
    * 1-indexed DuckDB list literal: permuted position j reads original
    * dimension Perm(j) — `list_transform($opqPermList, d -> vn[d])` is the
    * oracle's copy of the Spark side's `element_at` reorder.
    */
  private lazy val opqPermList: String =
    graft.ops.OpqModel.Perm.map(_ + 1).mkString("[", ", ", "]")

  /** [[graft.ops.OpqModel]]'s published codebooks (trained on PERMUTED
    * vectors) as a DuckDB VALUES list — same discipline as [[pqCbValues]].
    */
  private lazy val opqCbValues: String = {
    import graft.ops.OpqModel
    (for { mi <- 0 until OpqModel.M; cid <- 0 until OpqModel.Ksub }
      yield s"($mi, $cid, " +
        OpqModel.Micros(mi)(cid).map(v => s"$v / 1000000.0")
          .mkString("list_value(", ", ", "))")).mkString(", ")
  }

  /** The distilled quality-score CTE chain plus the threshold-grid yield
    * curve, shared VERBATIM by `ops_quality_curve` and
    * `ops_quality_choose` — decision and measurement share one SQL body
    * (the `ivfCalibCtes` discipline): a drifted copy could silently
    * choose off a different curve.
    */
  /** The distilled model's feature CTEs (toks/agg/f) and its integer
    * z-score expression — ONE body shared by `ops_quality_distilled`,
    * `ops_quality_curve`, and `ops_quality_choose`: a featurizer or
    * weight tweak applied to a forked copy would let the scorer and the
    * curve it feeds pass their hash gates while silently diverging.
    */
  private lazy val distilledFeatureCtes: String = {
    val en = TextStats.markers.filter(_._1 == "en").map(m => s"'${m._2}'").mkString(", ")
    s"""toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
       |agg AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types,
       |    SUM(CASE WHEN tok IN ($en) THEN 1 ELSE 0 END) AS n_stop,
       |    SUM(length(tok)) AS tok_chars
       |  FROM toks GROUP BY doc_id),
       |f AS (
       |  SELECT doc_id, n_types * 1000 // n_tokens AS ttr,
       |    n_stop * 1000 // n_tokens AS stp,
       |    LEAST(n_tokens, 500) AS len_cap,
       |    ABS(tok_chars * 1000 // n_tokens - 4500) AS mlen_dev
       |  FROM agg)""".stripMargin
  }

  private lazy val distilledZExpr: String = {
    val w = graft.ops.QualityModel.Published
    s"ttr * ${w.weights(0)} + stp * ${w.weights(1)} + " +
      s"len_cap * ${w.weights(2)} + mlen_dev * ${w.weights(3)} + ${w.bias}"
  }

  private lazy val qualityCurveCtes: String = {
    val gridVals = Curation.QualityGrid.map(t => s"($t)").mkString(", ")
    s"""$distilledFeatureCtes,
       |z AS (SELECT $distilledZExpr AS z FROM f),
       |g(threshold) AS (VALUES $gridVals),
       |c AS (SELECT threshold,
       |  SUM(CASE WHEN z > threshold THEN 1 ELSE 0 END) AS k,
       |  COUNT(*) AS n FROM z, g GROUP BY threshold)""".stripMargin
  }

  /** The ops_ivf_calib CTE chain, extracted so `ops_ivf_choose` can wrap
    * the SAME curve (decision and measurement share one SQL body — a
    * drifted copy could silently choose off a different curve).
    */
  private lazy val ivfCalibCtes: String = {
    import graft.ops.PqModel
    val sub = PqModel.Sub; val rerank = 100; val qids = "0, 1, 2, 3"
    val nlist = 16; val k = 10
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($qids)),
       |ex AS (SELECT query_id, vec_id FROM (
       |  SELECT q.query_id, e.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY q.query_id
       |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
       |  FROM e, q WHERE e.vec_id <> q.query_id) WHERE rk <= $k),
       |cbv(m, cid, cw) AS (VALUES $pqCbValues),
       |sm AS (
       |  SELECT vec_id, cb.m, cb.cid,
       |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
       |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
       |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
       |  FROM nz, cbv cb),
       |asg AS (SELECT vec_id, m, cid FROM (
       |  SELECT vec_id, m, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
       |  FROM sm) WHERE rk = 1),
       |qd AS (SELECT vec_id AS query_id, m, cid, dmicro FROM sm WHERE vec_id IN ($qids)),
       |c AS (SELECT vec_id AS ccid, v AS cv FROM e WHERE vec_id < $nlist),
       |ca AS (SELECT e.vec_id, ccid, ${cosineSql("e.v", "c.cv")} AS csim FROM e, c),
       |assign AS (
       |  SELECT vec_id, ccid AS list FROM (
       |    SELECT vec_id, ccid,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid) AS rk
       |    FROM ca) WHERE rk = 1),
       |gridnp(np) AS (VALUES (1), (2), (4), (16)),
       |probes AS (SELECT np, query_id, ccid FROM (
       |  SELECT vec_id AS query_id, ccid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid) AS rk
       |  FROM ca WHERE vec_id IN ($qids)) r, gridnp WHERE r.rk <= gridnp.np),
       |adci AS (SELECT p.np, t.query_id, a.vec_id, SUM(t.dmicro) AS adc
       |         FROM asg a JOIN qd t USING (m, cid)
       |         JOIN assign s ON s.vec_id = a.vec_id
       |         JOIN probes p ON p.query_id = t.query_id AND p.ccid = s.list
       |         WHERE a.vec_id <> t.query_id GROUP BY 1, 2, 3),
       |candi AS (SELECT np, query_id, vec_id FROM (
       |  SELECT np, query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY np, query_id ORDER BY adc, vec_id) AS rk
       |  FROM adci) WHERE rk <= $rerank),
       |ivfk AS (SELECT np, query_id, vec_id FROM (
       |  SELECT c2.np, c2.query_id, e.vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY c2.np, c2.query_id
       |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
       |  FROM candi c2 JOIN e ON e.vec_id = c2.vec_id
       |  JOIN q ON q.query_id = c2.query_id) WHERE rk <= $k),
       |hits AS (SELECT np, query_id, COUNT(*) AS n_hits
       |         FROM ivfk JOIN ex USING (query_id, vec_id) GROUP BY 1, 2),
       |sizes AS (SELECT list, COUNT(*) AS n FROM assign GROUP BY 1),
       |sc AS (SELECT np, query_id, SUM(n) AS scanned
       |       FROM probes JOIN sizes ON sizes.list = probes.ccid GROUP BY 1, 2)""".stripMargin
  }

  private lazy val ivfCalibSelect: String =
    s"""SELECT s.np AS nprobe, s.query_id,
       |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS hits,
       |  round(COALESCE(h.n_hits, 0) / 10.0, 2) AS recall,
       |  CAST(s.scanned AS BIGINT) AS scanned
       |FROM sc s LEFT JOIN hits h ON h.np = s.np AND h.query_id = s.query_id""".stripMargin

  /** Twin of [[graft.ops.Similarity.pqTopKTrained]] — shared verbatim by
    * `ops_sim_pq_trained` and the persisted-codes `ops_sim_pq_served`.
    */
  private lazy val pqTrainedSql: String = {
    import graft.ops.PqModel
    val sub = PqModel.Sub; val rerank = 100
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
       |cbv(m, cid, cw) AS (VALUES $pqCbValues),
       |sm AS (
       |  SELECT vec_id, cb.m, cb.cid,
       |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
       |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
       |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
       |  FROM nz, cbv cb),
       |asg AS (SELECT vec_id, m, cid FROM (
       |  SELECT vec_id, m, cid,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
       |  FROM sm) WHERE rk = 1),
       |qd AS (SELECT m, cid, dmicro FROM sm WHERE vec_id = 0),
       |adc AS (SELECT a.vec_id, SUM(t.dmicro) AS adc
       |        FROM asg a JOIN qd t USING (m, cid) GROUP BY 1),
       |cand AS (SELECT vec_id FROM adc WHERE vec_id <> 0
       |         ORDER BY adc, vec_id LIMIT $rerank),
       |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
       |SELECT e.vec_id, round(${cosineSql("e.v", "qv")}, 6) AS cos_sim
       |FROM cand c JOIN e ON e.vec_id = c.vec_id, q
       |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin
  }

  val sql: Map[String, String] = Map(
    "ops_histogram" ->
      """SELECT CAST(floor(length(text) / 50) AS BIGINT) AS bucket, COUNT(*) AS n,
        |  CAST(MIN(length(text)) AS BIGINT) AS min_len,
        |  CAST(MAX(length(text)) AS BIGINT) AS max_len
        |FROM documents GROUP BY 1""".stripMargin,
    "ops_dedup_content" ->
      "SELECT md5(text) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups FROM documents GROUP BY md5(text)",
    "ops_dedup_minhash" ->
      s"""WITH $shinglesCte,
         |$minhashCandsCte
         |SELECT doc_a, doc_b FROM cands""".stripMargin,
    "ops_dedup_cc" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$minhashCandsCte,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cands
         |          UNION SELECT doc_b, doc_a FROM cands),
         |-- transitive closure to min reachable id = the component canonical
         |walk(doc_id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src)
         |SELECT doc_id, MIN(reach) AS comp FROM walk GROUP BY doc_id""".stripMargin,
    // twin of [[graft.ops.Dedup.dedupKeepBest]]: CC closure + bigram-LM
    // quality + per-component argmax, assembled from the same shared CTEs
    "ops_dedup_keep_best" ->
      s"""WITH RECURSIVE $shinglesCte,
         |$minhashCandsCte,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM cands
         |          UNION SELECT doc_b, doc_a FROM cands),
         |walk(doc_id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
         |comp AS (SELECT doc_id, MIN(reach) AS comp FROM walk GROUP BY doc_id),
         |$bigramScoreCte,
         |j AS (SELECT comp.comp, comp.doc_id, score.avg_freq
         |      FROM comp JOIN score USING (doc_id)),
         |r AS (SELECT *, row_number() OVER (PARTITION BY comp ORDER BY avg_freq DESC, doc_id ASC) AS rk
         |      FROM j)
         |SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_members,
         |  MAX(CASE WHEN rk = 1 THEN doc_id END) AS keep_doc,
         |  MAX(CASE WHEN rk = 1 THEN avg_freq END) AS keep_score
         |FROM r GROUP BY comp""".stripMargin,
    "ops_dedup_verify" ->
      s"""WITH $shinglesCte,
         |$minhashCandsCte,
         |hv AS (SELECT doc_id, ${h60sql("shingle")} AS h FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hv GROUP BY doc_id),
         |shared AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
         |  FROM cands c
         |  JOIN hv a ON a.doc_id = c.doc_a
         |  JOIN hv b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY c.doc_a, c.doc_b)
         |SELECT s.doc_a, s.doc_b,
         |  round(CAST(n_shared AS DOUBLE) / CAST(na.n + nb.n - n_shared AS DOUBLE), 6) AS jaccard
         |FROM shared s
         |JOIN sizes na ON na.doc_id = s.doc_a
         |JOIN sizes nb ON nb.doc_id = s.doc_b
         |WHERE CAST(n_shared AS DOUBLE) / CAST(na.n + nb.n - n_shared AS DOUBLE) >= 0.2""".stripMargin,
    // twin of [[graft.ops.Dedup.editVerifyDf]]: same LSH candidate pairs,
    // banded-threshold Levenshtein (DuckDB computes the full distance, the
    // CASE reproduces Spark's -1-above-threshold contract bit for bit)
    "ops_edit_verify" ->
      s"""WITH $shinglesCte,
         |$minhashCandsCte,
         |t AS (SELECT doc_id, text FROM documents),
         |d AS (
         |  SELECT c.doc_a, c.doc_b,
         |    levenshtein(a.text, b.text) AS lev,
         |    CAST(greatest(length(a.text), length(b.text)) AS BIGINT) AS max_len
         |  FROM cands c
         |  JOIN t a ON a.doc_id = c.doc_a
         |  JOIN t b ON b.doc_id = c.doc_b)
         |SELECT doc_a, doc_b,
         |  CAST(CASE WHEN lev <= 200 THEN lev ELSE -1 END AS BIGINT) AS edit_dist,
         |  max_len,
         |  CAST(CASE WHEN lev <= 200 THEN lev * 1000 // max_len ELSE -1 END AS BIGINT) AS dist_permille
         |FROM d""".stripMargin,
    // twin of [[graft.ops.TextStats.cmsFrequency]]: the same d=4 w=1024
    // Count-Min matrix (counter sums are order-independent, so the sketch is
    // bit-exact cross-engine), probed against exact counts
    "ops_cms_freq" -> {
      val probeList = TextStats.cmsProbeTerms.map(t => s"'$t'").mkString(", ")
      val d = TextStats.CmsDepth
      val w = TextStats.CmsWidth
      s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
         |cells AS (
         |  SELECT j, b, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT r.j, ${h60sql("CAST(r.j AS VARCHAR) || ':' || term")} % $w AS b
         |        FROM tok CROSS JOIN range($d) AS r(j))
         |  GROUP BY j, b),
         |probe AS (SELECT unnest([$probeList]) AS term),
         |pj AS (SELECT term, r.j, ${h60sql("CAST(r.j AS VARCHAR) || ':' || term")} % $w AS b
         |       FROM probe CROSS JOIN range($d) AS r(j)),
         |est AS (
         |  SELECT term, CAST(MIN(COALESCE(cnt, 0)) AS BIGINT) AS cms_est
         |  FROM pj LEFT JOIN cells ON pj.j = cells.j AND pj.b = cells.b
         |  GROUP BY term),
         |exact AS (
         |  SELECT term, CAST(COUNT(*) AS BIGINT) AS exact_cnt FROM tok
         |  WHERE term IN ($probeList) GROUP BY term)
         |SELECT e.term, COALESCE(exact_cnt, CAST(0 AS BIGINT)) AS exact_cnt, cms_est
         |FROM est e LEFT JOIN exact x ON e.term = x.term""".stripMargin
    },
    // twin of [[graft.ops.TextStats.kmvDumpOverlap]]: exact dump
    // cardinalities/intersection at distinct-text grain; the KMV bound
    // verdict is literal TRUE (HLL/GK gate discipline — the sketch can't
    // cross engines, its CONTRACT can)
    "ops_kmv_overlap" ->
      """WITH m AS (SELECT text,
        |    MAX(CASE WHEN doc_id % 3 <= 1 THEN 1 ELSE 0 END) AS in_a,
        |    MAX(CASE WHEN doc_id % 3 >= 1 THEN 1 ELSE 0 END) AS in_b
        |  FROM documents GROUP BY text)
        |SELECT CAST(SUM(in_a) AS BIGINT) AS exact_a,
        |  CAST(SUM(in_b) AS BIGINT) AS exact_b,
        |  CAST(SUM(in_a * in_b) AS BIGINT) AS exact_inter,
        |  TRUE AS within_bounds
        |FROM m""".stripMargin,
    // twin of [[graft.ops.Dedup.pagerank]] (5 rounds): the same integer-math
    // power iteration, one CTE per round; SUM runs in HUGEINT, the 17*(s//20)
    // damping and final CAST land back in BIGINT exactly as Spark's long math
    "ops_incr_dedup" ->
      s"""WITH $shinglesCte,
         |$minhashCandsCte,
         |bb AS (SELECT doc_id AS batch_id, band_id, sig FROM bands WHERE doc_id % 10 = 0),
         |csz AS (SELECT band_id, sig, COUNT(*) AS bsize
         |        FROM bands WHERE doc_id % 10 <> 0 GROUP BY 1, 2),
         |ci AS (SELECT b.doc_id AS corpus_id, b.band_id, b.sig
         |       FROM bands b JOIN csz USING (band_id, sig)
         |       WHERE b.doc_id % 10 <> 0 AND csz.bsize <= 10000),
         |pairs AS (SELECT DISTINCT batch_id, corpus_id FROM bb JOIN ci USING (band_id, sig)),
         |hv AS (SELECT DISTINCT doc_id, ${h60sql("shingle")} AS h FROM sh),
         |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM hv GROUP BY doc_id),
         |iv AS (SELECT p.batch_id, p.corpus_id, CAST(COUNT(*) AS BIGINT) AS ns
         |       FROM pairs p
         |       JOIN hv a ON a.doc_id = p.batch_id
         |       JOIN hv b ON b.doc_id = p.corpus_id AND b.h = a.h
         |       GROUP BY 1, 2)
         |SELECT iv.batch_id, iv.corpus_id,
         |  round(ns * 1.0 / (sa.n + sb.n - ns), 6) AS jaccard
         |FROM iv JOIN sz sa ON iv.batch_id = sa.doc_id
         |        JOIN sz sb ON iv.corpus_id = sb.doc_id
         |WHERE ns * 1.0 / (sa.n + sb.n - ns) >= 0.2""".stripMargin,
    "ops_bpe_pairs" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
        |vocab AS (SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok HAVING length(tok) >= 2),
        |pairs AS (
        |  SELECT unnest(list_transform(range(1, length(tok)),
        |    i -> substring(tok, CAST(i AS INTEGER), 2))) AS pair, n
        |  FROM vocab)
        |SELECT pair, COUNT(*) AS n_positions, CAST(SUM(n) AS BIGINT) AS pair_count
        |FROM pairs GROUP BY pair""".stripMargin,
    // Term drift: seeded hash split, per-term 2x2 chi-square vs half totals;
    // split key, min count, and double operand order pinned to
    // TextStats.termDrift.
    "ops_term_drift" ->
      s"""WITH tk AS (
         |  SELECT (${h60sql("'drift:' || CAST(doc_id AS VARCHAR)")} % 2 = 0) AS in_a,
         |    unnest(string_split(text, ' ')) AS term
         |  FROM documents),
         |per AS (
         |  SELECT term,
         |    CAST(SUM(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |    CAST(SUM(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
         |  FROM tk GROUP BY term),
         |tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS t_a,
         |               CAST(SUM(n_b) AS BIGINT) AS t_b FROM per),
         |j AS (
         |  SELECT term, n_a, n_b,
         |    (CAST(n_a + n_b AS DOUBLE) * t_a) / CAST(t_a + t_b AS DOUBLE) AS e_a,
         |    (CAST(n_a + n_b AS DOUBLE) * t_b) / CAST(t_a + t_b AS DOUBLE) AS e_b
         |  FROM per, tot WHERE n_a + n_b >= 20)
         |SELECT term, n_a, n_b,
         |  round(pow(CAST(n_a AS DOUBLE) - e_a, 2) / e_a
         |      + pow(CAST(n_b AS DOUBLE) - e_b, 2) / e_b, 6) AS chi2
         |FROM j""".stripMargin,
    // Interpolated Kneser-Ney bigram LM, D = 3/4 as the exact rational
    // numer/denom of TextStats.knBigramLm; HUGEINT carries the T*c12*1e6
    // product (the Spark side uses decimal(38,0)).
    "ops_kn_lm" ->
      """WITH t AS (SELECT string_split(text, ' ') AS tk FROM documents),
        |b AS (SELECT unnest(list_transform(range(1, len(tk)),
        |         i -> [tk[i], tk[i+1]])) AS p
        |      FROM t WHERE len(tk) >= 2),
        |c12 AS (SELECT p[1] AS w1, p[2] AS w2, COUNT(*) AS c12 FROM b GROUP BY 1, 2),
        |lft AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p_w1 FROM c12 GROUP BY w1),
        |rgt AS (SELECT w2, COUNT(*) AS n1p_w2 FROM c12 GROUP BY w2),
        |ty AS (SELECT COUNT(*) AS t_types FROM c12)
        |SELECT c12.w1, c12.w2, CAST(c12.c12 AS BIGINT) AS c12,
        |  CAST((c12.c12 * 1000000) // c1 AS BIGINT) AS p_mle_micro,
        |  CAST(((t_types * greatest(c12.c12 * 4 - 3, 0)
        |         + n1p_w1 * n1p_w2 * 3) * 1000000)
        |       // (4 * c1 * t_types) AS BIGINT) AS p_kn_micro
        |FROM c12 JOIN lft ON c12.w1 = lft.w1
        |JOIN rgt ON c12.w2 = rgt.w2, ty
        |WHERE c12.c12 >= 10""".stripMargin,
    // BPE merge loop, 3 unrolled rounds mirroring TextStats.bpeMerges:
    // per-round top pair (count desc, pair asc), chr(r) marker application,
    // corpus-occurrence accounting via length shrinkage.
    "ops_bpe_merge" -> {
      def round(r: Int, prev: String): String =
        s"""t$r AS (SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count FROM (
           |  SELECT n, unnest(list_transform(range(1, length(tok)),
           |    i -> substring(tok, CAST(i AS INTEGER), 2))) AS pair FROM $prev)
           |  GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 1),
           |v$r AS (SELECT replace(tok, (SELECT pair FROM t$r), chr($r)) AS tok, n FROM $prev),
           |a$r AS (SELECT CAST($r AS BIGINT) AS merge_rank,
           |  (SELECT pair FROM t$r) AS pair,
           |  (SELECT pair_count FROM t$r) AS pair_count,
           |  CAST(SUM(n * (length(tok) -
           |    length(replace(tok, (SELECT pair FROM t$r), chr($r))))) AS BIGINT)
           |    AS n_applications
           |  FROM $prev)""".stripMargin
      s"""WITH v0 AS (
         |  SELECT tok, COUNT(*) AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY tok HAVING length(tok) >= 2),
         |${round(1, "v0")},
         |${round(2, "v1")},
         |${round(3, "v2")}
         |SELECT * FROM a1 UNION ALL SELECT * FROM a2 UNION ALL SELECT * FROM a3""".stripMargin
    },
    // Per-doc perplexity under the trained KN LM (minCount=1 — every
    // training bigram hits the type table). nll = ln(denom) - ln(numer)
    // over the exact rational; per-doc sum is the sorted-list left fold
    // (tokenEntropy discipline), ppl = exp(mean) rounded to 6.
    "ops_kn_perplexity" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |b AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |         i -> [tk[i], tk[i+1]])) AS p
        |      FROM t WHERE len(tk) >= 2),
        |occ AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM b),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM occ GROUP BY 1, 2),
        |lft AS (SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p_w1 FROM c12 GROUP BY w1),
        |rgt AS (SELECT w2, COUNT(*) AS n1p_w2 FROM c12 GROUP BY w2),
        |ty AS (SELECT COUNT(*) AS t_types FROM c12),
        |lm AS (
        |  SELECT c12.w1, c12.w2,
        |    ln(CAST(4 * c1 * t_types AS DOUBLE)) -
        |    ln(CAST(t_types * greatest(c12.c12 * 4 - 3, 0)
        |            + n1p_w1 * n1p_w2 * 3 AS DOUBLE)) AS nll
        |  FROM c12 JOIN lft ON c12.w1 = lft.w1
        |  JOIN rgt ON c12.w2 = rgt.w2, ty),
        |sc AS (SELECT doc_id, nll FROM occ
        |       JOIN lm ON occ.w1 = lm.w1 AND occ.w2 = lm.w2),
        |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |         list_sort(list(nll)) AS ls
        |       FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_bigrams,
        |  round(exp(list_reduce(ls, (a, b) -> a + b) / CAST(n_bigrams AS DOUBLE)), 6)
        |    AS ppl
        |FROM ag""".stripMargin,
    // BPE encode: the 3 trained merges (same unrolled loop as ops_bpe_merge)
    // applied to every corpus token in merge order; per-doc symbol counts
    // before/after + compression ratio.
    "ops_bpe_encode" -> {
      def round(r: Int, prev: String): String =
        s"""t$r AS (SELECT pair FROM (
           |  SELECT pair, CAST(SUM(n) AS BIGINT) AS pair_count FROM (
           |    SELECT n, unnest(list_transform(range(1, length(tok)),
           |      i -> substring(tok, CAST(i AS INTEGER), 2))) AS pair FROM $prev)
           |  GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 1)),
           |v$r AS (SELECT replace(tok, (SELECT pair FROM t$r), chr($r)) AS tok, n FROM $prev)""".stripMargin
      s"""WITH v0 AS (
         |  SELECT tok, COUNT(*) AS n
         |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
         |  GROUP BY tok HAVING length(tok) >= 2),
         |${round(1, "v0")},
         |${round(2, "v1")},
         |${round(3, "v2")},
         |tk AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         |enc AS (SELECT doc_id, tok,
         |  replace(replace(replace(tok,
         |    (SELECT pair FROM t1), chr(1)),
         |    (SELECT pair FROM t2), chr(2)),
         |    (SELECT pair FROM t3), chr(3)) AS enc FROM tk)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |  CAST(SUM(length(tok)) AS BIGINT) AS n_symbols_raw,
         |  CAST(SUM(length(enc)) AS BIGINT) AS n_symbols_bpe,
         |  round(CAST(SUM(length(tok)) AS DOUBLE) / CAST(SUM(length(enc)) AS DOUBLE), 6)
         |    AS compression
         |FROM enc GROUP BY doc_id""".stripMargin
    },
    "ops_heavy_hitters" ->
      """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |SELECT tok, COUNT(*) AS n FROM toks GROUP BY tok
        |HAVING COUNT(*) * 64 > (SELECT COUNT(*) FROM toks)""".stripMargin,
    // twin of [[graft.ops.TextStats.groupHeavyHitters]] — the sketch is a
    // guaranteed candidate superset per group, the exact pass discards the
    // padding, so the plain per-group GROUP BY / HAVING is the oracle
    "ops_group_heavy_hitters" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tot AS (SELECT source, COUNT(*) AS n_total FROM toks GROUP BY 1)
        |SELECT t.source, t.tok, COUNT(*) AS n
        |FROM toks t JOIN tot USING (source)
        |GROUP BY t.source, t.tok, tot.n_total
        |HAVING COUNT(*) * 32 > tot.n_total""".stripMargin,
    "ops_lsh_calib" ->
      s"""WITH $shinglesCte,
         |$minhashCandsCte,
         |hv AS (SELECT DISTINCT doc_id, ${h60sql("shingle")} AS h FROM sh),
         |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh FROM hv GROUP BY doc_id),
         |pf AS (SELECT h FROM hv GROUP BY h HAVING COUNT(*) > 1 AND COUNT(*) <= 5000),
         |shp AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS ns
         |  FROM hv a JOIN hv b ON a.h = b.h AND a.doc_id < b.doc_id
         |  WHERE a.h IN (SELECT h FROM pf)
         |  GROUP BY 1, 2),
         |tr AS (
         |  SELECT doc_a, doc_b, (10 * ns) // (sa.n_sh + sb.n_sh - ns) AS bucket
         |  FROM shp JOIN sz sa ON shp.doc_a = sa.doc_id
         |           JOIN sz sb ON shp.doc_b = sb.doc_id),
         |tr1 AS (SELECT * FROM tr WHERE bucket >= 1)
         |SELECT CAST(COALESCE(t.bucket, -1) AS BIGINT) AS bucket,
         |  COUNT(*) AS n_pairs,
         |  CAST(SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
         |  CAST((1000 * SUM(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END)) // COUNT(*) AS BIGINT) AS recall_milli
         |FROM tr1 t FULL JOIN cands c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
         |GROUP BY 1""".stripMargin,
    "ops_triangles" ->
      s"""WITH $shinglesCte,
         |$minhashCandsCte,
         |e AS (SELECT doc_a AS a, doc_b AS b FROM cands),
         |tri AS (
         |  SELECT x.a AS u, x.b AS v, y.b AS w
         |  FROM e x JOIN e y ON y.a = x.b JOIN e z ON z.a = x.a AND z.b = y.b),
         |nodes AS (SELECT a AS v FROM e UNION ALL SELECT b FROM e),
         |deg AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS deg FROM nodes GROUP BY v),
         |tn AS (SELECT u AS v FROM tri
         |       UNION ALL SELECT v FROM tri
         |       UNION ALL SELECT w FROM tri),
         |tc AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS n_tri FROM tn GROUP BY v)
         |SELECT d.v AS doc_id, d.deg, COALESCE(tc.n_tri, 0) AS n_tri,
         |  CAST(CASE WHEN d.deg > 1
         |    THEN (2000 * COALESCE(tc.n_tri, 0)) // (d.deg * (d.deg - 1))
         |    ELSE 0 END AS BIGINT) AS cc_milli
         |FROM deg d LEFT JOIN tc ON tc.v = d.v""".stripMargin,
    "ops_pagerank" -> {
      def round(prev: String, cur: String) =
        s"""$cur AS (
           |  SELECT e.dst AS doc_id,
           |    CAST(150000000000 + 17 * (SUM(p.pr // e.deg) // 20) AS BIGINT) AS pr
           |  FROM we e JOIN $prev p ON e.src = p.doc_id
           |  GROUP BY e.dst)""".stripMargin
      val rounds = (1 to 5).map(i => round(s"p${i - 1}", s"p$i")).mkString(",\n")
      s"""WITH $shinglesCte,
         |$minhashCandsCte,
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM cands
         |      UNION ALL SELECT doc_b, doc_a FROM cands),
         |dg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
         |we AS (SELECT e.src, e.dst, dg.deg FROM e JOIN dg USING (src)),
         |p0 AS (SELECT src AS doc_id, CAST(1000000000000 AS BIGINT) AS pr FROM dg),
         |$rounds
         |SELECT doc_id, pr FROM p5""".stripMargin
    },
    // Train/test leakage audit: the ops_dedup_verify pipeline + a seeded
    // 90/10 hash split, keeping only straddling pairs. Split key pinned to
    // Dedup.crossSplitLeaks.
    "ops_cross_split" ->
      s"""WITH $shinglesCte,
         |$minhashCandsCte,
         |hv AS (SELECT doc_id, ${h60sql("shingle")} AS h FROM sh),
         |sizes AS (SELECT doc_id, COUNT(*) AS n FROM hv GROUP BY doc_id),
         |shared AS (
         |  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_shared
         |  FROM cands c
         |  JOIN hv a ON a.doc_id = c.doc_a
         |  JOIN hv b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY c.doc_a, c.doc_b),
         |verified AS (
         |  SELECT s.doc_a, s.doc_b,
         |    round(CAST(n_shared AS DOUBLE) / CAST(na.n + nb.n - n_shared AS DOUBLE), 6) AS jaccard
         |  FROM shared s
         |  JOIN sizes na ON na.doc_id = s.doc_a
         |  JOIN sizes nb ON nb.doc_id = s.doc_b
         |  WHERE CAST(n_shared AS DOUBLE) / CAST(na.n + nb.n - n_shared AS DOUBLE) >= 0.2)
         |SELECT doc_a, doc_b,
         |  CASE WHEN ${h60sql("'split:' || CAST(doc_a AS VARCHAR)")} % 10 < 9
         |       THEN 'train' ELSE 'test' END AS split_a,
         |  CASE WHEN ${h60sql("'split:' || CAST(doc_b AS VARCHAR)")} % 10 < 9
         |       THEN 'train' ELSE 'test' END AS split_b,
         |  jaccard
         |FROM verified
         |WHERE (${h60sql("'split:' || CAST(doc_a AS VARCHAR)")} % 10 < 9)
         |   <> (${h60sql("'split:' || CAST(doc_b AS VARCHAR)")} % 10 < 9)""".stripMargin,
    // Content-defined chunking (k=4 window, modulus 32), pinned to
    // Dedup.contentChunks: local window hash picks cut points, boundary
    // slicing builds chunks, shared-content groups only.
    "ops_content_chunks" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 4),
         |cuts AS (
         |  SELECT doc_id, text,
         |    list_filter(range(4, length(text) + 1),
         |      i -> ${h60sql("substr(text, CAST(i AS INTEGER) - 3, 4)")} % 32 = 0) AS cp
         |  FROM d),
         |bounds AS (SELECT doc_id, text,
         |  list_concat(list_concat([0], cp), [CAST(length(text) AS BIGINT)]) AS b
         |  FROM cuts),
         |chunks AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, len(b)), j -> struct_pack(
         |      chunk := substr(text, CAST(b[j] + 1 AS INTEGER), CAST(b[j+1] - b[j] AS INTEGER)),
         |      len := b[j+1] - b[j]))) AS c
         |  FROM bounds)
         |SELECT ${h60sql("c.chunk")} AS chunk_hash,
         |  CAST(COUNT(*) AS BIGINT) AS n_copies,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(MIN(c.len) AS BIGINT) AS chunk_len
         |FROM chunks WHERE c.len > 0
         |GROUP BY 1 HAVING COUNT(*) >= 2""".stripMargin,
    // twin of [[graft.ops.Dedup.substringDup]] (w = 5); coverage = interval
    // union of [pos, pos+5) via the sorted-gap identity, CAST on SUM guards
    // the DuckDB HUGEINT widening
    "ops_substring_dup" ->
      s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         |b AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens, tk FROM t WHERE len(tk) >= 5),
         |p AS (SELECT doc_id, n_tokens, tk, unnest(range(0, n_tokens - 4)) AS pos FROM b),
         |win AS (SELECT doc_id, n_tokens, pos,
         |        ${h60sql("array_to_string(list_slice(tk, pos + 1, pos + 5), ' ')")} AS h
         |      FROM p),
         |c AS (SELECT h FROM win GROUP BY h HAVING COUNT(*) > 1),
         |d AS (SELECT doc_id, n_tokens, pos FROM win JOIN c USING (h)),
         |g AS (SELECT doc_id, n_tokens, pos,
         |        pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS gap
         |      FROM d)
         |SELECT doc_id, MAX(n_tokens) AS n_tokens,
         |  CAST(COUNT(*) AS BIGINT) AS dup_windows,
         |  CAST(SUM(COALESCE(LEAST(5, gap), 5)) AS BIGINT) AS covered_tokens,
         |  round(CAST(SUM(COALESCE(LEAST(5, gap), 5)) AS BIGINT) / MAX(n_tokens), 6) AS dup_frac
         |FROM g GROUP BY doc_id""".stripMargin,
    "ops_corpus_filter" -> corpusFilterOracle,
    "ops_sql_corpus_filter" -> corpusFilterOracle,
    "ops_strat_sample" ->
      s"""SELECT doc_id, lang FROM documents
         |WHERE ${h60sql("'strat:' || CAST(doc_id AS VARCHAR)")} % 100 <
         |  CASE lang WHEN 'en' THEN 20 WHEN 'zh' THEN 60 ELSE 40 END""".stripMargin,
    "ops_seq_pack" ->
      """WITH base AS (
        |  SELECT doc_id, lang, doc_id % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |-- two-level prefix sum, packing order (lang, shard, doc_id):
        |-- shard-local exclusive running sum + exclusive total of earlier shards
        |loc AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS local_prev
        |  FROM base),
        |off AS (
        |  SELECT lang, shard,
        |    COALESCE(SUM(SUM(n_tokens)) OVER (PARTITION BY lang ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS shard_offset
        |  FROM base GROUP BY lang, shard)
        |SELECT loc.doc_id, loc.lang, loc.n_tokens,
        |  CAST((off.shard_offset + loc.local_prev) // 2048 AS BIGINT) AS bin
        |FROM loc JOIN off ON loc.lang = off.lang AND loc.shard = off.shard""".stripMargin,
    "ops_doc_chunk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |s AS (SELECT doc_id, t, unnest(range(0, len(t), 40)) AS start FROM t WHERE len(t) >= 1)
        |SELECT doc_id, CAST(start // 40 AS BIGINT) AS chunk_idx,
        |  CAST(len(list_slice(t, start + 1, start + 50)) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(list_slice(t, start + 1, start + 50), ' ')) AS chunk_hash
        |FROM s""".stripMargin,
    "ops_weighted_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${h60sql("'wsamp:' || CAST(doc_id AS VARCHAR)")} % 1000 < LEAST(n_chars * 2, 1000)""".stripMargin,
    "ops_group_sample" ->
      s"""SELECT doc_id, lang, CAST(rk AS BIGINT) AS rk FROM (
         |  SELECT doc_id, lang,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY ${h60sql("'gsamp:' || CAST(doc_id AS VARCHAR)")}, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= 50""".stripMargin,
    "ops_line_dedup" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |ln AS (
         |  SELECT doc_id, CAST(i // 10 AS BIGINT) AS line_idx,
         |    ${h60sql("array_to_string(t[CAST(i + 1 AS INT):CAST(i + 10 AS INT)], ' ')")} AS line_hash
         |  FROM toks, unnest(range(0, len(t), 10)) AS u(i)),
         |df AS (SELECT line_hash, COUNT(DISTINCT doc_id) AS df FROM ln GROUP BY line_hash)
         |SELECT doc_id, CAST(COUNT(1) AS BIGINT) AS n_kept,
         |  md5(string_agg(CAST(line_hash AS VARCHAR), ' ' ORDER BY line_idx)) AS kept_sig
         |FROM ln JOIN df USING (line_hash)
         |WHERE df.df <= 1
         |GROUP BY doc_id""".stripMargin,
    "ops_shuffle_shards" ->
      s"""WITH h AS (SELECT doc_id,
         |    ${h60sql("'shuf:' || CAST(doc_id AS VARCHAR)")} AS h
         |  FROM documents)
         |SELECT doc_id, h % 64 AS shard,
         |  CAST(row_number() OVER (PARTITION BY h % 64 ORDER BY h, doc_id) AS BIGINT) AS pos
         |FROM h""".stripMargin,
    "ops_embed_gram" ->
      s"""WITH e AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |a AS (SELECT v, list_max(list_transform(v, x -> abs(x))) AS am FROM e),
         |c AS (
         |  SELECT CASE WHEN am = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
         |              ELSE list_transform(v, x -> CAST(floor(x / am * 127) AS BIGINT)) END AS codes
         |  FROM a),
         |pr AS (
         |  SELECT ti.i AS i, tj.j AS j, codes[ti.i + 1] * codes[tj.j + 1] AS p
         |  FROM c, range(0, ${Similarity.Dim}) ti(i), range(0, ${Similarity.Dim}) tj(j)
         |  WHERE tj.j >= ti.i)
         |SELECT i, j, CAST(SUM(p) AS BIGINT) AS s FROM pr GROUP BY i, j""".stripMargin,
    "ops_embed_quant" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |a AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS am FROM e),
         |c AS (
         |  SELECT vec_id, v, am,
         |    CASE WHEN am = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
         |         ELSE list_transform(v, x -> CAST(floor(x / am * 127) AS BIGINT)) END AS codes
         |  FROM a)
         |SELECT vec_id, round(am, 6) AS scale,
         |  CAST(list_reduce(codes, (x, y) -> x + y) AS BIGINT) AS qsum,
         |  CAST(list_reduce(list_transform(range(1, ${Similarity.Dim + 1}),
         |    i -> codes[i] * (i - 1)), (x, y) -> x + y) AS BIGINT) AS qdot,
         |  CAST(list_min(codes) AS BIGINT) AS qmin,
         |  CAST(list_max(codes) AS BIGINT) AS qmax,
         |  round(sqrt(list_reduce(list_transform(range(1, ${Similarity.Dim + 1}),
         |    i -> (v[i] - CAST(codes[i] AS DOUBLE) * am / 127) * (v[i] - CAST(codes[i] AS DOUBLE) * am / 127)),
         |    (x, y) -> x + y)), 6) AS recon_err
         |FROM c""".stripMargin,
    "ops_decontaminate" ->
      s"""WITH $shinglesCte,
         |hv AS (SELECT doc_id, ${h60sql("shingle")} AS h FROM sh),
         |bench AS (SELECT DISTINCT h FROM hv WHERE doc_id < 5)
         |SELECT hv.doc_id, CAST(COUNT(DISTINCT hv.h) AS BIGINT) AS n_hits
         |FROM hv JOIN bench ON hv.h = bench.h
         |WHERE hv.doc_id >= 5
         |GROUP BY hv.doc_id""".stripMargin,
    "ops_ngram_jaccard" ->
      s"""WITH $shinglesCte,
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |hs AS (SELECT doc_id, ${h60sql("shingle")} AS h FROM sh),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b,
         |  round(CAST(n_shared AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_shared AS DOUBLE), 6) AS jaccard
         |FROM shared
         |JOIN sizes na ON na.doc_id = doc_a
         |JOIN sizes nb ON nb.doc_id = doc_b
         |WHERE CAST(n_shared AS DOUBLE) / CAST(na.n_sh + nb.n_sh - n_shared AS DOUBLE) >= 0.05""".stripMargin,
    "ops_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM fp""".stripMargin,
    "ops_simhash_pairs" ->
      s"""WITH $simhashCte,
         |bands AS (
         |  SELECT doc_id, simhash, b,
         |    (simhash >> CAST(b * 15 AS INT)) & 32767 AS key
         |  FROM fp CROSS JOIN range(4) AS r(b))
         |SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
         |FROM bands x JOIN bands y
         |  ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
         |WHERE bit_count(xor(x.simhash, y.simhash)) <= 3""".stripMargin,
    // twin of [[graft.ops.Similarity.pqTopK]] — same deterministically-
    // sampled codebooks, same ordered-fold subspace L2 floored to integer
    // micros (so the ADC SUM is order-free), same (dmicro, cid) argmin and
    // exact-cosine rerank of the top-100 candidates
    "ops_sim_pq" -> {
      val m = 8; val ksub = 32; val sub = Similarity.Dim / m; val rerank = 100
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |cb AS (SELECT vec_id AS cid, vn AS cv FROM nz WHERE vec_id < $ksub),
         |sm AS (
         |  SELECT vec_id, ms.m, cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (vn[ms.m * $sub + i] - cv[ms.m * $sub + i]) * (vn[ms.m * $sub + i] - cv[ms.m * $sub + i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM nz, cb, (SELECT unnest(range($m)) AS m) ms),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT m, cid, dmicro FROM sm WHERE vec_id = 0),
         |adc AS (SELECT a.vec_id, SUM(t.dmicro) AS adc
         |        FROM asg a JOIN qd t USING (m, cid) GROUP BY 1),
         |cand AS (SELECT vec_id FROM adc WHERE vec_id <> 0
         |         ORDER BY adc, vec_id LIMIT $rerank),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, round(${cosineSql("e.v", "qv")}, 6) AS cos_sim
         |FROM cand c JOIN e ON e.vec_id = c.vec_id, q
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin
    },
    // twin of [[graft.ops.Similarity.pqTopKTrained]] — the PUBLISHED integer
    // codebooks ([[graft.ops.PqModel]], trained offline and distilled like
    // QualityModel's weights) inlined as a VALUES table: both engines divide
    // the same integer micros by 1000000.0, so the codewords are
    // bit-identical without any float crossing engines
    "ops_sim_pq_trained" -> pqTrainedSql,
    // twin of [[graft.ops.Similarity.serve]] over `Opq`, query 0 — the trained-PQ CTE chain
    // in the PERMUTED space: pn = the published OPQ dimension reorder of
    // vn (a list_transform over the inlined 1-indexed perm — the oracle's
    // copy of Spark's element_at projection), books = the published OPQ
    // codebooks trained on permuted rows, everything downstream (floor-
    // micro subspace L2, (dmicro, cid) argmin, order-free ADC sum,
    // exact-cosine rerank over the RAW vectors) identical.
    "ops_sim_opq" -> {
      import graft.ops.OpqModel
      val sub = OpqModel.Sub; val rerank = 100
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |pz AS (SELECT vec_id, v, list_transform($opqPermList, d -> vn[d]) AS pn FROM nz),
         |cbv(m, cid, cw) AS (VALUES $opqCbValues),
         |sm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (pn[cb.m * $sub + i] - cw[i]) * (pn[cb.m * $sub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM pz, cbv cb),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT m, cid, dmicro FROM sm WHERE vec_id = 0),
         |adc AS (SELECT a.vec_id, SUM(t.dmicro) AS adc
         |        FROM asg a JOIN qd t USING (m, cid) GROUP BY 1),
         |cand AS (SELECT vec_id FROM adc WHERE vec_id <> 0
         |         ORDER BY adc, vec_id LIMIT $rerank),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, round(${cosineSql("e.v", "qv")}, 6) AS cos_sim
         |FROM cand c JOIN e ON e.vec_id = c.vec_id, q
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin
    },
    // twin of [[graft.ops.Similarity.annRecall]] over `pq`/`opq` — exact top-k per
    // query, the flat trained-PQ top-k and the OPQ top-k (both CTE chains
    // verbatim at identical bits), integer intersection counts, and the
    // grid left join keeping zero-hit rows visible. The permutation's
    // recall effect is hash-gated, not asserted.
    "ops_sim_recall_opq" -> {
      import graft.ops.{OpqModel, PqModel}
      val sub = PqModel.Sub; val osub = OpqModel.Sub
      val rerank = 100; val qids = "0, 1, 2, 3"; val k = 10
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($qids)),
         |ex AS (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM e, q WHERE e.vec_id <> q.query_id) WHERE rk <= $k),
         |cbv(m, cid, cw) AS (VALUES $pqCbValues),
         |sm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM nz, cbv cb),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT vec_id AS query_id, m, cid, dmicro FROM sm WHERE vec_id IN ($qids)),
         |adcp AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |         FROM asg a JOIN qd t USING (m, cid)
         |         WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |candp AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM adcp) WHERE rk <= $rerank),
         |pqk AS (SELECT query_id, vec_id FROM (
         |  SELECT c1.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY c1.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM candp c1 JOIN e ON e.vec_id = c1.vec_id
         |  JOIN q ON q.query_id = c1.query_id) WHERE rk <= $k),
         |pz AS (SELECT vec_id, list_transform($opqPermList, d -> vn[d]) AS pn FROM nz),
         |ocb(m, cid, cw) AS (VALUES $opqCbValues),
         |osm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${osub + 1}),
         |      i -> (pn[cb.m * $osub + i] - cw[i]) * (pn[cb.m * $osub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM pz, ocb cb),
         |oasg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM osm) WHERE rk = 1),
         |oqd AS (SELECT vec_id AS query_id, m, cid, dmicro FROM osm WHERE vec_id IN ($qids)),
         |oadc AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |         FROM oasg a JOIN oqd t USING (m, cid)
         |         WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |ocand AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM oadc) WHERE rk <= $rerank),
         |opqk AS (SELECT query_id, vec_id FROM (
         |  SELECT c2.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY c2.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM ocand c2 JOIN e ON e.vec_id = c2.vec_id
         |  JOIN q ON q.query_id = c2.query_id) WHERE rk <= $k),
         |u AS (SELECT 'pq' AS variant, query_id, vec_id FROM pqk
         |      UNION ALL SELECT 'opq', query_id, vec_id FROM opqk),
         |hits AS (SELECT variant, query_id, COUNT(*) AS n
         |         FROM u JOIN ex USING (query_id, vec_id) GROUP BY 1, 2),
         |grid AS (SELECT variant, query_id
         |         FROM (SELECT unnest(['opq', 'pq']) AS variant),
         |              (SELECT vec_id AS query_id FROM e WHERE vec_id IN ($qids)))
         |SELECT g.variant, g.query_id,
         |  CAST(COALESCE(h.n, 0) AS BIGINT) AS hits,
         |  round(COALESCE(h.n, 0) / $k.0, 2) AS recall
         |FROM grid g LEFT JOIN hits h ON h.variant = g.variant AND h.query_id = g.query_id""".stripMargin
    },
    // twin of [[graft.ops.Similarity.opqBalance]] — per-dimension exact
    // integer variance numerators n·Σm² − (Σm)² over milli-quantized
    // normalized coordinates, summed per subspace under the identity
    // dealing and the published OPQ dealing (both dim→subspace maps
    // inlined as VALUES). Every value is a BIGINT; the audit behind the
    // permutation artifact is itself hash-gated.
    "ops_opq_balance" -> {
      import graft.ops.{OpqModel, Similarity}
      val dim = Similarity.Dim; val sub = OpqModel.Sub
      val giVals = (0 until dim).map(d => s"(${d + 1}, ${d / sub})").mkString(", ")
      val goVals = (0 until dim).map(j =>
        s"(${OpqModel.Perm(j) + 1}, ${j / sub})").mkString(", ")
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |mv AS (SELECT list_transform(vn, x -> CAST(floor(x * 1000) AS BIGINT)) AS m FROM nz),
         |ds AS (SELECT d, CAST(SUM(m[d]) AS BIGINT) AS s1,
         |              CAST(SUM(m[d] * m[d]) AS BIGINT) AS s2,
         |              COUNT(*) AS n
         |       FROM mv, (SELECT unnest(range(1, ${dim + 1})) AS d) GROUP BY d),
         |vr AS (SELECT d, n * s2 - s1 * s1 AS vnum FROM ds),
         |gi(d, g) AS (VALUES $giVals),
         |go(d, g) AS (VALUES $goVals),
         |ai AS (SELECT g, CAST(SUM(vnum) AS BIGINT) AS var_identity
         |       FROM vr JOIN gi USING (d) GROUP BY g),
         |ao AS (SELECT g, CAST(SUM(vnum) AS BIGINT) AS var_opq
         |       FROM vr JOIN go USING (d) GROUP BY g)
         |SELECT CAST(ai.g AS BIGINT) AS subspace, var_identity, var_opq
         |FROM ai JOIN ao ON ai.g = ao.g""".stripMargin
    },
    // twin of [[graft.ops.Similarity.serve]] over `Flat`, query 0 — the persisted-codes
    // serving form. The ARTIFACT is a Spark-side layout choice (the codes
    // table holds exactly the trained encode of every vector), so the
    // oracle is the trained query verbatim: serving from codes must never
    // change answers, only plans.
    "ops_sim_pq_served" -> pqTrainedSql,
    // twin of [[graft.ops.Similarity.serve]] over `Flat`, queries 0-3 — Q queries, one
    // corpus pass: the trained-PQ CTEs with a query SET, per-query ADC
    // rank windows, shared exact-cosine rerank. The Spark side's map-side
    // top-k heaps keep exactly the window's (adc, vec_id)-ascending set,
    // so the two formulations agree row for row.
    "ops_sim_pq_batch" -> {
      import graft.ops.PqModel
      val sub = PqModel.Sub; val rerank = 100; val qids = "0, 1, 2, 3"
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |cbv(m, cid, cw) AS (VALUES $pqCbValues),
         |sm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM nz, cbv cb),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT vec_id AS query_id, m, cid, dmicro FROM sm WHERE vec_id IN ($qids)),
         |adc AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |        FROM asg a JOIN qd t USING (m, cid)
         |        WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM adc) WHERE rk <= $rerank),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($qids))
         |SELECT query_id, vec_id, cos_sim FROM (
         |  SELECT c.query_id, e.vec_id,
         |    round(${cosineSql("e.v", "qv")}, 6) AS cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY c.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM cand c JOIN e ON e.vec_id = c.vec_id
         |  JOIN q ON q.query_id = c.query_id)
         |WHERE rk <= 10""".stripMargin
    },
    // twin of [[graft.ops.Similarity.serve]] over `Ivf`, query 0 — IVF coarse pruning
    // (ops_sim_ivf's assignment + probes, raw-vector cosine) composed with
    // the trained-PQ ADC (ops_sim_pq_trained's CTEs) restricted to the
    // probed lists, then the shared exact-cosine rerank.
    "ops_sim_ivfpq" -> {
      import graft.ops.PqModel
      val sub = PqModel.Sub; val rerank = 100
      val nlist = 16; val nprobe = 4
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |c AS (SELECT vec_id AS ccid, v AS cv FROM e WHERE vec_id < $nlist),
         |ca AS (SELECT e.vec_id, ccid, ${cosineSql("e.v", "c.cv")} AS csim FROM e, c),
         |assign AS (
         |  SELECT vec_id, ccid AS list FROM (
         |    SELECT vec_id, ccid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid) AS rk
         |    FROM ca) WHERE rk = 1),
         |probes AS (SELECT ccid FROM ca WHERE vec_id = 0 ORDER BY csim DESC, ccid LIMIT $nprobe),
         |cbv(m, cid, cw) AS (VALUES $pqCbValues),
         |sm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM nz, cbv cb),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT m, cid, dmicro FROM sm WHERE vec_id = 0),
         |adc AS (SELECT a.vec_id, SUM(t.dmicro) AS adc
         |        FROM asg a JOIN qd t USING (m, cid)
         |        JOIN assign s ON s.vec_id = a.vec_id
         |        WHERE s.list IN (SELECT ccid FROM probes)
         |        GROUP BY 1),
         |cand AS (SELECT vec_id FROM adc WHERE vec_id <> 0
         |         ORDER BY adc, vec_id LIMIT $rerank),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, round(${cosineSql("e.v", "qv")}, 6) AS cos_sim
         |FROM cand c2 JOIN e ON e.vec_id = c2.vec_id, q
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin
    },
    // twin of [[graft.ops.Similarity.serve]] over `Ivf`, queries 0-3 — per-query probe
    // windows (ops_sim_ivfpq's probes CTE with a query SET) composed with
    // the batched trained-ADC CTEs, the pair admission requiring the
    // candidate's list in THAT query's probes, then the shared per-query
    // rerank windows. The Spark side's driver-side routing + broadcast
    // probe map + partition-pruned codes scan must agree row for row.
    "ops_sim_ivfpq_batch" -> {
      import graft.ops.PqModel
      val sub = PqModel.Sub; val rerank = 100; val qids = "0, 1, 2, 3"
      val nlist = 16; val nprobe = 4
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |c AS (SELECT vec_id AS ccid, v AS cv FROM e WHERE vec_id < $nlist),
         |ca AS (SELECT e.vec_id, ccid, ${cosineSql("e.v", "c.cv")} AS csim FROM e, c),
         |assign AS (
         |  SELECT vec_id, ccid AS list FROM (
         |    SELECT vec_id, ccid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid) AS rk
         |    FROM ca) WHERE rk = 1),
         |probes AS (SELECT query_id, ccid FROM (
         |  SELECT vec_id AS query_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid) AS rk
         |  FROM ca WHERE vec_id IN ($qids)) WHERE rk <= $nprobe),
         |cbv(m, cid, cw) AS (VALUES $pqCbValues),
         |sm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM nz, cbv cb),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT vec_id AS query_id, m, cid, dmicro FROM sm WHERE vec_id IN ($qids)),
         |adc AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |        FROM asg a JOIN qd t USING (m, cid)
         |        JOIN assign s ON s.vec_id = a.vec_id
         |        JOIN probes p ON p.query_id = t.query_id AND p.ccid = s.list
         |        WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM adc) WHERE rk <= $rerank),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($qids))
         |SELECT query_id, vec_id, cos_sim FROM (
         |  SELECT c2.query_id, e.vec_id,
         |    round(${cosineSql("e.v", "qv")}, 6) AS cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY c2.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM cand c2 JOIN e ON e.vec_id = c2.vec_id
         |  JOIN q ON q.query_id = c2.query_id)
         |WHERE rk <= 10""".stripMargin
    },
    // twin of [[graft.ops.Similarity.annRecall]] — brute-force exact
    // top-k per query, both serving variants' top-k (the two CTE chains
    // above verbatim), integer intersection counts, and the grid left
    // join that keeps zero-hit rows visible. Recall regression = hash
    // mismatch, not a softer spec assertion.
    "ops_sim_recall" -> {
      import graft.ops.{PqModel, Similarity}
      val sub = PqModel.Sub; val rerank = 100; val qids = "0, 1, 2, 3"
      val nlist = 16; val nprobe = 4; val k = 10
      val dim = Similarity.Dim
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($qids)),
         |ex AS (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM e, q WHERE e.vec_id <> q.query_id) WHERE rk <= $k),
         |cbv(m, cid, cw) AS (VALUES $pqCbValues),
         |sm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM nz, cbv cb),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT vec_id AS query_id, m, cid, dmicro FROM sm WHERE vec_id IN ($qids)),
         |adcp AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |         FROM asg a JOIN qd t USING (m, cid)
         |         WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |candp AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM adcp) WHERE rk <= $rerank),
         |pqk AS (SELECT query_id, vec_id FROM (
         |  SELECT c1.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY c1.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM candp c1 JOIN e ON e.vec_id = c1.vec_id
         |  JOIN q ON q.query_id = c1.query_id) WHERE rk <= $k),
         |c AS (SELECT vec_id AS ccid, v AS cv FROM e WHERE vec_id < $nlist),
         |ca AS (SELECT e.vec_id, ccid, ${cosineSql("e.v", "c.cv")} AS csim FROM e, c),
         |assign AS (
         |  SELECT vec_id, ccid AS list FROM (
         |    SELECT vec_id, ccid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid) AS rk
         |    FROM ca) WHERE rk = 1),
         |probes AS (SELECT query_id, ccid FROM (
         |  SELECT vec_id AS query_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, ccid) AS rk
         |  FROM ca WHERE vec_id IN ($qids)) WHERE rk <= $nprobe),
         |adci AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |         FROM asg a JOIN qd t USING (m, cid)
         |         JOIN assign s ON s.vec_id = a.vec_id
         |         JOIN probes p ON p.query_id = t.query_id AND p.ccid = s.list
         |         WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |candi AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM adci) WHERE rk <= $rerank),
         |ivfk AS (SELECT query_id, vec_id FROM (
         |  SELECT c2.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY c2.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM candi c2 JOIN e ON e.vec_id = c2.vec_id
         |  JOIN q ON q.query_id = c2.query_id) WHERE rk <= $k),
         |icb(ccid, cv) AS (VALUES $ivfCbValues),
         |idm AS (SELECT nz.vec_id, icb.ccid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${dim + 1}),
         |    i -> (vn[i] - cv[i]) * (vn[i] - cv[i])), (x, y) -> x + y) * 1000000) AS BIGINT) AS cdmicro
         |  FROM nz, icb),
         |tassign AS (SELECT vec_id, ccid AS list FROM (
         |  SELECT vec_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm) WHERE rk = 1),
         |tprobes AS (SELECT query_id, ccid FROM (
         |  SELECT vec_id AS query_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm WHERE vec_id IN ($qids)) WHERE rk <= $nprobe),
         |adct AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |         FROM asg a JOIN qd t USING (m, cid)
         |         JOIN tassign s ON s.vec_id = a.vec_id
         |         JOIN tprobes p ON p.query_id = t.query_id AND p.ccid = s.list
         |         WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |candt AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM adct) WHERE rk <= $rerank),
         |tk AS (SELECT query_id, vec_id FROM (
         |  SELECT c4.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY c4.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM candt c4 JOIN e ON e.vec_id = c4.vec_id
         |  JOIN q ON q.query_id = c4.query_id) WHERE rk <= $k),
         |rbv(m, cid, cw) AS (VALUES $pqResCbValues),
         |res AS (SELECT nz.vec_id, a.list,
         |    list_transform(range(1, ${dim + 1}), i -> vn[i] - c5.cv[i]) AS r
         |  FROM nz JOIN tassign a USING (vec_id) JOIN icb c5 ON c5.ccid = a.list),
         |rsm AS (SELECT vec_id, rb.m, rb.cid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |    i -> (r[rb.m * $sub + i] - cw[i]) * (r[rb.m * $sub + i] - cw[i])),
         |    (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM res, rbv rb),
         |rasg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM rsm) WHERE rk = 1),
         |qres AS (SELECT nz.vec_id AS query_id, icb.ccid AS list,
         |    list_transform(range(1, ${dim + 1}), i -> vn[i] - cv[i]) AS qr
         |  FROM nz, icb WHERE nz.vec_id IN ($qids)),
         |rqd AS (SELECT qr2.query_id, qr2.list, rb.m, rb.cid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |    i -> (qr[rb.m * $sub + i] - cw[i]) * (qr[rb.m * $sub + i] - cw[i])),
         |    (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM qres qr2, rbv rb),
         |adcr AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |         FROM rasg a
         |         JOIN tassign s ON s.vec_id = a.vec_id
         |         JOIN rqd t ON t.list = s.list AND t.m = a.m AND t.cid = a.cid
         |         JOIN tprobes p ON p.query_id = t.query_id AND p.ccid = s.list
         |         WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |candr AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM adcr) WHERE rk <= $rerank),
         |resk AS (SELECT query_id, vec_id FROM (
         |  SELECT c6.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY c6.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM candr c6 JOIN e ON e.vec_id = c6.vec_id
         |  JOIN q ON q.query_id = c6.query_id) WHERE rk <= $k),
         |allv AS (SELECT 'pq' AS variant, query_id, vec_id FROM pqk
         |         UNION ALL
         |         SELECT 'ivfpq' AS variant, query_id, vec_id FROM ivfk
         |         UNION ALL
         |         SELECT 'ivfpq_t' AS variant, query_id, vec_id FROM tk
         |         UNION ALL
         |         SELECT 'ivfpq_res' AS variant, query_id, vec_id FROM resk),
         |hits AS (SELECT variant, query_id, COUNT(*) AS n_hits
         |         FROM allv JOIN ex USING (query_id, vec_id) GROUP BY 1, 2),
         |grid AS (SELECT variant, query_id
         |         FROM (VALUES ('ivfpq'), ('ivfpq_res'), ('ivfpq_t'), ('pq')) vv(variant),
         |              (SELECT vec_id AS query_id FROM e WHERE vec_id IN ($qids)) qq)
         |SELECT g.variant, g.query_id,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS hits,
         |  round(COALESCE(h.n_hits, 0) / $k.0, 2) AS recall
         |FROM grid g LEFT JOIN hits h
         |  ON h.variant = g.variant AND h.query_id = g.query_id""".stripMargin
    },
    // twin of [[graft.ops.Similarity.serve]] over `IvfTrained`, query 0 — the fully-trained
    // stack: the PUBLISHED coarse centroids (icb VALUES) assign lists and
    // route the query by (micro-L2, ccid) — the same integer discipline as
    // the PQ encode, so partitioning and probing are cross-engine exact —
    // then the trained-ADC chain restricted to the probed lists and the
    // shared exact-cosine rerank.
    "ops_sim_ivfpq_trained" -> {
      import graft.ops.{PqModel, Similarity}
      val sub = PqModel.Sub; val rerank = 100
      val dim = Similarity.Dim; val nprobe = 4
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |icb(ccid, cv) AS (VALUES $ivfCbValues),
         |idm AS (SELECT nz.vec_id, icb.ccid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${dim + 1}),
         |    i -> (vn[i] - cv[i]) * (vn[i] - cv[i])), (x, y) -> x + y) * 1000000) AS BIGINT) AS cdmicro
         |  FROM nz, icb),
         |assign AS (SELECT vec_id, ccid AS list FROM (
         |  SELECT vec_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm) WHERE rk = 1),
         |probes AS (SELECT ccid FROM idm WHERE vec_id = 0 ORDER BY cdmicro, ccid LIMIT $nprobe),
         |cbv(m, cid, cw) AS (VALUES $pqCbValues),
         |sm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM nz, cbv cb),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT m, cid, dmicro FROM sm WHERE vec_id = 0),
         |adc AS (SELECT a.vec_id, SUM(t.dmicro) AS adc
         |        FROM asg a JOIN qd t USING (m, cid)
         |        JOIN assign s ON s.vec_id = a.vec_id
         |        WHERE s.list IN (SELECT ccid FROM probes)
         |        GROUP BY 1),
         |cand AS (SELECT vec_id FROM adc WHERE vec_id <> 0
         |         ORDER BY adc, vec_id LIMIT $rerank),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, round(${cosineSql("e.v", "qv")}, 6) AS cos_sim
         |FROM cand c2 JOIN e ON e.vec_id = c2.vec_id, q
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin
    },
    // twin of [[graft.ops.Similarity.serve]] over `IvfTrained`, queries 0-3 — the trained
    // layout under the batch shape: published-centroid assignment and
    // per-query probe windows (micro-L2 asc), batched trained-ADC chain
    // with per-query list admission, shared per-query rerank windows.
    "ops_sim_ivfpq_trained_batch" -> {
      import graft.ops.{PqModel, Similarity}
      val sub = PqModel.Sub; val rerank = 100; val qids = "0, 1, 2, 3"
      val dim = Similarity.Dim; val nprobe = 4; val k = 10
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |icb(ccid, cv) AS (VALUES $ivfCbValues),
         |idm AS (SELECT nz.vec_id, icb.ccid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${dim + 1}),
         |    i -> (vn[i] - cv[i]) * (vn[i] - cv[i])), (x, y) -> x + y) * 1000000) AS BIGINT) AS cdmicro
         |  FROM nz, icb),
         |assign AS (SELECT vec_id, ccid AS list FROM (
         |  SELECT vec_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm) WHERE rk = 1),
         |probes AS (SELECT query_id, ccid FROM (
         |  SELECT vec_id AS query_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm WHERE vec_id IN ($qids)) WHERE rk <= $nprobe),
         |cbv(m, cid, cw) AS (VALUES $pqCbValues),
         |sm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM nz, cbv cb),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT vec_id AS query_id, m, cid, dmicro FROM sm WHERE vec_id IN ($qids)),
         |adc AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |        FROM asg a JOIN qd t USING (m, cid)
         |        JOIN assign s ON s.vec_id = a.vec_id
         |        JOIN probes p ON p.query_id = t.query_id AND p.ccid = s.list
         |        WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM adc) WHERE rk <= $rerank),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($qids))
         |SELECT query_id, vec_id, cos_sim FROM (
         |  SELECT c2.query_id, e.vec_id,
         |    round(${cosineSql("e.v", "qv")}, 6) AS cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY c2.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM cand c2 JOIN e ON e.vec_id = c2.vec_id
         |  JOIN q ON q.query_id = c2.query_id)
         |WHERE rk <= $k""".stripMargin
    },
    // twin of [[graft.ops.Similarity.serve]] over `IvfResidual`, query 0 — textbook residual
    // IVF-PQ: published-centroid assignment and routing (the trained
    // chain verbatim), then the RESIDUAL encode — every vector's r = vn −
    // c(list) quantized by the published residual books (rbv VALUES) —
    // and the per-LIST query residual distance tables (the ADC table is
    // per probed cell: query and candidate subtract the same centroid),
    // integer-micro ADC, shared exact-cosine rerank.
    "ops_sim_ivfpq_res" -> {
      import graft.ops.{PqResModel, Similarity}
      val sub = PqResModel.Sub; val rerank = 100
      val dim = Similarity.Dim; val nprobe = 4
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |icb(ccid, cv) AS (VALUES $ivfCbValues),
         |idm AS (SELECT nz.vec_id, icb.ccid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${dim + 1}),
         |    i -> (vn[i] - cv[i]) * (vn[i] - cv[i])), (x, y) -> x + y) * 1000000) AS BIGINT) AS cdmicro
         |  FROM nz, icb),
         |assign AS (SELECT vec_id, ccid AS list FROM (
         |  SELECT vec_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm) WHERE rk = 1),
         |probes AS (SELECT ccid FROM idm WHERE vec_id = 0 ORDER BY cdmicro, ccid LIMIT $nprobe),
         |rbv(m, cid, cw) AS (VALUES $pqResCbValues),
         |res AS (SELECT nz.vec_id, a.list,
         |    list_transform(range(1, ${dim + 1}), i -> vn[i] - c2.cv[i]) AS r
         |  FROM nz JOIN assign a USING (vec_id) JOIN icb c2 ON c2.ccid = a.list),
         |rsm AS (SELECT vec_id, rb.m, rb.cid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |    i -> (r[rb.m * $sub + i] - cw[i]) * (r[rb.m * $sub + i] - cw[i])),
         |    (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM res, rbv rb),
         |rasg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM rsm) WHERE rk = 1),
         |qres AS (SELECT icb.ccid AS list,
         |    list_transform(range(1, ${dim + 1}), i -> vn[i] - cv[i]) AS qr
         |  FROM nz, icb WHERE nz.vec_id = 0),
         |rqd AS (SELECT qr2.list, rb.m, rb.cid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |    i -> (qr[rb.m * $sub + i] - cw[i]) * (qr[rb.m * $sub + i] - cw[i])),
         |    (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM qres qr2, rbv rb),
         |adc AS (SELECT a.vec_id, SUM(t.dmicro) AS adc
         |        FROM rasg a
         |        JOIN assign s ON s.vec_id = a.vec_id
         |        JOIN rqd t ON t.list = s.list AND t.m = a.m AND t.cid = a.cid
         |        WHERE s.list IN (SELECT ccid FROM probes) AND a.vec_id <> 0
         |        GROUP BY 1),
         |cand AS (SELECT vec_id FROM adc ORDER BY adc, vec_id LIMIT $rerank),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT e.vec_id, round(${cosineSql("e.v", "qv")}, 6) AS cos_sim
         |FROM cand c3 JOIN e ON e.vec_id = c3.vec_id, q
         |ORDER BY cos_sim DESC, e.vec_id LIMIT 10""".stripMargin
    },
    // twin of [[graft.ops.Similarity.serve]] over `IvfResidual`, queries 0-3 — the residual
    // chain under the batch shape: per-query probe windows, per-(query,
    // list) residual distance tables, per-query list admission, shared
    // per-query rerank windows.
    "ops_sim_ivfpq_res_batch" -> {
      import graft.ops.{PqResModel, Similarity}
      val sub = PqResModel.Sub; val rerank = 100; val qids = "0, 1, 2, 3"
      val dim = Similarity.Dim; val nprobe = 4; val k = 10
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |icb(ccid, cv) AS (VALUES $ivfCbValues),
         |idm AS (SELECT nz.vec_id, icb.ccid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${dim + 1}),
         |    i -> (vn[i] - cv[i]) * (vn[i] - cv[i])), (x, y) -> x + y) * 1000000) AS BIGINT) AS cdmicro
         |  FROM nz, icb),
         |assign AS (SELECT vec_id, ccid AS list FROM (
         |  SELECT vec_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm) WHERE rk = 1),
         |probes AS (SELECT query_id, ccid FROM (
         |  SELECT vec_id AS query_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm WHERE vec_id IN ($qids)) WHERE rk <= $nprobe),
         |rbv(m, cid, cw) AS (VALUES $pqResCbValues),
         |res AS (SELECT nz.vec_id, a.list,
         |    list_transform(range(1, ${dim + 1}), i -> vn[i] - c2.cv[i]) AS r
         |  FROM nz JOIN assign a USING (vec_id) JOIN icb c2 ON c2.ccid = a.list),
         |rsm AS (SELECT vec_id, rb.m, rb.cid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |    i -> (r[rb.m * $sub + i] - cw[i]) * (r[rb.m * $sub + i] - cw[i])),
         |    (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM res, rbv rb),
         |rasg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM rsm) WHERE rk = 1),
         |qres AS (SELECT nz.vec_id AS query_id, icb.ccid AS list,
         |    list_transform(range(1, ${dim + 1}), i -> vn[i] - cv[i]) AS qr
         |  FROM nz, icb WHERE nz.vec_id IN ($qids)),
         |rqd AS (SELECT qr2.query_id, qr2.list, rb.m, rb.cid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |    i -> (qr[rb.m * $sub + i] - cw[i]) * (qr[rb.m * $sub + i] - cw[i])),
         |    (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM qres qr2, rbv rb),
         |adc AS (SELECT t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |        FROM rasg a
         |        JOIN assign s ON s.vec_id = a.vec_id
         |        JOIN rqd t ON t.list = s.list AND t.m = a.m AND t.cid = a.cid
         |        JOIN probes p ON p.query_id = t.query_id AND p.ccid = s.list
         |        WHERE a.vec_id <> t.query_id GROUP BY 1, 2),
         |cand AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rk
         |  FROM adc) WHERE rk <= $rerank),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($qids))
         |SELECT query_id, vec_id, cos_sim FROM (
         |  SELECT c3.query_id, e.vec_id,
         |    round(${cosineSql("e.v", "qv")}, 6) AS cos_sim,
         |    ROW_NUMBER() OVER (PARTITION BY c3.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM cand c3 JOIN e ON e.vec_id = c3.vec_id
         |  JOIN q ON q.query_id = c3.query_id)
         |WHERE rk <= $k""".stripMargin
    },
    // twin of [[graft.ops.Similarity.ivfCalib]] with `trained = true` —
    // the same two-axis grid over the TRAINED layout: published-centroid
    // assignment, per-(np, query) micro-L2 probe prefixes, batched
    // trained-ADC admission, scanned from the trained assignment.
    "ops_ivf_calib_trained" -> {
      import graft.ops.{PqModel, Similarity}
      val sub = PqModel.Sub; val rerank = 100; val qids = "0, 1, 2, 3"
      val dim = Similarity.Dim; val k = 10
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nz AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(${dotSql("v", "v")})) AS vn FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN ($qids)),
         |ex AS (SELECT query_id, vec_id FROM (
         |  SELECT q.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM e, q WHERE e.vec_id <> q.query_id) WHERE rk <= $k),
         |icb(ccid, cv) AS (VALUES $ivfCbValues),
         |idm AS (SELECT nz.vec_id, icb.ccid,
         |  CAST(floor(list_reduce(list_transform(range(1, ${dim + 1}),
         |    i -> (vn[i] - cv[i]) * (vn[i] - cv[i])), (x, y) -> x + y) * 1000000) AS BIGINT) AS cdmicro
         |  FROM nz, icb),
         |assign AS (SELECT vec_id, ccid AS list FROM (
         |  SELECT vec_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm) WHERE rk = 1),
         |gridnp(np) AS (VALUES (1), (2), (4), (16)),
         |probes AS (SELECT np, query_id, ccid FROM (
         |  SELECT vec_id AS query_id, ccid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cdmicro, ccid) AS rk
         |  FROM idm WHERE vec_id IN ($qids)) r, gridnp WHERE r.rk <= gridnp.np),
         |cbv(m, cid, cw) AS (VALUES $pqCbValues),
         |sm AS (
         |  SELECT vec_id, cb.m, cb.cid,
         |    CAST(floor(list_reduce(list_transform(range(1, ${sub + 1}),
         |      i -> (vn[cb.m * $sub + i] - cw[i]) * (vn[cb.m * $sub + i] - cw[i])),
         |      (x, y) -> x + y) * 1000000) AS BIGINT) AS dmicro
         |  FROM nz, cbv cb),
         |asg AS (SELECT vec_id, m, cid FROM (
         |  SELECT vec_id, m, cid,
         |    ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dmicro, cid) AS rk
         |  FROM sm) WHERE rk = 1),
         |qd AS (SELECT vec_id AS query_id, m, cid, dmicro FROM sm WHERE vec_id IN ($qids)),
         |adci AS (SELECT p.np, t.query_id, a.vec_id, SUM(t.dmicro) AS adc
         |         FROM asg a JOIN qd t USING (m, cid)
         |         JOIN assign s ON s.vec_id = a.vec_id
         |         JOIN probes p ON p.query_id = t.query_id AND p.ccid = s.list
         |         WHERE a.vec_id <> t.query_id GROUP BY 1, 2, 3),
         |candi AS (SELECT np, query_id, vec_id FROM (
         |  SELECT np, query_id, vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY np, query_id ORDER BY adc, vec_id) AS rk
         |  FROM adci) WHERE rk <= $rerank),
         |ivfk AS (SELECT np, query_id, vec_id FROM (
         |  SELECT c2.np, c2.query_id, e.vec_id,
         |    ROW_NUMBER() OVER (PARTITION BY c2.np, c2.query_id
         |      ORDER BY round(${cosineSql("e.v", "qv")}, 6) DESC, e.vec_id) AS rk
         |  FROM candi c2 JOIN e ON e.vec_id = c2.vec_id
         |  JOIN q ON q.query_id = c2.query_id) WHERE rk <= $k),
         |hits AS (SELECT np, query_id, COUNT(*) AS n_hits
         |         FROM ivfk JOIN ex USING (query_id, vec_id) GROUP BY 1, 2),
         |sizes AS (SELECT list, COUNT(*) AS n FROM assign GROUP BY 1),
         |sc AS (SELECT np, query_id, SUM(n) AS scanned
         |       FROM probes JOIN sizes ON sizes.list = probes.ccid GROUP BY 1, 2)
         |SELECT s.np AS nprobe, s.query_id,
         |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS hits,
         |  round(COALESCE(h.n_hits, 0) / $k.0, 2) AS recall,
         |  CAST(s.scanned AS BIGINT) AS scanned
         |FROM sc s LEFT JOIN hits h ON h.np = s.np AND h.query_id = s.query_id""".stripMargin
    },
    // twin of [[graft.ops.Similarity.ivfCalib]] — the nprobe grid as a
    // VALUES frame, per-(np, query) probe PREFIXES of one ranked routing
    // window, the batched trained-ADC chain admitted per (np, query),
    // recall vs brute-force exact, and the scanned cost summed from the
    // deterministic list assignment — both axes of the calibration curve
    // integer-exact, so knob-tuning itself is hash-gated.
    "ops_ivf_calib" -> s"WITH $ivfCalibCtes\n$ivfCalibSelect",
    // twin of [[graft.ops.Similarity.ivfChoose]] — the DECISION over the
    // calibration curve as one more hash-gated query: per-nprobe integer
    // totals, the eligibility floor ceil(0.8 × 4 × 10) = 32 total hits
    // (mean recall ≥ the 0.8 default target), cheapest total-scanned wins,
    // nprobe ties toward the smaller knob. mean_recall is ONE shared IEEE
    // division of exact integers (no rounding — both engines divide the
    // same BIGINTs by 40.0), so the chosen row hashes bit-for-bit.
    "ops_ivf_choose" ->
      s"""WITH $ivfCalibCtes,
         |curve AS ($ivfCalibSelect),
         |agg AS (SELECT nprobe, CAST(SUM(hits) AS BIGINT) AS total_hits,
         |        CAST(SUM(scanned) AS BIGINT) AS total_scanned
         |        FROM curve GROUP BY 1)
         |SELECT nprobe, total_hits, total_hits / 40.0 AS mean_recall, total_scanned
         |FROM agg WHERE total_hits >= 32
         |ORDER BY total_scanned, nprobe LIMIT 1""".stripMargin,
    "ops_sim_ivf" -> {
      val nlist = 16; val nprobe = 4
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < $nlist),
         |a AS (SELECT e.vec_id, e.v, c.cid, ${cosineSql("e.v", "c.cv")} AS csim FROM e, c),
         |assign AS (
         |  SELECT vec_id, v, cid AS bucket FROM (
         |    SELECT vec_id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
         |    FROM a) WHERE rk = 1),
         |probes AS (SELECT cid FROM a WHERE vec_id = 0 ORDER BY csim DESC, cid LIMIT $nprobe),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT s.vec_id, round(${cosineSql("s.v", "qv")}, 6) AS cos_sim
         |FROM assign s, q
         |WHERE s.bucket IN (SELECT cid FROM probes) AND s.vec_id <> 0
         |ORDER BY cos_sim DESC, s.vec_id
         |LIMIT 10""".stripMargin
    },
    "ops_sim_topk" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         |SELECT vec_id, round(${cosineSql("v", "qv")}, 6) AS cos_sim
         |FROM e, q
         |WHERE vec_id <> 0
         |ORDER BY cos_sim DESC, vec_id
         |LIMIT 10""".stripMargin,
    "ops_ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |b AS (
         |  SELECT 0 AS t, vec_id, v, ${lshBucketSql("v", 0, 8)} AS bucket FROM e
         |  UNION ALL
         |  SELECT 1 AS t, vec_id, v, ${lshBucketSql("v", 1, 8)} AS bucket FROM e),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS ia, b2.vec_id AS ib, a.v AS va, b2.v AS vb
         |  FROM b a JOIN b b2
         |    ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |SELECT ia AS vec_a, ib AS vec_b,
         |  round(${cosineSql("va", "vb")}, 6) AS cos_sim
         |FROM cand
         |WHERE round(${cosineSql("va", "vb")}, 6) >= 0.3""".stripMargin,
    // SemDeDup: IVF assignment (same quantizer as ops_sim_ivf), within-cluster
    // pairs, greedy keep-lowest-id vs the cluster's 256 lowest-id exemplars
    // (the clusterCap bound — mirrored as rn <= 256 on the judging side);
    // clones = scale-doubled every-7th vector (cosine scale-invariant ->
    // exactly 1.0). Constants pinned to Similarity.semDedup defaults
    // (nlist=16, tau=0.4, stride=7, id+100000, clusterCap=256).
    "ops_semdedup" ->
      s"""WITH base AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |e AS (
         |  SELECT vec_id, v FROM base
         |  UNION ALL
         |  SELECT vec_id + 100000, list_transform(v, x -> x * 2.0) FROM base
         |  WHERE vec_id % 7 = 0),
         |c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
         |a AS (SELECT e.vec_id, e.v, c.cid, ${cosineSql("e.v", "c.cv")} AS csim FROM e, c),
         |assign AS (
         |  SELECT vec_id, v, cid AS bucket FROM (
         |    SELECT vec_id, v, cid,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS rk
         |    FROM a) WHERE rk = 1),
         |ranked AS (
         |  SELECT vec_id, v, bucket,
         |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
         |  FROM assign),
         |dropped AS (
         |  SELECT DISTINCT y.vec_id
         |  FROM ranked x JOIN ranked y
         |    ON x.bucket = y.bucket AND x.vec_id < y.vec_id AND x.rn <= 256
         |  WHERE round(${cosineSql("x.v", "y.v")}, 6) >= 0.4)
         |SELECT s.vec_id, s.bucket, (d.vec_id IS NULL) AS kept
         |FROM assign s LEFT JOIN dropped d ON s.vec_id = d.vec_id""".stripMargin,
    "ops_embed_cluster" ->
      s"""WITH RECURSIVE e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |b AS (
         |  SELECT 0 AS t, vec_id, v, ${lshBucketSql("v", 0, 8)} AS bucket FROM e
         |  UNION ALL
         |  SELECT 1 AS t, vec_id, v, ${lshBucketSql("v", 1, 8)} AS bucket FROM e),
         |cand AS (
         |  SELECT DISTINCT a.vec_id AS ia, b2.vec_id AS ib
         |  FROM b a JOIN b b2
         |    ON a.t = b2.t AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |  WHERE round(${cosineSql("a.v", "b2.v")}, 6) >= 0.3),
         |edges AS (SELECT ia AS src, ib AS dst FROM cand UNION SELECT ib, ia FROM cand),
         |walk(vec_id, reach) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT w.vec_id, e2.dst FROM walk w JOIN edges e2 ON w.reach = e2.src)
         |SELECT vec_id, MIN(reach) AS comp FROM walk GROUP BY vec_id""".stripMargin,
    "ops_text_stats" ->
      """SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
        |  round(CAST(SUM(n_chars) AS DOUBLE) / CAST(SUM(len(string_split(text, ' '))) AS DOUBLE), 6) AS chars_per_token
        |FROM documents GROUP BY lang""".stripMargin,
    "ops_lang_id" -> {
      val values = TextStats.markers.map { case (l, m) => s"('$l', '$m')" }.mkString(", ")
      s"""WITH m(cand_lang, marker) AS (VALUES $values),
         |toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
         |hits AS (
         |  SELECT doc_id, cand_lang, COUNT(*) AS n_hits
         |  FROM toks JOIN m ON tok = marker
         |  GROUP BY doc_id, cand_lang),
         |best AS (
         |  SELECT doc_id, cand_lang, n_hits,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY n_hits DESC, cand_lang) AS rk
         |  FROM hits)
         |SELECT d.doc_id, d.lang,
         |  COALESCE(b.cand_lang, 'und') AS pred_lang,
         |  CAST(COALESCE(b.n_hits, 0) AS BIGINT) AS n_hits
         |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rk = 1) b ON d.doc_id = b.doc_id""".stripMargin
    },
    "ops_text_quality" -> {
      val en = TextStats.markers.filter(_._1 == "en").map(m => s"'${m._2}'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types,
         |    SUM(CASE WHEN tok IN ($en) THEN 1 ELSE 0 END) AS n_stop,
         |    SUM(length(tok)) AS tok_chars
         |  FROM toks GROUP BY doc_id)
         |SELECT doc_id, n_tokens,
         |  round(CAST(n_types AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS ttr,
         |  round(CAST(n_stop AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS stopword_ratio,
         |  round(CAST(tok_chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6) AS mean_tok_len
         |FROM agg""".stripMargin
    },
    // twin of [[graft.ops.TextStats.qualityLogit]]: the same integer dot
    // product over per-mille features — bit-exact cross-engine because
    // nothing transcendental ever runs (keep ⇔ z > 0 ⇔ σ(z) > 1/2)
    "ops_quality_logit" -> {
      val en = TextStats.markers.filter(_._1 == "en").map(m => s"'${m._2}'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT tok) AS n_types,
         |    SUM(CASE WHEN tok IN ($en) THEN 1 ELSE 0 END) AS n_stop,
         |    SUM(length(tok)) AS tok_chars
         |  FROM toks GROUP BY doc_id),
         |f AS (
         |  SELECT doc_id, n_types * 1000 // n_tokens AS ttr_milli,
         |    n_stop * 1000 // n_tokens AS stop_milli,
         |    tok_chars * 1000 // n_tokens AS mlen_milli, n_tokens
         |  FROM agg)
         |SELECT doc_id,
         |  CAST(ttr_milli * 1000 + stop_milli * 3000 +
         |    LEAST(n_tokens, 500) * 800 -
         |    ABS(mlen_milli - 4500) * 40 - 600000 AS BIGINT) AS logit_micro,
         |  (ttr_milli * 1000 + stop_milli * 3000 +
         |    LEAST(n_tokens, 500) * 800 -
         |    ABS(mlen_milli - 4500) * 40 - 600000) > 0 AS keep
         |FROM f""".stripMargin
    },
    // twin of [[graft.ops.QualityModel.scoreDistilled]] under the
    // PUBLISHED weights (train ∘ distill frozen as constants — the model
    // artifact is data, so the trained path gates the HLL-free way: the
    // oracle replicates the integer dot product literally). Features and
    // z-expression are the SHARED body the curve/choose oracles also use.
    "ops_quality_distilled" ->
      s"""WITH $distilledFeatureCtes
         |SELECT doc_id,
         |  CAST($distilledZExpr AS BIGINT) AS z_int,
         |  ($distilledZExpr) > 0 AS keep
         |FROM f""".stripMargin,
    "ops_token_counts" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[a-zA-Z]+')) AS BIGINT) AS n_alpha,
        |  CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT) AS n_num,
        |  CAST(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]')) AS BIGINT) AS n_other
        |FROM documents""".stripMargin,
    "ops_fingerprints" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |pt AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t) + 1)) AS pos FROM toks),
         |h AS (SELECT doc_id, pos, ${h60sql("tok")} AS h FROM pt),
         |w AS (
         |  SELECT doc_id, pos,
         |    MIN(h) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS wmin
         |  FROM h)
         |SELECT DISTINCT doc_id, wmin AS fp FROM w WHERE pos >= 5""".stripMargin,
    // Full winnowing, pinned to TextStats.winnowing defaults (k=3 word-grams,
    // w=4): relational form — explode grams, range self-join to windows,
    // rank (h ASC, pos DESC) = min-hash with rightmost tie, full windows only.
    // The Spark side computes the identical selection in-row.
    "ops_winnowing" ->
      s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
         |g AS (
         |  SELECT doc_id, unnest(range(1, len(t) - 1)) AS pos,
         |    unnest(list_transform(range(1, len(t) - 1),
         |      i -> ${h60sql("t[i] || ' ' || t[i+1] || ' ' || t[i+2]")})) AS h
         |  FROM toks WHERE len(t) >= 6),
         |win AS (
         |  SELECT a.doc_id, a.pos AS wpos, b.pos, b.h
         |  FROM g a JOIN g b ON a.doc_id = b.doc_id
         |    AND b.pos BETWEEN a.pos AND a.pos + 3),
         |rk AS (
         |  SELECT doc_id, wpos, pos, h,
         |    count(*) OVER (PARTITION BY doc_id, wpos) AS cnt,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id, wpos
         |      ORDER BY h ASC, pos DESC) AS rnk
         |  FROM win)
         |SELECT DISTINCT doc_id, pos, h AS fp FROM rk
         |WHERE cnt = 4 AND rnk = 1""".stripMargin,
    "ops_quantiles" ->
      """SELECT lang,
        |  quantile_cont(n_chars, 0.25) AS q25,
        |  quantile_cont(n_chars, 0.5) AS q50,
        |  quantile_cont(n_chars, 0.75) AS q75,
        |  COUNT(*) AS n
        |FROM documents GROUP BY lang""".stripMargin,
    "ops_pii_scan" -> {
      // same pattern strings as the Spark side (standard-SQL quoting passes
      // the backslash in \. through to the regex engine untouched)
      val email = Curation.EmailRe
      val phone = Curation.PhoneRe
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0 THEN text || ' contact: user' || CAST(doc_id AS VARCHAR) || '@example.com'
         |         WHEN doc_id % 11 = 0 THEN text || ' tel 555-01' || CAST(doc_id % 10 AS VARCHAR) || '.9876'
         |         ELSE text END AS text2
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text2, '$email')) AS BIGINT) AS n_email,
         |  CAST(len(regexp_extract_all(text2, '$phone')) AS BIGINT) AS n_phone,
         |  regexp_replace(regexp_replace(text2, '$email', '<EMAIL>', 'g'), '$phone', '<PHONE>', 'g') AS redacted
         |FROM d""".stripMargin
    },
    "ops_doc_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE ${h60sql("'sample:' || CAST(doc_id AS VARCHAR)")} % 100 < 10""".stripMargin,
    "ops_vocab" ->
      """SELECT token, COUNT(*) AS freq
        |FROM (SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents)
        |GROUP BY 1 ORDER BY freq DESC, token LIMIT 100""".stripMargin,
    "ops_text_search" -> {
      val terms = TextStats.searchTerms.map(t => s"'$t'").mkString(", ")
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents),
         |hits AS (
         |  SELECT doc_id, COUNT(DISTINCT tok) AS n_terms, COUNT(*) AS tf
         |  FROM toks WHERE tok IN ($terms) GROUP BY doc_id)
         |SELECT doc_id, CAST(tf AS BIGINT) AS tf FROM hits
         |WHERE n_terms = ${TextStats.searchTerms.size}
         |ORDER BY tf DESC, doc_id LIMIT 20""".stripMargin
    },
    "ops_bigram_lm" ->
      s"""WITH $bigramScoreCte
         |SELECT doc_id, n_bigrams, sum_freq, avg_freq FROM score""".stripMargin,
    // twin of [[graft.ops.TextStats.tfidfTopTerms]] (k = 3); ranking orders
    // on the rounded score exactly as the Spark side does
    "ops_tfidf_terms" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |tfc AS (SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf FROM tok GROUP BY doc_id, term),
        |dfc AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tfc GROUP BY term),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, term, tf, df, round(tf * ln(n_docs / df), 6) AS tfidf
        |  FROM tfc JOIN dfc USING (term) CROSS JOIN n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
        |      FROM scored)
        |SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tf, df, tfidf
        |FROM r WHERE rnk <= 3""".stripMargin,
    "ops_quality_mix" ->
      s"""WITH $bigramScoreCte,
         |fine AS (SELECT doc_id, CAST(sum_freq * 1000 // n_bigrams AS BIGINT) AS freq_permille FROM score),
         |q AS (SELECT quantile_cont(freq_permille, 0.25) AS p25,
         |             quantile_cont(freq_permille, 0.5) AS p50,
         |             quantile_cont(freq_permille, 0.75) AS p75 FROM fine),
         |mixed AS (
         |  SELECT doc_id, freq_permille,
         |    CASE WHEN freq_permille <= p25 THEN 0 WHEN freq_permille <= p50 THEN 1
         |         WHEN freq_permille <= p75 THEN 2 ELSE 3 END AS bucket
         |  FROM fine, q)
         |SELECT doc_id, CAST(bucket AS BIGINT) AS bucket, freq_permille
         |FROM mixed
         |WHERE ${h60sql("'qmix:' || CAST(doc_id AS VARCHAR)")} % 1000 <
         |  CASE bucket WHEN 0 THEN 250 WHEN 1 THEN 500 WHEN 2 THEN 750 ELSE 1000 END""".stripMargin,
    // Domain-mixture allocation: weights pinned to Curation.domainMix's map
    // (en 40 / zh 20 / de 15 / fr 15 / es 10), half-corpus budget fused into
    // one integer floor-division so only the final ratios are floats.
    "ops_domain_mix" ->
      """WITH per AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang),
        |tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS tot FROM per),
        |w AS (SELECT * FROM (VALUES ('en', 40), ('zh', 20), ('de', 15),
        |  ('fr', 15), ('es', 10)) AS t(lang, weight))
        |SELECT p.lang, p.n_docs, p.n_tokens, CAST(w.weight AS BIGINT) AS weight,
        |  CAST((tot * w.weight) // 200 AS BIGINT) AS target_tokens,
        |  round(least(1.0, CAST((tot * w.weight) // 200 AS DOUBLE) / p.n_tokens), 6)
        |    AS sample_rate,
        |  round(CAST((tot * w.weight) // 200 AS DOUBLE) / p.n_tokens, 6) AS epochs
        |FROM per p JOIN w ON p.lang = w.lang, tot""".stripMargin,
    // twin of [[graft.ops.Curation.qualityCurve]] — the distilled scorer's
    // CTEs + a threshold-grid VALUES frame, one conditional count per
    // threshold; every output an exact integer
    "ops_quality_curve" ->
      s"""WITH $qualityCurveCtes
         |SELECT CAST(threshold AS BIGINT) AS threshold,
         |  CAST(k AS BIGINT) AS n_kept, CAST(n AS BIGINT) AS n_total,
         |  CAST(k * 1000 // n AS BIGINT) AS yield_permille
         |FROM c""".stripMargin,
    // twin of [[graft.ops.Curation.qualityChoose]] — the SAME curve CTEs
    // (shared body, like ops_ivf_choose), the decision = the highest
    // threshold meeting the yield floor
    "ops_quality_choose" ->
      s"""WITH $qualityCurveCtes
         |SELECT CAST(threshold AS BIGINT) AS threshold,
         |  CAST(k AS BIGINT) AS n_kept, CAST(n AS BIGINT) AS n_total,
         |  CAST(k * 1000 // n AS BIGINT) AS yield_permille
         |FROM c WHERE k * 1000 // n >= 500
         |ORDER BY threshold DESC LIMIT 1""".stripMargin,
    // twin of [[graft.ops.Curation.mixSolve]] — water-filling feasible mix
    // at epochs <= 1: the binding domain sets the scale, all integer
    "ops_mix_solve" -> {
      val wVals = Curation.MixWeightsPermille
        .map { case (l, w) => s"('$l', $w)" }.mkString(", ")
      s"""WITH per AS (
         |  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |  FROM documents GROUP BY lang),
         |w(lang, wp) AS (VALUES $wVals),
         |j AS (SELECT per.lang, n_docs, n_tokens, wp,
         |        n_tokens * 1000 // wp AS cap
         |      FROM per JOIN w ON per.lang = w.lang),
         |s AS (SELECT MIN(cap) AS feasible FROM j)
         |SELECT lang, n_docs, n_tokens, CAST(wp AS BIGINT) AS weight_permille,
         |  CAST(feasible AS BIGINT) AS feasible_tokens,
         |  CAST(wp * feasible // 1000 AS BIGINT) AS take_tokens,
         |  CAST((wp * feasible // 1000) * 1000 // n_tokens AS BIGINT) AS rate_permille,
         |  CAST(CASE WHEN cap = feasible THEN 1 ELSE 0 END AS BIGINT) AS binding
         |FROM j, s""".stripMargin
    },
    // twin of [[graft.ops.Curation.trainPrepMeasured]] — the MEASURED
    // pipeline end to end in one SQL body: the shared distilled-score
    // CTEs choose the gate threshold (yield floor 300‰, strictest
    // eligible), the gated+deduped inventory water-fills the mix rates
    // (adaptive: absent domains drop out via the inner join), membership
    // is the seeded h60 hash, and the packing CTEs are ops_train_prep's.
    // Every decision input is an exact integer, so the WHOLE composition
    // — decisions included — sits behind one hash gate.
    "ops_train_prep_measured" -> {
      val wVals = Curation.MixWeightsPermille
        .map { case (l, w) => s"('$l', $w)" }.mkString(", ")
      s"""WITH $qualityCurveCtes,
         |zz AS (SELECT doc_id, $distilledZExpr AS z FROM f),
         |t AS (SELECT threshold FROM c WHERE k * 1000 // n >= 300
         |      ORDER BY threshold DESC LIMIT 1),
         |gated AS (SELECT d.doc_id, d.lang, d.text
         |          FROM documents d JOIN zz ON zz.doc_id = d.doc_id, t
         |          WHERE zz.z > t.threshold),
         |ded AS (SELECT doc_id, lang, text FROM gated
         |        QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
         |inv AS (SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
         |        FROM ded GROUP BY lang),
         |w(lang, wp) AS (VALUES $wVals),
         |j AS (SELECT inv.lang, n_tokens, wp, n_tokens * 1000 // wp AS cap
         |      FROM inv JOIN w ON inv.lang = w.lang),
         |s AS (SELECT MIN(cap) AS feasible FROM j),
         |r AS (SELECT lang, (wp * feasible // 1000) * 1000 // n_tokens AS rate
         |      FROM j, s),
         |sel AS (SELECT ded.doc_id, ded.lang, ded.text
         |        FROM ded JOIN r ON ded.lang = r.lang
         |        WHERE ${h60sql("'mixsel:' || ded.doc_id")} % 1000 < r.rate),
         |base AS (
         |  SELECT doc_id, lang, doc_id % 8 AS shard,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
         |  FROM sel),
         |loc AS (
         |  SELECT doc_id, lang, shard, n_tokens,
         |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS local_prev
         |  FROM base),
         |off AS (
         |  SELECT lang, shard,
         |    COALESCE(SUM(SUM(n_tokens)) OVER (PARTITION BY lang ORDER BY shard
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS shard_offset
         |  FROM base GROUP BY lang, shard)
         |SELECT loc.lang, CAST((off.shard_offset + loc.local_prev) // 2048 AS BIGINT) AS bin,
         |  COUNT(*) AS n_docs, CAST(SUM(loc.n_tokens) AS BIGINT) AS n_tokens
         |FROM loc JOIN off ON loc.lang = off.lang AND loc.shard = off.shard
         |GROUP BY 1, 2""".stripMargin
    },
    // URL canonicalization dedup: identical synthesis + regex chain as
    // Curation.urlDedup (RE2-safe patterns, 'g' flag = Spark's replace-all).
    "ops_url_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 3 = 1 THEN 'HTTP://' ELSE 'https://' END) ||
        |    (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) ||
        |    source || '.example.com/' || lang || '/page-' ||
        |    CAST(doc_id % 40 AS VARCHAR) ||
        |    (CASE WHEN doc_id % 2 = 1 AND doc_id % 5 = 0 THEN '/' ELSE '' END) ||
        |    (CASE WHEN doc_id % 2 = 0 AND doc_id % 4 = 0
        |          THEN '?id=7&utm_source=feed&utm_campaign=x'
        |          WHEN doc_id % 2 = 0 THEN '?utm_source=feed&utm_campaign=x'
        |          ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    regexp_replace(regexp_replace(lower(url),
        |    '#.*', '', 'g'), 'utm_[^&#]*&', '', 'g'), '[?&]utm_[^&#]*', '', 'g'),
        |    '^https?://', '', 'g'), '^www\.', '', 'g'), '/$', '', 'g')
        |    AS canonical_url
        |  FROM u)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(doc_id) AS keeper_doc_id
        |FROM c GROUP BY 1""".stripMargin,
    // Preference pairs: k-th best vs k-th worst per lang stratum by integer
    // bigram-uniqueness score; both rank orders and the DIV formula pinned
    // to Curation.prefPairs.
    "ops_pref_pairs" ->
      """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
        |s AS (
        |  SELECT doc_id, lang,
        |    (CAST(len(list_distinct(bg)) AS BIGINT) * 1000000) // len(bg) AS score_micro
        |  FROM (SELECT doc_id, lang,
        |          list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS bg
        |        FROM t WHERE len(tk) >= 2)),
        |top AS (SELECT lang, doc_id, score_micro,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score_micro DESC, doc_id) AS k FROM s),
        |bot AS (SELECT lang, doc_id, score_micro,
        |  ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score_micro ASC, doc_id DESC) AS k FROM s),
        |n AS (SELECT lang, count(*) AS n FROM s GROUP BY lang)
        |SELECT top.lang, CAST(top.k AS BIGINT) AS k,
        |  top.doc_id AS chosen_doc, bot.doc_id AS rejected_doc,
        |  top.score_micro - bot.score_micro AS margin_micro
        |FROM top JOIN bot ON top.lang = bot.lang AND top.k = bot.k
        |JOIN n ON n.lang = top.lang
        |WHERE top.k * 2 <= n.n AND top.score_micro > bot.score_micro""".stripMargin,
    // Span corruption: seeded grid (offset = h60(doc_id) % 20 + 1, one
    // 3-token span per 20), pinned to Curation.spanCorruption defaults.
    "ops_span_corrupt" ->
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${h60sql("CAST(doc_id AS VARCHAR)")} % 20 + 1 AS off
         |  FROM documents)
         |SELECT doc_id, n_tokens, unnest(range(0, (n_tokens - off - 2) // 20 + 1)) AS span_idx,
         |  off + unnest(range(0, (n_tokens - off - 2) // 20 + 1)) * 20 AS start,
         |  CAST(3 AS BIGINT) AS span_len
         |FROM d WHERE off + 2 <= n_tokens""".stripMargin,
    "ops_train_prep" ->
      """WITH sc AS (
        |  SELECT doc_id, lang, text,
        |    len(string_split(text, ' ')) AS nw,
        |    length(replace(text, ' ', '')) AS nc,
        |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS nsym,
        |    length(text) AS tlen,
        |    list_has_any(string_split(text, ' '), ['the','and','of','to','a']) AS has_stop,
        |    string_split(text, ' ') AS t
        |  FROM documents),
        |sc2 AS (
        |  SELECT doc_id, lang, text,
        |    (CASE WHEN nw < 20 OR nw > 2000 THEN 1 ELSE 0 END
        |   + CASE WHEN nc < nw * 3 OR nc > nw * 12 THEN 2 ELSE 0 END
        |   + CASE WHEN nsym * 10 > tlen THEN 4 ELSE 0 END
        |   + CASE WHEN NOT has_stop THEN 8 ELSE 0 END
        |   + CASE WHEN (len(list_transform(range(1, nw), i -> t[i] || ' ' || t[i+1]))
        |              - len(list_distinct(list_transform(range(1, nw), i -> t[i] || ' ' || t[i+1])))) * 5
        |              > len(list_transform(range(1, nw), i -> t[i] || ' ' || t[i+1]))
        |     THEN 16 ELSE 0 END) AS bm
        |  FROM sc),
        |ded AS (
        |  SELECT doc_id, lang, text FROM sc2 WHERE bm = 0
        |  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1),
        |base AS (
        |  SELECT doc_id, lang, doc_id % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM ded),
        |loc AS (
        |  SELECT doc_id, lang, shard, n_tokens,
        |    COALESCE(SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS local_prev
        |  FROM base),
        |off AS (
        |  SELECT lang, shard,
        |    COALESCE(SUM(SUM(n_tokens)) OVER (PARTITION BY lang ORDER BY shard
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS shard_offset
        |  FROM base GROUP BY lang, shard)
        |SELECT loc.lang, CAST((off.shard_offset + loc.local_prev) // 2048 AS BIGINT) AS bin,
        |  COUNT(*) AS n_docs, CAST(SUM(loc.n_tokens) AS BIGINT) AS n_tokens
        |FROM loc JOIN off ON loc.lang = off.lang AND loc.shard = off.shard
        |GROUP BY 1, 2""".stripMargin,
    "ops_filter_attrib" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |aug AS (
        |  SELECT text FROM base
        |  UNION ALL SELECT text || repeat(' #$%!', length(text)//20 + 1)
        |    FROM base WHERE doc_id % 97 = 0
        |  UNION ALL SELECT trim(repeat('spam ham ', 1100))
        |    FROM base WHERE doc_id % 89 = 0
        |  UNION ALL SELECT 'tiny doc' FROM base WHERE doc_id % 83 = 0
        |  UNION ALL SELECT trim(repeat('pneumonoultramicroscopicsilicovolcanoconiosis ', 30))
        |    FROM base WHERE doc_id % 79 = 0
        |  UNION ALL SELECT trim(repeat('a ', 40)) FROM base WHERE doc_id % 73 = 0),
        |sc AS (
        |  SELECT
        |    len(string_split(text, ' ')) AS nw,
        |    length(replace(text, ' ', '')) AS nc,
        |    length(text) - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g')) AS nsym,
        |    length(text) AS tlen,
        |    list_has_any(string_split(text, ' '), ['the','and','of','to','a']) AS has_stop,
        |    string_split(text, ' ') AS t
        |  FROM aug),
        |sc2 AS (
        |  SELECT nw, nc, nsym, tlen, has_stop,
        |    len(list_transform(range(1, nw), i -> t[i] || ' ' || t[i+1])) AS nb,
        |    len(list_distinct(list_transform(range(1, nw), i -> t[i] || ' ' || t[i+1]))) AS nd
        |  FROM sc),
        |m AS (
        |  SELECT (CASE WHEN nw < 20 OR nw > 2000 THEN 1 ELSE 0 END
        |        + CASE WHEN nc < nw * 3 OR nc > nw * 12 THEN 2 ELSE 0 END
        |        + CASE WHEN nsym * 10 > tlen THEN 4 ELSE 0 END
        |        + CASE WHEN NOT has_stop THEN 8 ELSE 0 END
        |        + CASE WHEN (nb - nd) * 5 > nb THEN 16 ELSE 0 END) AS bm
        |  FROM sc2)
        |SELECT CAST(bm AS BIGINT) AS bitmask,
        |  CAST(bit_count(CAST(bm AS BIGINT)) AS BIGINT) AS n_rules_failed,
        |  COUNT(*) AS n_docs
        |FROM m GROUP BY 1, 2""".stripMargin,
    "ops_repetition" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |b AS (SELECT doc_id, list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) AS bg
        |      FROM t WHERE len(tk) >= 2)
        |SELECT doc_id, CAST(len(bg) AS BIGINT) AS n_bigrams,
        |  round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE) / CAST(len(bg) AS DOUBLE), 6) AS dup_bigram_ratio
        |FROM b""".stripMargin,
    "ops_media_dedup" ->
      """WITH m AS (
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |              WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |              ELSE 'video/mp4' END AS media_type,
        |    md5(text) AS digest,
        |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |  FROM documents)
        |SELECT media_type, digest, COUNT(*) AS ref_count,
        |  CAST(MAX(n_bytes) AS BIGINT) AS n_bytes,
        |  CAST((COUNT(*) - 1) * MAX(n_bytes) AS BIGINT) AS saved_bytes
        |FROM m GROUP BY media_type, digest""".stripMargin,
    "ops_media_meta" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS media_type,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  CAST((CAST(octet_length(encode(text)) AS BIGINT) * 7919) % 1024 AS INT) AS width,
        |  CAST((CAST(octet_length(encode(text)) AS BIGINT) * 104729) % 768 AS INT) AS height,
        |  md5(text) AS checksum
        |FROM documents""".stripMargin,
    // twin of [[graft.ops.Multimodal.pngDecodeDf]]: the Spark side decodes
    // REAL PNG bytes with javax.imageio; this oracle recomputes the same
    // pixel model (w,h in [8,24), gray(x,y) = (id*31+7x+13y) mod 256) in
    // pure SQL — agreement proves the encode→DEFLATE→decode round-trip
    // preserved every pixel. doc_id >= 0 so % is the true mod.
    "ops_png_decode" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 16 AS INT) AS width,
        |    CAST(8 + (doc_id // 16) % 16 AS INT) AS height
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.width, d.height,
        |    (d.doc_id * 31 + 7 * xs.x + 13 * ys.y) % 256 AS g
        |  FROM dims d,
        |       LATERAL (SELECT unnest(range(0, d.width)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, d.height)) AS y) ys)
        |SELECT doc_id, width, height,
        |  CAST(SUM(g) AS BIGINT) AS pixel_sum,
        |  CAST(doc_id * 31 % 256 AS INT) AS px_first,
        |  CAST((doc_id * 31 + 7 * (width - 1) + 13 * (height - 1)) % 256 AS INT) AS px_last
        |FROM px GROUP BY doc_id, width, height""".stripMargin,
    // twin of [[graft.ops.Multimodal.pngThumbFeatures]]: Spark runs
    // encode → decode → nearest-neighbor 8×8 scale → RE-encode → decode
    // (two real codec passes); the oracle recomputes the thumbnail pixels
    // as gray(id, (x*w)//8, (y*h)//8) in SQL.
    "ops_png_resize" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(8 + (doc_id // 16) % 16 AS BIGINT) AS h
        |  FROM documents),
        |px AS (
        |  SELECT d.doc_id, d.w, d.h,
        |    (d.doc_id * 31 + 7 * ((xs.x * d.w) // 8) + 13 * ((ys.y * d.h) // 8)) % 256 AS g
        |  FROM dims d,
        |       LATERAL (SELECT unnest(range(0, 8)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, 8)) AS y) ys)
        |SELECT doc_id, CAST(8 AS INT) AS width, CAST(8 AS INT) AS height,
        |  CAST(SUM(g) AS BIGINT) AS pixel_sum,
        |  CAST(doc_id * 31 % 256 AS INT) AS px_first,
        |  CAST((doc_id * 31 + 7 * ((7 * w) // 8) + 13 * ((7 * h) // 8)) % 256 AS INT) AS px_last
        |FROM px GROUP BY doc_id, w, h""".stripMargin,
    // twin of [[graft.ops.Multimodal.imagePhashPairs]]: Spark decodes the
    // REAL PNGs and dHashes the decoded rasters, collapses identical
    // fingerprints to classes, then Hamming-bands the classes (4×14 bits —
    // lossless at maxHamming 3 by pigeonhole); the oracle recomputes the
    // 56-bit dHash from the closed-form thumbnail model and brute-forces
    // CLASS pairs + within-class stars — agreement proves codec fidelity,
    // banding losslessness, and the exact star factorization.
    "ops_image_phash" ->
      """WITH dims AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(8 + (doc_id // 16) % 16 AS BIGINT) AS h
        |  FROM documents),
        |bits AS (
        |  SELECT d.doc_id,
        |    CAST(SUM(CASE WHEN
        |        (d.doc_id * 31 + 7 * (((xs.x + 1) * d.w) // 8) + 13 * ((ys.y * d.h) // 8)) % 256
        |      > (d.doc_id * 31 + 7 * ((xs.x * d.w) // 8) + 13 * ((ys.y * d.h) // 8)) % 256
        |      THEN CAST(1 AS BIGINT) << CAST(ys.y * 7 + xs.x AS INTEGER)
        |      ELSE 0 END) AS BIGINT) AS phash
        |  FROM dims d,
        |       LATERAL (SELECT unnest(range(0, 7)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, 8)) AS y) ys
        |  GROUP BY d.doc_id),
        |cls AS (SELECT phash, MIN(doc_id) AS rep FROM bits GROUP BY phash),
        |cross_p AS (
        |  SELECT a.rep AS doc_a, b.rep AS doc_b,
        |    CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
        |  FROM cls a JOIN cls b ON a.rep < b.rep
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3),
        |star AS (
        |  SELECT c.rep AS doc_a, b.doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
        |  FROM bits b JOIN cls c ON b.phash = c.phash AND b.doc_id <> c.rep)
        |SELECT * FROM cross_p UNION ALL SELECT * FROM star""".stripMargin,
    // twin of [[graft.ops.Multimodal.imagePhashClusters]]: the SAME pair
    // graph as ops_image_phash, closed transitively (recursive CTE) to the
    // min reachable id — the ops_dedup_cc formulation over the visual graph.
    "ops_phash_cc" ->
      """WITH RECURSIVE dims AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(8 + (doc_id // 16) % 16 AS BIGINT) AS h
        |  FROM documents),
        |bits AS (
        |  SELECT d.doc_id,
        |    CAST(SUM(CASE WHEN
        |        (d.doc_id * 31 + 7 * (((xs.x + 1) * d.w) // 8) + 13 * ((ys.y * d.h) // 8)) % 256
        |      > (d.doc_id * 31 + 7 * ((xs.x * d.w) // 8) + 13 * ((ys.y * d.h) // 8)) % 256
        |      THEN CAST(1 AS BIGINT) << CAST(ys.y * 7 + xs.x AS INTEGER)
        |      ELSE 0 END) AS BIGINT) AS phash
        |  FROM dims d,
        |       LATERAL (SELECT unnest(range(0, 7)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, 8)) AS y) ys
        |  GROUP BY d.doc_id),
        |cls AS (SELECT phash, MIN(doc_id) AS rep FROM bits GROUP BY phash),
        |pairs AS (
        |  SELECT a.rep AS doc_a, b.rep AS doc_b
        |  FROM cls a JOIN cls b ON a.rep < b.rep
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |  UNION ALL
        |  SELECT c.rep, b.doc_id
        |  FROM bits b JOIN cls c ON b.phash = c.phash AND b.doc_id <> c.rep),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |walk(doc_id, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src)
        |SELECT doc_id, MIN(reach) AS comp FROM walk GROUP BY doc_id""".stripMargin,
    // twin of [[graft.SparkEntry.opsCcAudit]]: the SAME recursive closure,
    // reduced to the vertex/component census, with the invariant-violation
    // sum pinned to zero — the oracle certifying the audit harness that
    // REPLACES the oracle at x100 (where this CTE OOMs, BASELINE.md r8/r9)
    "ops_cc_audit" ->
      """WITH RECURSIVE dims AS (
        |  SELECT doc_id,
        |    CAST(8 + doc_id % 16 AS BIGINT) AS w,
        |    CAST(8 + (doc_id // 16) % 16 AS BIGINT) AS h
        |  FROM documents),
        |bits AS (
        |  SELECT d.doc_id,
        |    CAST(SUM(CASE WHEN
        |        (d.doc_id * 31 + 7 * (((xs.x + 1) * d.w) // 8) + 13 * ((ys.y * d.h) // 8)) % 256
        |      > (d.doc_id * 31 + 7 * ((xs.x * d.w) // 8) + 13 * ((ys.y * d.h) // 8)) % 256
        |      THEN CAST(1 AS BIGINT) << CAST(ys.y * 7 + xs.x AS INTEGER)
        |      ELSE 0 END) AS BIGINT) AS phash
        |  FROM dims d,
        |       LATERAL (SELECT unnest(range(0, 7)) AS x) xs,
        |       LATERAL (SELECT unnest(range(0, 8)) AS y) ys
        |  GROUP BY d.doc_id),
        |cls AS (SELECT phash, MIN(doc_id) AS rep FROM bits GROUP BY phash),
        |pairs AS (
        |  SELECT a.rep AS doc_a, b.rep AS doc_b
        |  FROM cls a JOIN cls b ON a.rep < b.rep
        |  WHERE bit_count(xor(a.phash, b.phash)) <= 3
        |  UNION ALL
        |  SELECT c.rep, b.doc_id
        |  FROM bits b JOIN cls c ON b.phash = c.phash AND b.doc_id <> c.rep),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |walk(doc_id, reach) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT w.doc_id, e.dst FROM walk w JOIN edges e ON w.reach = e.src),
        |lab AS (SELECT doc_id, MIN(reach) AS comp FROM walk GROUP BY doc_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS vertices,
        |  CAST(COUNT(DISTINCT comp) AS BIGINT) AS components,
        |  CAST(0 AS BIGINT) AS violations
        |FROM lab""".stripMargin,
    // twin of [[graft.ops.Multimodal.gifFramesDf]]: Spark encodes REAL
    // animated GIFs (indexed identity-gray palette — lossless by
    // construction) and samples every 2nd frame through ImageIO's indexed
    // reader; the oracle recomputes the closed-form frame model
    // g(id,f,x,y) = (id*31 + 29f + 7x + 13y) mod 256.
    "ops_gif_frames" ->
      """WITH v AS (
        |  SELECT doc_id, 2 + doc_id % 7 AS nf, 8 + doc_id % 8 AS w
        |  FROM documents),
        |fr AS (SELECT doc_id, w, unnest(range(0, nf, 2)) AS f FROM v),
        |px AS (
        |  SELECT fr.doc_id, fr.w, fr.f,
        |    (fr.doc_id * 31 + 29 * fr.f + 7 * x.x + 13 * y.y) % 256 AS g
        |  FROM fr,
        |       LATERAL (SELECT unnest(range(0, fr.w)) AS x) x,
        |       LATERAL (SELECT unnest(range(0, 8)) AS y) y)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx, CAST(w AS INT) AS width,
        |  CAST(SUM(g) AS BIGINT) AS gray_sum
        |FROM px GROUP BY doc_id, f, w""".stripMargin,
    // twin of [[graft.ops.Multimodal.gifPhashDf]]: Spark computes per-frame
    // dHash from REAL decoded GIF frames; the oracle recomputes the
    // gradient-sign bits from the closed-form model (thumb(x,y) =
    // g(id, f, x*w div 8, y) — height is already 8).
    "ops_gif_phash" ->
      """WITH v AS (
        |  SELECT doc_id, 2 + doc_id % 7 AS nf, 8 + doc_id % 8 AS w
        |  FROM documents),
        |fr AS (SELECT doc_id, w, unnest(range(0, nf, 2)) AS f FROM v)
        |SELECT doc_id, CAST(f AS INT) AS frame_idx,
        |  CAST(COALESCE(SUM(CASE WHEN
        |      (doc_id * 31 + 29 * f + 7 * (((x.x + 1) * w) // 8) + 13 * y.y) % 256 >
        |      (doc_id * 31 + 29 * f + 7 * ((x.x * w) // 8) + 13 * y.y) % 256
        |    THEN CAST(1 AS BIGINT) << (y.y * 7 + x.x) ELSE 0 END), 0) AS BIGINT) AS phash
        |FROM fr,
        |     LATERAL (SELECT unnest(range(0, 7)) AS x) x,
        |     LATERAL (SELECT unnest(range(0, 8)) AS y) y
        |GROUP BY doc_id, f""".stripMargin,
    // twin of [[graft.ops.Multimodal.wavDecodeDf]]: Spark decodes REAL
    // RIFF/WAVE PCM via javax.sound.sampled; the oracle recomputes the
    // sample model (n = 64 + id%64 frames, s_i = (id*131+17i) mod 65536
    // - 32768) in SQL.
    "ops_wav_decode" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(64 + doc_id % 64 AS BIGINT) AS n_frames
        |  FROM documents),
        |s AS (
        |  SELECT f.doc_id, f.n_frames,
        |    (f.doc_id * 131 + 17 * i.i) % 65536 - 32768 AS samp
        |  FROM f, LATERAL (SELECT unnest(range(0, f.n_frames)) AS i) i)
        |SELECT doc_id, n_frames, CAST(8000 AS INT) AS sample_rate,
        |  CAST(SUM(samp) AS BIGINT) AS amp_sum,
        |  CAST(MAX(samp) AS INT) AS amp_max
        |FROM s GROUP BY doc_id, n_frames""".stripMargin,
    // twin of [[graft.ops.Multimodal.wavFingerprintDf]]: Spark computes the
    // 31-bit energy-envelope fingerprint from REAL javax.sound-decoded PCM;
    // the oracle recomputes it from the closed-form sample model — 32 time
    // bands (band = i*32 div n, all non-empty since n >= 64), band loudness
    // Σ|s|, bit f = loudness(f+1) > loudness(f) via LEAD.
    "ops_audio_fp" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(64 + doc_id % 64 AS BIGINT) AS n
        |  FROM documents),
        |s AS (
        |  SELECT f.doc_id, f.n, i.i,
        |    (f.doc_id * 131 + 17 * i.i) % 65536 - 32768 AS samp
        |  FROM f, LATERAL (SELECT unnest(range(0, f.n)) AS i) i),
        |e AS (
        |  SELECT doc_id, n, i * 32 // n AS band, SUM(ABS(samp)) AS energy
        |  FROM s GROUP BY doc_id, n, band),
        |g AS (
        |  SELECT doc_id, n, band, energy,
        |    LEAD(energy) OVER (PARTITION BY doc_id ORDER BY band) AS nxt
        |  FROM e)
        |SELECT doc_id, n AS n_frames,
        |  CAST(COALESCE(SUM(CASE WHEN nxt > energy
        |    THEN CAST(1 AS BIGINT) << band ELSE 0 END), 0) AS BIGINT) AS afp
        |FROM g GROUP BY doc_id, n""".stripMargin,
    // twin of [[graft.ops.Multimodal.audioFpPairs]]: Spark bands DISTINCT
    // fingerprints (4 bands over 31 bits — pigeonhole-lossless at Hamming
    // <= 3) after exact-dup class collapse; the oracle brute-forces the
    // class pairs (equivalent BY the pigeonhole argument) and rebuilds the
    // same within-class star factorization.
    "ops_audio_pairs" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(64 + doc_id % 64 AS BIGINT) AS n
        |  FROM documents),
        |s AS (
        |  SELECT f.doc_id, f.n, i.i,
        |    (f.doc_id * 131 + 17 * i.i) % 65536 - 32768 AS samp
        |  FROM f, LATERAL (SELECT unnest(range(0, f.n)) AS i) i),
        |e AS (
        |  SELECT doc_id, n, i * 32 // n AS band, SUM(ABS(samp)) AS energy
        |  FROM s GROUP BY doc_id, n, band),
        |g AS (
        |  SELECT doc_id, band, energy,
        |    LEAD(energy) OVER (PARTITION BY doc_id ORDER BY band) AS nxt
        |  FROM e),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(COALESCE(SUM(CASE WHEN nxt > energy
        |      THEN CAST(1 AS BIGINT) << band ELSE 0 END), 0) AS BIGINT) AS afp
        |  FROM g GROUP BY doc_id),
        |cls AS (SELECT afp, MIN(doc_id) AS rep FROM fp GROUP BY afp),
        |cross_p AS (
        |  SELECT a.rep AS doc_a, b.rep AS doc_b,
        |    CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
        |  FROM cls a JOIN cls b ON a.rep < b.rep
        |  WHERE bit_count(xor(a.afp, b.afp)) <= 3),
        |star AS (
        |  SELECT c.rep AS doc_a, p.doc_id AS doc_b, CAST(0 AS BIGINT) AS hamming
        |  FROM fp p JOIN cls c ON p.afp = c.afp AND p.doc_id <> c.rep)
        |SELECT * FROM cross_p UNION ALL SELECT * FROM star""".stripMargin,
    "ops_media_frames" ->
      """WITH v AS (
        |  SELECT doc_id, md5(text) AS chk,
        |    CAST(octet_length(encode(text)) % 30 + 1 AS INT) AS n_frames
        |  FROM documents WHERE doc_id % 3 = 2),
        |f AS (SELECT doc_id, chk, unnest(range(0, n_frames, 4)) AS frame_idx FROM v)
        |SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
        |  CAST(frame_idx * 100 AS BIGINT) AS frame_ms,
        |  md5(chk || ':' || CAST(frame_idx AS VARCHAR)) AS frame_hash
        |FROM f""".stripMargin,
    // twin of [[graft.ops.Dedup.containmentDf]] — same index/pair CTEs as
    // ops_ngram_jaccard, asymmetric ratios instead of the union ratio.
    "ops_containment" ->
      s"""WITH $shinglesCte,
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |hs AS (SELECT doc_id, ${h60sql("shingle")} AS h FROM sh),
         |shared AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared
         |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id)
         |SELECT doc_a, doc_b, n_shared,
         |  round(CAST(n_shared AS DOUBLE) / na.n_sh, 6) AS cont_a,
         |  round(CAST(n_shared AS DOUBLE) / nb.n_sh, 6) AS cont_b
         |FROM shared
         |JOIN sizes na ON na.doc_id = doc_a
         |JOIN sizes nb ON nb.doc_id = doc_b
         |WHERE greatest(CAST(n_shared AS DOUBLE) / na.n_sh,
         |               CAST(n_shared AS DOUBLE) / nb.n_sh) >= 0.5""".stripMargin,
    // twin of [[graft.ops.TextStats.skipgramPmi]]: the oracle generates
    // pairs by positional self-join (the Spark side folds them in-row —
    // identical pair multiset); HUGEINT guards cxy·T and cx·cy.
    "ops_skipgram_pmi" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
        |pos AS (SELECT doc_id, generate_subscripts(tk, 1) AS i, unnest(tk) AS tok FROM t),
        |pairs AS (
        |  SELECT p1.tok AS x, p2.tok AS y
        |  FROM pos p1 JOIN pos p2
        |    ON p1.doc_id = p2.doc_id AND p2.i - p1.i BETWEEN 1 AND 2),
        |pc AS (SELECT x, y, COUNT(*) AS cxy FROM pairs GROUP BY x, y),
        |uni AS (SELECT tok AS w, COUNT(*) AS cw FROM pos GROUP BY tok),
        |tot AS (SELECT CAST(SUM(len(tk)) AS BIGINT) AS t_tokens FROM t)
        |SELECT x, y, cxy, ux.cw AS cx, uy.cw AS cy,
        |  CAST(CAST(cxy AS HUGEINT) * t_tokens * 1000
        |       // (CAST(ux.cw AS HUGEINT) * uy.cw) AS BIGINT) AS pmi_ratio_milli
        |FROM pc
        |JOIN uni ux ON pc.x = ux.w
        |JOIN uni uy ON pc.y = uy.w
        |CROSS JOIN tot
        |WHERE cxy >= 5
        |ORDER BY pmi_ratio_milli DESC, x, y LIMIT 50""".stripMargin,
    // twin of [[graft.ops.TextStats.tokenEntropy]]: both engines fold
    // c*ln(c) LEFT-TO-RIGHT over the ascending-sorted count list, so the
    // float accumulation sequence is identical (list_reduce seeds with the
    // first element, so the transformed list is folded, not the raw counts).
    "ops_entropy" ->
      s"""WITH toks AS (
         |  SELECT doc_id, ${h60sql("tok")} AS h
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)),
         |cnt AS (SELECT doc_id, h, COUNT(*) AS c FROM toks GROUP BY doc_id, h),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |    CAST(COUNT(*) AS BIGINT) AS n_types,
         |    list_sort(list(CAST(c AS DOUBLE))) AS cs
         |  FROM cnt GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_types,
         |  round(ln(CAST(n_tokens AS DOUBLE)) -
         |    list_reduce(list_transform(cs, c -> c * ln(c)), (a, b) -> a + b)
         |      / CAST(n_tokens AS DOUBLE), 6) AS entropy
         |FROM agg""".stripMargin,
    // twin of [[graft.ops.TextStats.bm25Search]] — the scoring chain lives
    // in [[OracleFrags.bm25Cte]], shared with ops_hybrid_rrf.
    "ops_bm25" ->
      s"""WITH ${bm25Cte(None)}
        |SELECT doc_id, COUNT(*) AS n_terms, CAST(SUM(c_micro) AS BIGINT) AS score_micro
        |FROM c GROUP BY doc_id
        |ORDER BY score_micro DESC, doc_id LIMIT 20""".stripMargin,
    // twin of [[graft.ops.Similarity.hybridRrf]]. The BM25 chain is
    // [[OracleFrags.bm25Cte]] with doc 0 excluded from the corpus (it plays
    // the query role, so the stats shift with it — mirroring
    // bm25Search(exclude)); the dense side is ops_sim_topk's. RRF fuses the
    // two 50-deep rank lists in integer parts-per-billion (`//` = DuckDB
    // BIGINT division, `div` on the Spark side), rank sentinel 0 = ranker
    // miss contributes nothing.
    "ops_hybrid_rrf" ->
      s"""WITH ${bm25Cte(Some(Similarity.RrfQueryId))},
        |sp AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id) AS r_sparse
        |  FROM (SELECT doc_id, CAST(SUM(c_micro) AS BIGINT) AS score_micro
        |        FROM c GROUP BY doc_id
        |        ORDER BY score_micro DESC, doc_id LIMIT ${Similarity.RrfN})),
        |e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = ${Similarity.RrfQueryId}),
        |dn AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos_sim DESC, doc_id) AS r_dense
        |  FROM (SELECT vec_id AS doc_id, round(${cosineSql("v", "qv")}, 6) AS cos_sim
        |        FROM e, q WHERE vec_id <> ${Similarity.RrfQueryId}
        |        ORDER BY cos_sim DESC, doc_id LIMIT ${Similarity.RrfN})),
        |f AS (
        |  SELECT COALESCE(sp.doc_id, dn.doc_id) AS doc_id,
        |    CAST(COALESCE(r_sparse, 0) AS BIGINT) AS r_sparse,
        |    CAST(COALESCE(r_dense, 0) AS BIGINT) AS r_dense
        |  FROM sp FULL OUTER JOIN dn ON sp.doc_id = dn.doc_id)
        |SELECT doc_id, r_sparse, r_dense,
        |  CAST(CASE WHEN r_sparse > 0 THEN 1000000000 // (${Similarity.RrfK0} + r_sparse) ELSE 0 END
        |     + CASE WHEN r_dense > 0 THEN 1000000000 // (${Similarity.RrfK0} + r_dense) ELSE 0 END
        |   AS BIGINT) AS rrf_ppb
        |FROM f
        |ORDER BY rrf_ppb DESC, doc_id LIMIT ${Similarity.RrfK}""".stripMargin,

    // twin of [[graft.ops.BloomMembership.bloomNovel]] — the bloom only
    // routes shingles between "settled at scan" and "settled by anti-join",
    // so the oracle is the plain exact novelty count
    "ops_bloom_novel" ->
      s"""WITH $shinglesCte,
         |corpus AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 <> 0),
         |batch AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 = 0)
         |SELECT b.doc_id, COUNT(*) AS n_shingles,
         |  CAST(SUM(CASE WHEN c.shingle IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |FROM batch b LEFT JOIN corpus c ON b.shingle = c.shingle
         |GROUP BY 1""".stripMargin,
  )
}
