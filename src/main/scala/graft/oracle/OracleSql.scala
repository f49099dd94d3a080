package graft.oracle

/** DuckDB 1.0.0 oracle twins for SparkEntry.oracleSql (SURVEY.md §2).
  * One SQL string per oracle-checked query key; column names/aliases must
  * match the Spark DataFrame exactly (driver sorts columns by name before
  * hashing). Determinism rules per SURVEY §7.4 plus two learned locally:
  *  - money operands cast to DECIMAL(12,2), (1±x) factors to DECIMAL(4,2),
  *    NO scale-reducing cast afterwards (Spark HALF_UP vs DuckDB HALF_EVEN
  *    diverge on .xx50 ties) — outputs widen to DECIMAL(38,s), then cast
  *    ::DOUBLE for the wire (the driver's pandas comparator hashes
  *    float64 on the DuckDB side vs object(Decimal) on the Spark side
  *    otherwise; decimal→double is correctly rounded in both engines);
  *  - array outputs are array_to_string(list_sort(...), ',') — the
  *    comparator's pandas sort_values crashes on ndarray cells;
  *  - (l_orderkey,l_linenumber) is NOT unique in this data, so row-level
  *    lineitem queries ORDER BY every output column.
  */
object OracleSql {
  /** Shared BPE CTE chain (q_text_bpe_train / q_text_bpe_encode):
    * v0 = (seg, freq) vocab; per round k: pair count, argmax, and —
    * when `applyLast` or k < rounds — the separator-string re-segment.
    * Both engines' replace() is left-to-right non-overlapping = BPE's
    * greedy within-word merge order. */
  private def bpeCtes(rounds: Int, applyLast: Boolean): String = {
    val base =
      """WITH v0 AS MATERIALIZED (
        |  SELECT rtrim(regexp_replace(tok, '(.)', '\1;;', 'g'), ';')
        |    AS seg, CAST(COUNT(*) AS BIGINT) AS freq
        |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
        |    FROM documents) t
        |  WHERE regexp_full_match(tok, '[a-z]+') AND length(tok) >= 2
        |  GROUP BY tok)""".stripMargin
    val ctes = (1 to rounds).map { k =>
      val apply =
        if (k == rounds && !applyLast) ""
        else s""",
           |v$k AS MATERIALIZED (SELECT trim(replace(';' || seg || ';',
           |  ';' || (SELECT l FROM b$k) || ';;'
           |    || (SELECT r FROM b$k) || ';',
           |  ';' || (SELECT l FROM b$k) || (SELECT r FROM b$k) || ';'),
           |  ';') AS seg, freq FROM v${k - 1})""".stripMargin
      s"""x$k AS (SELECT string_split(seg, ';;') AS syms, freq
         |  FROM v${k - 1}),
         |p$k AS (SELECT syms[CAST(i.i AS INT)] AS l,
         |  syms[CAST(i.i AS INT) + 1] AS r,
         |  CAST(SUM(freq) AS BIGINT) AS n
         |  FROM x$k, LATERAL (SELECT unnest(range(1, len(syms))) AS i) i
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT l, r, n FROM p$k
         |  ORDER BY n DESC, l, r LIMIT 1)""".stripMargin + apply
    }
    (base +: ctes).mkString("", ",\n", "\n")
  }

  /** Shared perceptual-hash pair CTEs (q_mm_phash /
    * q_mm_phash_cluster): closed-form pixels -> 8x8 sample grid ->
    * integer-mean aHash bits -> four 16-bit bands -> band-join
    * candidates -> exact popcount(XOR) Hamming pairs (<= 6). */
  private val phashPairCtes: String =
    """WITH imgs AS (
      |  SELECT doc_id AS img_id, doc_id AS base, 0 AS tw
      |    FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id + 10000000, doc_id, 1 FROM documents
      |    WHERE doc_id % 3 = 0 AND doc_id % 30 = 0),
      |dims AS (SELECT img_id, base, tw,
      |  CAST(8 + base % 8 AS BIGINT) AS w,
      |  CAST(8 + base % 5 AS BIGINT) AS h FROM imgs),
      |cells AS (SELECT img_id, base, tw, w, h,
      |  CAST(ci // 8 AS BIGINT) AS cy, CAST(ci % 8 AS BIGINT) AS cx
      |  FROM (SELECT *, unnest(range(0, 64)) AS ci FROM dims) t),
      |sv AS (SELECT img_id, cy * 8 + cx AS idx,
      |  ((cy * h) // 8) * w + ((cx * w) // 8) AS i, base, tw
      |  FROM cells),
      |vals AS (SELECT img_id, idx,
      |  CASE WHEN tw = 1 AND i = 0
      |    THEN ((base * 31 + i * 7) % 256 + 128) % 256
      |    ELSE (base * 31 + i * 7) % 256 END AS v FROM sv),
      |means AS (SELECT img_id, SUM(v) // 64 AS m FROM vals
      |  GROUP BY img_id),
      |bandt AS (SELECT v.img_id, CAST(idx // 16 AS INT) AS band,
      |  CAST(SUM(CASE WHEN v > m
      |    THEN (CAST(1 AS BIGINT) << CAST(idx % 16 AS INT))
      |    ELSE 0 END) AS BIGINT) AS bv
      |  FROM vals v JOIN means USING (img_id)
      |  GROUP BY v.img_id, idx // 16),
      |cand AS (SELECT DISTINCT x.img_id AS a, y.img_id AS b
      |  FROM bandt x JOIN bandt y
      |  ON x.band = y.band AND x.bv = y.bv AND x.img_id < y.img_id),
      |ham AS (SELECT a, b,
      |  CAST(SUM(bit_count(xor(ba.bv, bb.bv))) AS BIGINT) AS hamming
      |  FROM cand JOIN bandt ba ON ba.img_id = a
      |  JOIN bandt bb ON bb.img_id = b AND bb.band = ba.band
      |  GROUP BY a, b)""".stripMargin

  /** q_emb_pca's unrolled power-iteration twin (r16, converting the
    * key from oracle-N to oracle-checked). Mirrors DedupSim.embPcaOn
    * step for step:
    *  - exact integer covariance numerator covp = n·S_ij − S_i·S_j
    *    (HUGEINT — scale-invariant under per-step normalization);
    *  - `iters` unrolled matvec rounds, each an order-free HUGEINT
    *    GROUP BY sum, a deterministic norm (list_dot_product over
    *    list(CAST(nv AS DOUBLE) ORDER BY r) — the same lowest-index-
    *    first fold as the Scala loop), and FLOOR(x+0.5) requantization
    *    to the 10⁶-scaled integer iterate;
    *  - every per-round CTE is MATERIALIZED: v_k is referenced by both
    *    nv_{k+1} and its own norm, so inlining would re-expand the
    *    chain exponentially (the kcore lesson);
    *  - λ / trace / loadings / means from exact contractions with the
    *    division order pinned to the Scala side;
    *  - per-row projection folds in position order via
    *    list_dot_product against a ones list, quantized DECIMAL(24,6)
    *    for exact per-label moments. */
  private def pcaSql(iters: Int, dim: Int): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e0 AS MATERIALIZED (SELECT vec_id, label, embedding FROM embeddings),
      |qr AS MATERIALIZED (SELECT vec_id, label, pos,
      |  CAST(ROUND(CAST(embedding[CAST(pos AS INT)] AS DOUBLE) * 1000) AS BIGINT) AS qv
      |  FROM (SELECT vec_id, label, embedding,
      |        unnest(range(1, ${dim + 1})) AS pos FROM e0) t),
      |nrow AS MATERIALIZED (SELECT COUNT(*) AS n FROM e0),
      |sums AS MATERIALIZED (SELECT pos, SUM(qv) AS s FROM qr GROUP BY pos),
      |cp0 AS MATERIALIZED (SELECT a.pos AS r, b.pos AS c,
      |  SUM(CAST(a.qv AS HUGEINT) * b.qv) AS sij
      |  FROM qr a JOIN qr b ON a.vec_id = b.vec_id AND a.pos <= b.pos
      |  GROUP BY 1, 2),
      |covh AS MATERIALIZED (SELECT r, c,
      |  (SELECT CAST(n AS HUGEINT) FROM nrow) * sij
      |    - CAST(sa.s AS HUGEINT) * sb.s AS cv
      |  FROM cp0 JOIN sums sa ON cp0.r = sa.pos
      |  JOIN sums sb ON cp0.c = sb.pos),
      |covp AS MATERIALIZED (SELECT r, c, cv FROM covh
      |  UNION ALL SELECT c AS r, r AS c, cv FROM covh WHERE r <> c),
      |vi0 AS MATERIALIZED (SELECT pos AS c, CAST(125000 AS HUGEINT) AS val FROM sums),
      |""".stripMargin
    for (k <- 1 to iters) {
      sb ++= s"""nv$k AS MATERIALIZED (SELECT cp.r AS r,
        |  SUM(cp.cv * vi${k - 1}.val) AS nvv
        |  FROM covp cp JOIN vi${k - 1} ON cp.c = vi${k - 1}.c GROUP BY cp.r),
        |nl$k AS MATERIALIZED (SELECT sqrt(list_dot_product(l, l)) AS nrm
        |  FROM (SELECT list(CAST(nvv AS DOUBLE) ORDER BY r) AS l FROM nv$k)),
        |vi$k AS MATERIALIZED (SELECT nv$k.r AS c,
        |  CASE WHEN (SELECT nrm FROM nl$k) = 0 THEN p.val
        |    ELSE CAST(FLOOR(CAST(nvv AS DOUBLE) / (SELECT nrm FROM nl$k)
        |      * 1000000 + 0.5) AS HUGEINT) END AS val
        |  FROM nv$k JOIN vi${k - 1} p ON nv$k.r = p.c),
        |""".stripMargin
    }
    sb ++= s"""sg AS MATERIALIZED (SELECT CASE WHEN val < 0 THEN -1 ELSE 1 END AS sgn
      |  FROM vi$iters ORDER BY ABS(val) DESC, c ASC LIMIT 1),
      |vf AS MATERIALIZED (SELECT c, val * (SELECT sgn FROM sg) AS val FROM vi$iters),
      |vsq AS MATERIALIZED (SELECT SUM(val * val) AS vv FROM vf),
      |lm AS MATERIALIZED (SELECT SUM(cp.cv * a.val * b.val) AS lnum
      |  FROM covp cp JOIN vf a ON cp.r = a.c JOIN vf b ON cp.c = b.c),
      |tn AS MATERIALIZED (SELECT SUM(cv) AS tnum FROM covp WHERE r = c),
      |consts AS MATERIALIZED (SELECT
      |  CAST((SELECT lnum FROM lm) AS DOUBLE)
      |    / CAST((SELECT vv FROM vsq) AS DOUBLE)
      |    / (CAST((SELECT n FROM nrow) AS DOUBLE)
      |       * (CAST((SELECT n FROM nrow) AS DOUBLE) - 1))
      |    / 1000000.0 AS lambda,
      |  CAST((SELECT tnum FROM tn) AS DOUBLE)
      |    / (CAST((SELECT n FROM nrow) AS DOUBLE)
      |       * (CAST((SELECT n FROM nrow) AS DOUBLE) - 1))
      |    / 1000000.0 AS tr),
      |wv AS MATERIALIZED (SELECT c AS pos, CAST(val AS DOUBLE)
      |  / sqrt(CAST((SELECT vv FROM vsq) AS DOUBLE)) AS w FROM vf),
      |mu AS MATERIALIZED (SELECT pos, CAST(s AS DOUBLE)
      |  / CAST((SELECT n FROM nrow) AS DOUBLE) / 1000.0 AS m FROM sums),
      |terms AS MATERIALIZED (SELECT qr.vec_id, qr.label, qr.pos,
      |  (CAST(qr.qv AS DOUBLE) / 1000.0 - mu.m) * wv.w AS t
      |  FROM qr JOIN mu ON qr.pos = mu.pos JOIN wv ON qr.pos = wv.pos),
      |proj AS MATERIALIZED (SELECT vec_id, label,
      |  CAST(ROUND(list_dot_product(lt, list_transform(lt, x -> 1.0)), 6)
      |    AS DECIMAL(24,6)) AS p
      |  FROM (SELECT vec_id, label, list(t ORDER BY pos) AS lt
      |        FROM terms GROUP BY vec_id, label) t),
      |agg AS (SELECT label, COUNT(*) AS n_vecs,
      |  CAST(SUM(p) AS DECIMAL(38,6)) AS sp,
      |  CAST(SUM(CAST(p AS DECIMAL(18,6)) * CAST(p AS DECIMAL(18,6)))
      |    AS DECIMAL(38,12)) AS spp
      |  FROM proj GROUP BY label)
      |SELECT label, n_vecs,
      |  ROUND(CAST(sp AS DOUBLE) / n_vecs, 6) AS proj_mean,
      |  CASE WHEN n_vecs > 1 THEN
      |    ROUND(sqrt((CAST(spp AS DOUBLE)
      |      - CAST(sp AS DOUBLE) * CAST(sp AS DOUBLE) / n_vecs)
      |      / (n_vecs - 1)), 6)
      |  END AS proj_sd,
      |  ROUND((SELECT lambda FROM consts), 6) AS pc1_lambda,
      |  ROUND((SELECT lambda FROM consts) / (SELECT tr FROM consts), 6)
      |    AS pc1_var_share
      |FROM agg ORDER BY label""".stripMargin
    sb.toString
  }

  /** Shared md5-MinHash CTE text for q_dedup_near / q_dedup_incr_near
    * (r16, converting both from oracle-N to oracle-checked): given a
    * docs relation exposing (doc_id, text), emits the `<p>sh` (60-bit
    * md5 5-gram shingle hashes, the winnowing idiom), `<p>h` (32-bit
    * masked base), `<p>sig` (the 128 affine-permutation minima),
    * `<p>hs` (distinct shingle-hash sets + sizes for the exact-Jaccard
    * verify) and `<p>band` (32 LSH band hashes, md5 of the
    * comma-joined slots) CTE definitions under prefix `p` — mirroring
    * DedupSim.nearSignatures / nearBands op for op. */
  private def minhashCtes(p: String, rel: String): String = {
    val mins = (0 until 128).map(k =>
      s"MIN(h * ${2L * k + 1} + ${k * 1315423911L}) AS m$k")
      .grouped(4).map(_.mkString(", ")).mkString(",\n|    ")
    val bandCase = (0 until 32).map { b =>
      val m = (b * 4 until b * 4 + 4).map(k => s"m$k")
      s"WHEN $b THEN (((${m(0)} * 31 + ${m(1)}) * 31 + ${m(2)}) * 31 + ${m(3)})"
    }.mkString("\n|      ")
    s"""${p}sh AS MATERIALIZED (SELECT doc_id,
      |  ('0x' || substr(md5(array_to_string(list_slice(parts,
      |    CAST(i AS INT), CAST(i + 4 AS INT)), ' ')), 1, 15))::BIGINT AS sh
      |  FROM (SELECT doc_id, parts, unnest(range(1, len(parts) - 3)) AS i
      |    FROM (SELECT doc_id, string_split(lower(text), ' ') AS parts
      |          FROM $rel) t0) t1),
      |${p}h AS MATERIALIZED (SELECT doc_id, sh, sh & 4294967295 AS h
      |  FROM ${p}sh),
      |${p}sig AS MATERIALIZED (SELECT doc_id,
      |    $mins
      |  FROM ${p}h GROUP BY doc_id),
      |${p}hs AS MATERIALIZED (SELECT doc_id,
      |  list_sort(list_distinct(list(sh))) AS hs,
      |  CAST(COUNT(DISTINCT sh) AS INT) AS n FROM ${p}h GROUP BY doc_id),
      |${p}band AS MATERIALIZED (SELECT doc_id, CAST(bb.band AS INT) AS band,
      |  CASE bb.band
      |      $bandCase
      |    END AS bh
      |  FROM ${p}sig, (SELECT unnest(range(0, 32)) AS band) bb)""".stripMargin
  }

  /** The exact-Jaccard expression over two `<p>hs` aliases — rounded
    * to 6 dp BEFORE the ≥ τ filter, exactly like
    * DedupSim.jaccardVerify. */
  private def jac(a: String, b: String): String =
    s"ROUND(CAST(len(list_intersect($a.hs, $b.hs)) AS DOUBLE) / " +
      s"($a.n + $b.n - len(list_intersect($a.hs, $b.hs))), 6)"

  /** q_dedup_semantic's DuckDB twin (r16, converting the key from
    * oracle-N to oracle-checked after kdQuantize moved to equal-width
    * cuts): replays the corpus+twin build, k = ⌈√N⌉ and the grouped
    * 16-way quantizer rounds (widest dim per list by exact max−min
    * spread, ties lowest dim; bucket = floor((sv−mn)/(mx−mn)·f)
    * clamped, degenerate lists by vec_id mod f — all pinned
    * double/integer arithmetic), the within-list cosine ≥ τ pair
    * enumeration, pointer-doubling connected components (the
    * q_dedup_cluster idiom) and the per-label collapse ledger. Three
    * static quantizer rounds cover bits ≤ 12 (k ≤ 4096, N ≤ ~16.7M
    * vectors — far beyond every swept SF; the Scala side handles any
    * N); a round whose fanout is 1 is a no-op on both sides. */
  /** The 3 static grouped 16-way quantizer round CTEs (mm/wd/a 1..3)
    * over CTEs named `vx` (exploded positions), `a0` (round-0
    * assignment) and `prm` (per-round fanouts f1..f3) — the SQL twin
    * of kdQuantize's equal-width rounds, shared by semanticSql and
    * incrSemanticSql. Covers bits ≤ 12 (k ≤ 4096); a round whose
    * fanout is 1 is a no-op on both sides. */
  private def kdqRoundCtes: String = (1 to 3).map { r =>
    s"""mm$r AS MATERIALIZED (SELECT a.list_id, u.pos,
      |  MIN(u.x) AS mn, MAX(u.x) AS mx
      |  FROM a${r - 1} a JOIN vx u ON a.vec_id = u.vec_id
      |  GROUP BY 1, 2),
      |wd$r AS MATERIALIZED (SELECT list_id, pos, mn, mx FROM (
      |  SELECT list_id, pos, mn, mx, ROW_NUMBER() OVER (
      |    PARTITION BY list_id ORDER BY (mx - mn) DESC, pos ASC) AS rn
      |  FROM mm$r) t WHERE rn = 1),
      |a$r AS MATERIALIZED (SELECT a.vec_id,
      |  a.list_id * (SELECT f$r FROM prm) + CASE
      |    WHEN (SELECT f$r FROM prm) = 1 THEN 0
      |    WHEN w.mx > w.mn THEN LEAST((SELECT f$r FROM prm) - 1,
      |      CAST(FLOOR((u.x - w.mn) / (w.mx - w.mn)
      |        * CAST((SELECT f$r FROM prm) AS DOUBLE)) AS BIGINT))
      |    ELSE a.vec_id % (SELECT f$r FROM prm) END AS list_id
      |  FROM a${r - 1} a JOIN wd$r w ON a.list_id = w.list_id
      |  JOIN vx u ON a.vec_id = u.vec_id AND u.pos = w.pos)""".stripMargin
  }.mkString(",\n")

  private def semanticSql(tau: Double, ccRounds: Int): String = {
    val rounds = kdqRoundCtes
    val cc = (1 to ccRounds).map { k =>
      s"""t$k AS MATERIALIZED (SELECT ue.a AS node,
        |  MIN(LEAST(la.comp, lb.comp)) AS comp FROM ue
        |  JOIN l${k - 1} la ON ue.a = la.node
        |  JOIN l${k - 1} lb ON ue.b = lb.node GROUP BY ue.a),
        |l$k AS MATERIALIZED (SELECT x.node, LEAST(x.comp, y.comp) AS comp
        |  FROM t$k x JOIN t$k y ON x.comp = y.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS (SELECT vec_id, label,
      |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |vecs AS MATERIALIZED (SELECT * FROM base
      |  UNION ALL
      |  SELECT vec_id + 10000000 AS vec_id, label,
      |    list_transform(v, (x, i) ->
      |      CASE WHEN i = 1 THEN x + 0.001 ELSE x END) AS v
      |  FROM base WHERE vec_id % 25 = 0),
      |cnt AS (SELECT COUNT(*) AS n FROM vecs),
      |par AS (SELECT CAST(CEIL(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS k
      |  FROM cnt),
      |bt AS (SELECT COALESCE(MIN(b), 0) AS bits
      |  FROM (SELECT unnest(range(0, 31)) AS b) bb, par
      |  WHERE (1::BIGINT << CAST(b AS INT)) >= k),
      |prm AS MATERIALIZED (SELECT
      |  (1::BIGINT << CAST(LEAST(4, bits) AS INT)) AS f1,
      |  (1::BIGINT << CAST(GREATEST(0, LEAST(4, bits - 4)) AS INT)) AS f2,
      |  (1::BIGINT << CAST(GREATEST(0, LEAST(4, bits - 8)) AS INT)) AS f3
      |  FROM bt),
      |vx AS MATERIALIZED (SELECT vec_id, pos,
      |  CAST(v[CAST(pos AS INT)] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS pos
      |        FROM vecs) t),
      |a0 AS MATERIALIZED (SELECT vec_id, CAST(0 AS BIGINT) AS list_id
      |  FROM vecs),
      |$rounds,
      |pairs AS MATERIALIZED (SELECT x.vec_id AS a, y.vec_id AS b
      |  FROM a3 x JOIN a3 y
      |    ON x.list_id = y.list_id AND x.vec_id < y.vec_id
      |  JOIN vecs va ON x.vec_id = va.vec_id
      |  JOIN vecs vb ON y.vec_id = vb.vec_id
      |  WHERE list_dot_product(va.v, vb.v)
      |    / (sqrt(list_dot_product(va.v, va.v))
      |       * sqrt(list_dot_product(vb.v, vb.v))) >= $tau),
      |ue AS MATERIALIZED (SELECT a, b FROM pairs
      |  UNION ALL SELECT b AS a, a AS b FROM pairs),
      |l0 AS MATERIALIZED (SELECT a AS node, a AS comp FROM ue GROUP BY a),
      |$cc
      |SELECT v.label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(SUM(CASE WHEN l.comp IS NOT NULL THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_in_dup_clusters,
      |  CAST(COUNT(DISTINCT l.comp) AS BIGINT) AS n_clusters,
      |  CAST(SUM(CASE WHEN l.comp IS NOT NULL AND l.comp <> v.vec_id
      |    THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
      |  CAST(COUNT(*) - SUM(CASE WHEN l.comp IS NOT NULL
      |    AND l.comp <> v.vec_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |FROM vecs v LEFT JOIN l$ccRounds l ON v.vec_id = l.node
      |GROUP BY v.label ORDER BY v.label""".stripMargin
  }

  /** q_dedup_incr_semantic's DuckDB twin (r17, converting the key
    * from oracle-N to oracle-checked after the standing index moved
    * from the learned IVF quantizer to persisted kdQuantize split
    * tables): replays the HISTORY quantizer build (k = ⌈√N⌉, the same
    * 3 static grouped rounds as semanticSql), the planted batch
    * (+1e6 verbatim / +2e6 dim-0-perturbed / +3e6 and +4e6 reversed),
    * the batch walk through the FROZEN split tables (LEFT joins;
    * history-empty lists take bucket 0, degenerate lists vec_id % f —
    * the kdqAssign rules), and the within-list cosine ≥ τ admission
    * decisions with dup_index precedence over dup_batch. */
  private def incrSemanticSql(tau: Double): String = {
    val bAssign = (1 to 3).map { r =>
      s"""b$r AS MATERIALIZED (SELECT b.vec_id,
        |  b.list_id * (SELECT f$r FROM prm) + CASE
        |    WHEN (SELECT f$r FROM prm) = 1 THEN 0
        |    WHEN w.list_id IS NULL THEN 0
        |    WHEN w.mx > w.mn THEN GREATEST(0,
        |      LEAST((SELECT f$r FROM prm) - 1,
        |      CAST(FLOOR((u.x - w.mn) / (w.mx - w.mn)
        |        * CAST((SELECT f$r FROM prm) AS DOUBLE)) AS BIGINT)))
        |    ELSE b.vec_id % (SELECT f$r FROM prm) END AS list_id
        |  FROM b${r - 1} b LEFT JOIN wd$r w ON b.list_id = w.list_id
        |  LEFT JOIN bx u ON b.vec_id = u.vec_id
        |    AND u.pos = w.pos)""".stripMargin
    }.mkString(",\n")
    s"""WITH vecs AS MATERIALIZED (SELECT vec_id, label,
      |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |cnt AS (SELECT COUNT(*) AS n FROM vecs),
      |par AS (SELECT CAST(CEIL(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS k
      |  FROM cnt),
      |bt AS (SELECT COALESCE(MIN(b), 0) AS bits
      |  FROM (SELECT unnest(range(0, 31)) AS b) bb, par
      |  WHERE (1::BIGINT << CAST(b AS INT)) >= k),
      |prm AS MATERIALIZED (SELECT
      |  (1::BIGINT << CAST(LEAST(4, bits) AS INT)) AS f1,
      |  (1::BIGINT << CAST(GREATEST(0, LEAST(4, bits - 4)) AS INT)) AS f2,
      |  (1::BIGINT << CAST(GREATEST(0, LEAST(4, bits - 8)) AS INT)) AS f3
      |  FROM bt),
      |vx AS MATERIALIZED (SELECT vec_id, pos,
      |  CAST(v[CAST(pos AS INT)] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS pos
      |        FROM vecs) t),
      |a0 AS MATERIALIZED (SELECT vec_id, CAST(0 AS BIGINT) AS list_id
      |  FROM vecs),
      |$kdqRoundCtes,
      |batch AS MATERIALIZED (
      |  SELECT vec_id + 1000000 AS vec_id, label, v
      |    FROM vecs WHERE vec_id % 25 = 0
      |  UNION ALL SELECT vec_id + 2000000, label,
      |    list_transform(v, (x, i) ->
      |      CASE WHEN i = 1 THEN x + 0.001 ELSE x END)
      |    FROM vecs WHERE vec_id % 25 = 3
      |  UNION ALL SELECT vec_id + 3000000, label,
      |    list_transform(range(1, len(v) + 1), i ->
      |      v[CAST(len(v) + 1 - i AS INT)])
      |    FROM vecs WHERE vec_id % 25 = 7
      |  UNION ALL SELECT vec_id + 4000000, label,
      |    list_transform(range(1, len(v) + 1), i ->
      |      v[CAST(len(v) + 1 - i AS INT)])
      |    FROM vecs WHERE vec_id % 25 = 7),
      |bx AS MATERIALIZED (SELECT vec_id, pos,
      |  CAST(v[CAST(pos AS INT)] AS DOUBLE) AS x
      |  FROM (SELECT vec_id, v, unnest(range(1, len(v) + 1)) AS pos
      |        FROM batch) t),
      |b0 AS (SELECT vec_id, CAST(0 AS BIGINT) AS list_id FROM batch),
      |$bAssign,
      |di AS (SELECT DISTINCT b.vec_id FROM b3 b
      |  JOIN a3 h ON b.list_id = h.list_id
      |  JOIN batch vb ON b.vec_id = vb.vec_id
      |  JOIN vecs vh ON h.vec_id = vh.vec_id
      |  WHERE list_dot_product(vb.v, vh.v)
      |    / (sqrt(list_dot_product(vb.v, vb.v))
      |       * sqrt(list_dot_product(vh.v, vh.v))) >= $tau),
      |db AS (SELECT DISTINCT y.vec_id FROM b3 x
      |  JOIN b3 y ON x.list_id = y.list_id AND x.vec_id < y.vec_id
      |  JOIN batch va ON x.vec_id = va.vec_id
      |  JOIN batch vbb ON y.vec_id = vbb.vec_id
      |  WHERE list_dot_product(va.v, vbb.v)
      |    / (sqrt(list_dot_product(va.v, va.v))
      |       * sqrt(list_dot_product(vbb.v, vbb.v))) >= $tau)
      |SELECT b.vec_id, b.label,
      |  CASE WHEN di.vec_id IS NOT NULL THEN 'dup_index'
      |    WHEN db.vec_id IS NOT NULL THEN 'dup_batch'
      |    ELSE 'kept' END AS decision
      |FROM batch b
      |LEFT JOIN di ON b.vec_id = di.vec_id
      |LEFT JOIN db ON b.vec_id = db.vec_id
      |ORDER BY b.vec_id""".stripMargin
  }

  /** q_text_classifier_train's DuckDB twin (r17, converting the key
    * from oracle-N to oracle-checked under the blessed contract
    * change): the logistic link became the PINNED-RATIONAL sigmoid
    * p = 0.5·(1 + m/(1+|m|)) and the eval loss the Brier score —
    * +, ·, / and abs only, so every per-row double is bit-identical
    * across engines, and the DECIMAL(28,14) gradient sums replay
    * exactly. The `iters` full-batch rounds unroll as MATERIALIZED
    * CTE pairs (gradient aggregate → 1-row weight update), the
    * q_emb_pca idiom. */
  private def classifierTrainSql(iters: Int): String = {
    def mExpr(w: String) =
      s"($w.w0 + $w.w1 * x1 + $w.w2 * x2 + $w.w3 * x3 + $w.w4 * x4)"
    def pExpr(w: String) =
      s"(0.5 * (1.0 + ${mExpr(w)} / (1.0 + abs(${mExpr(w)}))))"
    val rounds = (1 to iters).map { r =>
      val pw = s"w${r - 1}"
      val p = pExpr(pw)
      s"""g$r AS MATERIALIZED (SELECT COUNT(*) AS n,
        |  SUM(CAST(($p - y) AS DECIMAL(28,14))) AS g0,
        |  SUM(CAST(($p - y) * x1 AS DECIMAL(28,14))) AS g1,
        |  SUM(CAST(($p - y) * x2 AS DECIMAL(28,14))) AS g2,
        |  SUM(CAST(($p - y) * x3 AS DECIMAL(28,14))) AS g3,
        |  SUM(CAST(($p - y) * x4 AS DECIMAL(28,14))) AS g4
        |  FROM ft, $pw),
        |w$r AS MATERIALIZED (SELECT
        |  $pw.w0 - CAST(g$r.g0 AS DOUBLE) / CAST(g$r.n AS DOUBLE) AS w0,
        |  $pw.w1 - CAST(g$r.g1 AS DOUBLE) / CAST(g$r.n AS DOUBLE) AS w1,
        |  $pw.w2 - CAST(g$r.g2 AS DOUBLE) / CAST(g$r.n AS DOUBLE) AS w2,
        |  $pw.w3 - CAST(g$r.g3 AS DOUBLE) / CAST(g$r.n AS DOUBLE) AS w3,
        |  $pw.w4 - CAST(g$r.g4 AS DOUBLE) / CAST(g$r.n AS DOUBLE) AS w4
        |  FROM $pw, g$r)""".stripMargin
    }.mkString(",\n")
    val pF = pExpr(s"w$iters")
    s"""WITH f AS (SELECT lang,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
      |  CAST(len(list_filter(string_split(lower(text), ' '),
      |    t -> t IN ('the','a','of','and','is','to','in'))) AS BIGINT)
      |    AS ns,
      |  CAST(length(text) AS BIGINT) AS nc,
      |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '',
      |    'g')) AS BIGINT) AS nd,
      |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
      |    AS nsp
      |  FROM documents),
      |ft AS MATERIALIZED (SELECT
      |  CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
      |  CAST((ns * 1000000) // nt AS DOUBLE) / 1000000.0 AS x1,
      |  CAST((nd * 1000000) // greatest(nc, 1) AS DOUBLE) / 1000000.0
      |    AS x2,
      |  CAST((least(nt, 256) * 1000000) // 256 AS DOUBLE) / 1000000.0
      |    AS x3,
      |  CAST(((nc - nsp) * 1000000) // (nt * 8) AS DOUBLE) / 1000000.0
      |    AS x4
      |  FROM f),
      |w0 AS (SELECT CAST(0 AS DOUBLE) AS w0, CAST(0 AS DOUBLE) AS w1,
      |  CAST(0 AS DOUBLE) AS w2, CAST(0 AS DOUBLE) AS w3,
      |  CAST(0 AS DOUBLE) AS w4),
      |$rounds,
      |met AS (SELECT COUNT(*) AS n,
      |  SUM(CAST(y AS DECIMAL(28,14))) AS npos,
      |  SUM(CASE WHEN (CASE WHEN $pF >= 0.5 THEN 1.0 ELSE 0.0 END) = y
      |    THEN 1 ELSE 0 END) AS ncorrect,
      |  SUM(CAST(($pF - y) * ($pF - y) AS DECIMAL(28,14))) AS se
      |  FROM ft, w$iters)
      |SELECT term, value FROM (
      |  SELECT 'accuracy' AS term,
      |    ROUND(CAST(ncorrect AS DOUBLE) / CAST(n AS DOUBLE), 6)
      |      AS value FROM met
      |  UNION ALL SELECT 'brier',
      |    ROUND(CAST(se AS DOUBLE) / CAST(n AS DOUBLE), 6) FROM met
      |  UNION ALL SELECT 'n_docs', CAST(n AS DOUBLE) FROM met
      |  UNION ALL SELECT 'n_positive',
      |    ROUND(CAST(npos AS DOUBLE), 6) FROM met
      |  UNION ALL SELECT 'w_bias', ROUND(w0, 6) FROM w$iters
      |  UNION ALL SELECT 'w_stop', ROUND(w1, 6) FROM w$iters
      |  UNION ALL SELECT 'w_digit', ROUND(w2, 6) FROM w$iters
      |  UNION ALL SELECT 'w_len', ROUND(w3, 6) FROM w$iters
      |  UNION ALL SELECT 'w_wlen', ROUND(w4, 6) FROM w$iters)
      |ORDER BY term""".stripMargin
  }

  /** q_sim_ann_lsh's DuckDB twin (r17, converting the key from
    * oracle-N to oracle-checked): "approximate by construction" never
    * precluded an oracle — it only requires the oracle to replay the
    * SAME approximation (the kdQuantize precedent). The 6 Gaussian
    * hyperplanes are deterministic literals (java.util.Random(42)
    * nextGaussian is pinned StrictMath, and Double shortest-repr
    * round-trips to the same bits in both parsers); the bucket sign
    * dots and the cosine rank are the sequential-fold double recipe
    * whose Spark↔DuckDB bit-parity the semantic keys already prove;
    * the top-10 boundary is total (rounded cos DESC, vec_id ASC). */
  private def annLshSql: String = {
    val rnd = new scala.util.Random(42)
    val planes = Seq.fill(6)(Array.fill(64)(rnd.nextGaussian()))
    val bucketExpr = planes.zipWithIndex.map { case (p, i) =>
      val arr = "[" + p.mkString(",") + "]::DOUBLE[]"
      s"(CASE WHEN list_dot_product(v, $arr) >= 0 THEN ${1 << i} ELSE 0 END)"
    }.mkString("\n|  + ").stripMargin
    s"""WITH e AS (SELECT vec_id, label,
      |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |b AS MATERIALIZED (SELECT vec_id, label, v,
      |  $bucketExpr AS bucket FROM e),
      |q AS (SELECT bucket AS qbucket, v AS qv FROM b WHERE vec_id = 0)
      |SELECT vec_id, label,
      |  ROUND(list_dot_product(v, qv)
      |    / (sqrt(list_dot_product(v, v))
      |       * sqrt(list_dot_product(qv, qv))), 6) AS cos
      |FROM b, q WHERE b.bucket = q.qbucket AND vec_id <> 0
      |ORDER BY cos DESC, vec_id LIMIT 10""".stripMargin
  }

  val sql: Map[String, String] = Map(

    // q_sim_ann_lsh: fixed-hyperplane bucketing + in-bucket cosine
    // rank, replayed with the identical plane literals (see annLshSql)
    // — r17's third oracle-N → oracle conversion
    "q_sim_ann_lsh" -> annLshSql,

    // q_emb_pca: the 50-step quantized power iteration unrolled as
    // MATERIALIZED HUGEINT CTEs (see pcaSql) — r16's oracle-N → oracle
    // conversion
    "q_emb_pca" -> pcaSql(iters = 50, dim = 64),

    // q_text_classifier_train: pinned-rational sigmoid + Brier score,
    // 16 unrolled decimal-gradient rounds (see classifierTrainSql) —
    // r17's oracle-N → oracle conversion (VERDICT r16 ask #3, blessed
    // contract change)
    "q_text_classifier_train" -> classifierTrainSql(iters = 16),

    // q_dedup_incr_semantic: history kd-quantizer build + frozen-table
    // batch walk + within-list cosine admission ledger, replayed
    // end-to-end (see incrSemanticSql) — r17's oracle-N → oracle
    // conversion (VERDICT r16 ask #2)
    "q_dedup_incr_semantic" -> incrSemanticSql(tau = 0.999),

    // q_dedup_semantic: the equal-width quantizer + within-list
    // cosine + CC + collapse ledger, replayed end-to-end (see
    // semanticSql) — r16's oracle-N → oracle conversion
    "q_dedup_semantic" -> semanticSql(tau = 0.999, ccRounds = 8),

    // q_dedup_near: md5-minhash banded LSH + exact-Jaccard verify,
    // fully replayed (r16 oracle conversion — the shingle and band
    // hashes moved from xxhash64 to 60-bit md5, which both engines
    // share bit-for-bit). The grid join's candidate SET equals the
    // plain band self-join, so the oracle joins bands directly.
    "q_dedup_near" ->
      s"""WITH ${minhashCtes("", "documents")},
        |cands AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM band x JOIN band y
        |  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
        |ver AS (SELECT a, b, ${jac("ha", "hb")} AS jaccard
        |  FROM cands JOIN hs ha ON cands.a = ha.doc_id
        |  JOIN hs hb ON cands.b = hb.doc_id)
        |SELECT a, b, jaccard FROM ver WHERE jaccard >= 0.8
        |ORDER BY a, b""".stripMargin,

    // q_dedup_incr_near: the standing-index admission ledger replayed
    // end-to-end — history signatures from documents, the planted
    // batch (verbatim re-entries %7=1 +1e6, suffix-extended %9=5 +4e6,
    // twice-submitted reversals %10=0 +2e6/+3e6), band collisions vs
    // the index, within-batch pairs, J ≥ 0.8, dup_index precedence
    "q_dedup_incr_near" ->
      s"""WITH batchd AS MATERIALIZED (
        |  SELECT doc_id + 1000000 AS doc_id, source, text
        |    FROM documents WHERE doc_id % 7 = 1
        |  UNION ALL
        |  SELECT doc_id + 4000000, source, text || ' zz yy xx ww vv uu tt'
        |    FROM documents WHERE doc_id % 9 = 5
        |  UNION ALL
        |  SELECT doc_id + 2000000, source,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |    FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000, source,
        |    array_to_string(list_reverse(string_split(text, ' ')), ' ')
        |    FROM documents WHERE doc_id % 10 = 0),
        |${minhashCtes("h_", "documents")},
        |${minhashCtes("b_", "batchd")},
        |ci AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM b_band x JOIN h_band y
        |  ON x.band = y.band AND x.bh = y.bh),
        |vi AS (SELECT DISTINCT ci.a AS doc_id
        |  FROM ci JOIN b_hs ha ON ci.a = ha.doc_id
        |  JOIN h_hs hb ON ci.b = hb.doc_id
        |  WHERE ${jac("ha", "hb")} >= 0.8),
        |cb AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        |  FROM b_band x JOIN b_band y
        |  ON x.band = y.band AND x.bh = y.bh AND x.doc_id < y.doc_id),
        |vb AS (SELECT DISTINCT cb.b AS doc_id
        |  FROM cb JOIN b_hs ha ON cb.a = ha.doc_id
        |  JOIN b_hs hb ON cb.b = hb.doc_id
        |  WHERE ${jac("ha", "hb")} >= 0.8)
        |SELECT bt.doc_id, bt.source,
        |  CASE WHEN vi.doc_id IS NOT NULL THEN 'dup_index'
        |       WHEN vb.doc_id IS NOT NULL THEN 'dup_batch'
        |       ELSE 'kept' END AS decision
        |FROM batchd bt
        |LEFT JOIN vi ON bt.doc_id = vi.doc_id
        |LEFT JOIN vb ON bt.doc_id = vb.doc_id
        |ORDER BY bt.doc_id""".stripMargin,
    "q_scan_project" ->
      """SELECT l_orderkey AS okey, l_linenumber AS lnum,
        |CAST(l_quantity AS DECIMAL(38,2))::DOUBLE AS qty,
        |CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS DECIMAL(38,4))::DOUBLE AS revenue
        |FROM lineitem ORDER BY okey, lnum, qty, revenue""".stripMargin,

    // SQL-dialect parity: the ORACLE IS THE QUERY — the exact string
    // Spark executes (Relational.sqlCteText), unchanged.
    "q_sql_cte" -> graft.ops.Relational.sqlCteText,
    "q_sql_lateral" -> graft.ops.Relational.sqlLateralText,

    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber,
        |CAST(l_quantity AS DECIMAL(38,2))::DOUBLE AS qty,
        |l_returnflag, l_linestatus, l_shipdate
        |FROM lineitem
        |WHERE (l_returnflag = 'A' OR l_returnflag = 'R')
        |  AND l_linestatus <> 'O'
        |  AND l_quantity BETWEEN 10 AND 40
        |  AND l_shipdate BETWEEN TIMESTAMP '1996-01-01' AND TIMESTAMP '1998-12-31'
        |  AND l_linenumber IN (1,2,3,4)
        |  AND l_returnflag IS NOT NULL
        |  AND l_returnflag LIKE '_%'
        |ORDER BY l_orderkey, l_linenumber, qty, l_returnflag, l_linestatus, l_shipdate""".stripMargin,

    "q_project_expr" ->
      """SELECT o_orderkey,
        |CASE WHEN o_orderstatus = 'F' THEN 'done'
        |     WHEN o_orderstatus = 'O' THEN 'open'
        |     ELSE 'other' END AS status_word,
        |CAST(o_totalprice AS DECIMAL(38,2))::DOUBLE AS price,
        |CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 2 AS DECIMAL(38,2))::DOUBLE AS double_price,
        |COALESCE(NULLIF(o_orderpriority, '4-NOT SPECIFIED'), 'UNSPECIFIED') AS prio,
        |o_custkey % 10 AS custmod
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_agg_group" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_base_price,
        |CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DECIMAL(38,2))::DOUBLE AS sum_disc_price,
        |CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))), 2) AS DECIMAL(38,2))::DOUBLE AS sum_charge,
        |COUNT(*) AS count_order,
        |ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
        |ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_sort_multi" ->
      """SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg,
        |CAST(c_acctbal AS DECIMAL(38,2))::DOUBLE AS bal
        |FROM customer
        |ORDER BY seg DESC NULLS LAST, bal DESC, c_custkey ASC""".stripMargin,

    "q_topk" ->
      """SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(38,2))::DOUBLE AS price
        |FROM orders ORDER BY price DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "q_union_all" ->
      """SELECT tag, COUNT(*) AS cnt,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS total
        |FROM (
        |  SELECT 'A' AS tag, o_totalprice FROM orders WHERE o_orderstatus = 'F'
        |  UNION ALL
        |  SELECT 'B' AS tag, o_totalprice FROM orders WHERE o_orderstatus = 'O'
        |) t GROUP BY tag ORDER BY tag""".stripMargin,

    "q_union_distinct" ->
      """SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
        |UNION
        |SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'O'
        |ORDER BY custkey""".stripMargin,

    "q_intersect" ->
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
        |INTERSECT
        |SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY custkey""".stripMargin,

    "q_except" ->
      """SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
        |EXCEPT
        |SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
        |ORDER BY custkey""".stripMargin,

    // Multiset semantics: EXCEPT ALL / INTERSECT ALL must respect
    // multiplicity identically on both engines
    "q_set_ops_bag" ->
      """WITH a AS (SELECT l_partkey AS pk, CAST(FLOOR(l_quantity) AS INT) AS qty
        |  FROM lineitem WHERE l_returnflag = 'A'),
        |b AS (SELECT l_partkey AS pk, CAST(FLOOR(l_quantity) AS INT) AS qty
        |  FROM lineitem WHERE l_returnflag = 'R'),
        |ea AS (SELECT * FROM a EXCEPT ALL SELECT * FROM b),
        |ia AS (SELECT * FROM a INTERSECT ALL SELECT * FROM b),
        |u AS (SELECT 'except_all' AS op, COUNT(*) AS n_rows,
        |    COUNT(DISTINCT (pk, qty)) AS n_keys FROM ea
        |  UNION ALL SELECT 'intersect_all', COUNT(*),
        |    COUNT(DISTINCT (pk, qty)) FROM ia)
        |SELECT op, CAST(n_rows AS BIGINT) AS n_rows,
        |CAST(n_keys AS BIGINT) AS n_keys FROM u ORDER BY op""".stripMargin,

    // ---- §2.3 joins ----
    "q_join_inner" ->
      """SELECT o_orderstatus, COUNT(*) AS n_lines,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_join_broadcast" ->
      """SELECT r_name, n_name, COUNT(*) AS n_cust,
        |CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_join_left" ->
      """SELECT o_orderkey, COALESCE(c_name, '(none)') AS cust,
        |CAST(o_totalprice AS DECIMAL(38,2))::DOUBLE AS price
        |FROM orders LEFT JOIN
        |  (SELECT c_custkey, c_name FROM customer WHERE c_mktsegment = 'BUILDING') c
        |  ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_full" ->
      """SELECT COALESCE(c_custkey, o_custkey) AS keyv,
        |CASE WHEN c_custkey IS NULL THEN 'order_only'
        |     WHEN o_custkey IS NULL THEN 'cust_only'
        |     ELSE 'both' END AS presence
        |FROM (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY') c
        |FULL JOIN (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate) = 1996) o
        |  ON c_custkey = o_custkey
        |ORDER BY keyv""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,

    "q_join_range" ->
      """SELECT p_brand, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_qty
        |FROM lineitem JOIN part
        |  ON l_partkey = p_partkey AND l_quantity BETWEEN p_size - 2 AND p_size + 2
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_asof" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events),
        |s AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_type = 'signup')
        |SELECT e.event_id, e.user_id,
        |epoch_us(e.ts) AS ts_us, epoch_us(s.ts) AS signup_us
        |FROM e ASOF JOIN s ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id""".stripMargin,

    "q_join_multi" ->
      """SELECT n_name, year(o_orderdate) AS yr, COUNT(*) AS n_lines,
        |CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))), 2) AS DECIMAL(38,2))::DOUBLE AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderstatus <> 'P'
        |GROUP BY n_name, yr
        |ORDER BY revenue DESC, n_name, yr""".stripMargin,

    // ---- §2.4 aggregation ----
    "q_agg_global" ->
      """SELECT COUNT(*) AS n,
        |CAST(MIN(l_quantity) AS DECIMAL(38,2))::DOUBLE AS min_qty,
        |CAST(MAX(l_quantity) AS DECIMAL(38,2))::DOUBLE AS max_qty,
        |CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_price,
        |COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem""".stripMargin,

    "q_agg_having" ->
      """SELECT l_suppkey, COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_qty
        |FROM lineitem GROUP BY l_suppkey HAVING COUNT(*) > 600
        |ORDER BY l_suppkey""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |COUNT(DISTINCT l_partkey) AS d_parts,
        |COUNT(DISTINCT l_suppkey) AS d_supps,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status,
        |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_agg_cube" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status,
        |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_agg_gsets" ->
      """SELECT l_returnflag, l_linestatus,
        |CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
        |CAST(GROUPING(l_linestatus) AS INT) AS g_status,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_qty
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_flag, g_status,
        |  l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_agg_collect" ->
      """SELECT o_orderstatus,
        |array_to_string(list_sort(list(DISTINCT o_orderpriority)), ',') AS prios,
        |array_to_string(list_sort(list(DISTINCT year(o_orderdate))), ',') AS years,
        |COUNT(*) AS n
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_agg_stats" ->
      """WITH g AS (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS s,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS s2
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |ROUND(CAST(s AS DOUBLE) / n, 4) AS avg_qty,
        |ROUND((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1), 4) AS var_qty,
        |ROUND(sqrt((CAST(s2 AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n) / (n - 1)), 4) AS std_qty
        |FROM g ORDER BY l_returnflag""".stripMargin,

    "q_agg_quantile" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.5), 6) AS p50,
        |ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.9), 6) AS p90,
        |ROUND(quantile_cont(CAST(l_quantity AS DOUBLE), 0.99), 6) AS p99
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // arg_max/arg_min on a UNIQUE composite integer key (exact cents
    // ⊕ custkey) — both engines pick arbitrary rows on ordering ties,
    // so the key construction removes ties instead of hoping
    "q_agg_argmax" ->
      """WITH c AS (SELECT c_name, c_nationkey, c_acctbal,
        |  (CAST(ROUND(c_acctbal * 100) AS BIGINT) + 100000) * 10000000
        |    + c_custkey AS ord FROM customer)
        |SELECT n_name,
        |arg_max(c_name, ord) AS top_cust,
        |CAST(MAX(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE
        |  AS top_bal,
        |arg_min(c_name, ord) AS bottom_cust,
        |CAST(MIN(CAST(c_acctbal AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE
        |  AS bottom_bal,
        |COUNT(*) AS n_customers
        |FROM c JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // UNION ALL melt mirrors Spark's row-local Expand; values are
    // exact DECIMAL(12,2) before the melt so sums are order-free
    "q_unpivot" ->
      """WITH m AS (
        |  SELECT 'qty' AS metric, CAST(l_quantity AS DECIMAL(12,2)) AS value
        |    FROM lineitem
        |  UNION ALL SELECT 'price', CAST(l_extendedprice AS DECIMAL(12,2))
        |    FROM lineitem
        |  UNION ALL SELECT 'disc', CAST(l_discount AS DECIMAL(12,2))
        |    FROM lineitem
        |  UNION ALL SELECT 'tax', CAST(l_tax AS DECIMAL(12,2))
        |    FROM lineitem)
        |SELECT metric, COUNT(*) AS n,
        |CAST(SUM(value) AS DECIMAL(38,2))::DOUBLE AS total,
        |round(CAST(SUM(value) AS DOUBLE) / COUNT(*), 6) AS mean
        |FROM m GROUP BY metric ORDER BY metric""".stripMargin,

    "q_udaf_topk" ->
      """SELECT o_orderpriority, rank, o_orderkey, price FROM (
        |  SELECT o_orderpriority,
        |  ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank,
        |  o_orderkey, CAST(o_totalprice AS DECIMAL(38,2))::DOUBLE AS price
        |  FROM orders) t
        |WHERE rank <= 5 ORDER BY o_orderpriority, rank""".stripMargin,

    // ---- §2.5 windows ----
    "q_win_rank" ->
      """SELECT o_orderkey, o_orderstatus, o_orderpriority,
        |ROW_NUMBER() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority, o_orderkey) AS rn,
        |RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS rnk,
        |DENSE_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority) AS drnk,
        |NTILE(4) OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority, o_orderkey) AS tile,
        |ROUND(PERCENT_RANK() OVER (PARTITION BY o_orderstatus ORDER BY o_orderpriority), 6) AS prank
        |FROM orders ORDER BY o_orderstatus, rn""".stripMargin,

    "q_win_topk_group" ->
      """SELECT o_custkey, o_orderkey, price, rank FROM (
        |  SELECT o_custkey, o_orderkey,
        |  CAST(o_totalprice AS DECIMAL(38,2))::DOUBLE AS price,
        |  ROW_NUMBER() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
        |  FROM orders) t
        |WHERE rank <= 3 ORDER BY o_custkey, rank""".stripMargin,

    "q_win_running" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2))::DOUBLE AS run_sum,
        |COUNT(*) OVER (
        |  PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_cnt
        |FROM orders ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin,

    "q_win_lag_lead" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |epoch_us(LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS prev_us,
        |epoch_us(LEAD(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS next_us,
        |epoch_us(ts) - epoch_us(LAG(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
        |FROM e ORDER BY event_id""".stripMargin,

    "q_win_range_time" ->
      """WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events)
        |SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
        |  PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW) AS DECIMAL(38,2))::DOUBLE AS mov_sum,
        |COUNT(*) OVER (
        |  PARTITION BY user_id ORDER BY ts
        |  RANGE BETWEEN INTERVAL '1 hour' PRECEDING AND CURRENT ROW) AS mov_cnt
        |FROM e ORDER BY event_id""".stripMargin,

    // ---- §2.8 scalar functions ----
    "q_str_funcs" ->
      """SELECT p_partkey,
        |upper(p_name) AS uname,
        |lower(p_brand) AS lbrand,
        |CAST(length(p_name) AS BIGINT) AS name_len,
        |substring(p_type, 1, 5) AS type5,
        |p_brand || ':' || p_type AS brand_type,
        |replace(p_name, ' ', '_') AS name_us,
        |lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4,
        |regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
        |(p_type LIKE 'PROMO%') AS is_promo
        |FROM part ORDER BY p_partkey""".stripMargin,

    "q_date_funcs" ->
      """SELECT o_orderkey,
        |CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
        |CAST(year(o_orderdate) AS INT) AS yr,
        |CAST(month(o_orderdate) AS INT) AS mon,
        |CAST(day(o_orderdate) AS INT) AS dom,
        |CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow,
        |o_orderdate + INTERVAL 30 DAY AS plus30,
        |CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INT) AS days_to_y2k
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
        |abs(l_discount - 0.05) AS abs_d,
        |CAST(ceil(l_extendedprice) AS BIGINT) AS ceil_p,
        |CAST(floor(l_extendedprice) AS BIGINT) AS floor_p,
        |l_partkey % 7 AS pmod7,
        |pow(l_quantity, 2) AS qty_sq,
        |round(sqrt(l_extendedprice), 6) AS sqrt_p,
        |round(ln(l_extendedprice), 6) AS ln_p,
        |round(log10(l_extendedprice), 6) AS log10_p,
        |CAST(sign(l_discount - 0.05) AS INT) AS sgn
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, qty_sq, sqrt_p, abs_d, pmod7""".stripMargin,

    "q_json_funcs" ->
      """SELECT event_type, COUNT(*) AS n,
        |CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
        |FROM (SELECT event_type,
        |      CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events) t
        |WHERE k >= 50 GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_array_funcs" ->
      """WITH x AS (
        |  SELECT label, vec_id, CAST(dims.dim AS BIGINT) AS dim,
        |  CAST(CAST(embedding[dims.dim] AS DOUBLE) AS DECIMAL(25,12)) AS v
        |  FROM embeddings, (SELECT unnest(range(1, 9)) AS dim) dims
        |  WHERE len(embedding) = 64 AND embedding[1] IS NOT NULL)
        |SELECT label, dim, COUNT(*) AS n_vecs,
        |ROUND(CAST(SUM(v) AS DOUBLE) / COUNT(*), 6) AS avg_v
        |FROM x GROUP BY label, dim ORDER BY label, dim""".stripMargin,

    "q_map_funcs" ->
      """SELECT user_id, event_type, COUNT(*) AS cnt
        |FROM events GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin,

    "q_udf_scalar" ->
      """SELECT split_part(c_mktsegment || ':' || CAST(c_custkey AS VARCHAR), ':', 1) AS prefix,
        |COUNT(*) AS n
        |FROM customer GROUP BY prefix ORDER BY prefix""".stripMargin,

    "q_udtf_tokens" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
        |e AS (SELECT doc_id, parts, unnest(range(1, len(parts) + 1)) AS pos FROM d)
        |SELECT doc_id, CAST(pos AS BIGINT) AS pos, parts[pos] AS token
        |FROM e ORDER BY doc_id, pos""".stripMargin,

    // ---- §2.11 graph / ETL ----
    // exact integer triangle count: the plain a<b<c 3-way join is fine
    // at oracle scale (the Spark side runs the degree-ordered
    // compact-forward plan; same count by construction)
    "q_graph_triangles" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
        |  JOIN op b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT x, COUNT(*) AS d FROM
        |  (SELECT u AS x FROM e UNION ALL SELECT v FROM e) GROUP BY x),
        |tri AS (SELECT COUNT(*) AS n_triangles FROM e e1
        |  JOIN e e2 ON e2.u = e1.v
        |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
        |ne AS (SELECT COUNT(*) AS n_edges FROM e),
        |wed AS (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) AS n_wedges FROM deg)
        |SELECT n_edges, n_triangles, n_wedges,
        |ROUND(3.0 * n_triangles / n_wedges, 6) AS global_cc
        |FROM ne, tri, wed""".stripMargin,

    // exact order-set Jaccard; ranking orders by the ROUNDED score
    // (ties by u, v) so a 1-ulp divergence cannot flip ranks
    "q_graph_jaccard" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |inter AS (SELECT a.p AS u, b.p AS v, COUNT(*) AS c
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
        |deg AS (SELECT p, COUNT(*) AS d FROM op GROUP BY 1)
        |SELECT u, v, CAST(c AS BIGINT) AS n_common,
        |round(c::DOUBLE / (du.d + dv.d - c), 6) AS jaccard
        |FROM inter JOIN deg du ON inter.u = du.p
        |  JOIN deg dv ON inter.v = dv.p
        |ORDER BY jaccard DESC, u, v LIMIT 20""".stripMargin,

    // Adamic-Adar link prediction: per-co-occurrence weight
    // 1/ln(order size) rounded 6dp to DECIMAL BEFORE summation
    // (order-free exact totals, the lm_score discipline)
    "q_graph_adamic_adar" ->
      """WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |sz AS (SELECT o, COUNT(*) AS gsz FROM op GROUP BY 1),
        |pr AS (SELECT a.p AS u, b.p AS v,
        |  round(1.0 / ln(sz.gsz), 6)::DECIMAL(18,6) AS w
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
        |  JOIN sz ON a.o = sz.o)
        |SELECT u, v, CAST(COUNT(*) AS BIGINT) AS n_common,
        |CAST(CAST(SUM(w) AS DECIMAL(38,6)) AS DOUBLE) AS aa
        |FROM pr GROUP BY 1, 2 ORDER BY aa DESC, u, v LIMIT 20""".stripMargin,

    // min-hop BFS histogram via a bounded recursive CTE (the Spark
    // side runs the unrolled cached-frontier plan; same sets by
    // construction — UNION dedups (node, hop), MIN picks the first)
    // Graph version diff: both node and edge classifications replay
    // the planted version arithmetic through full-outer joins
    "q_graph_diff" ->
      """WITH n1 AS (SELECT 'CUST:' || c_custkey AS id,
        |  c_mktsegment AS cat1 FROM customer WHERE c_custkey % 19 <> 0),
        |n2 AS (SELECT 'CUST:' || c_custkey AS id,
        |  CASE WHEN c_custkey % 13 = 0 THEN 'reclassified'
        |    ELSE c_mktsegment END AS cat2
        |  FROM customer WHERE c_custkey % 23 <> 0),
        |nd AS (SELECT CASE WHEN cat1 IS NULL THEN 'node_added'
        |    WHEN cat2 IS NULL THEN 'node_removed'
        |    WHEN cat1 <> cat2 THEN 'node_category_changed'
        |    ELSE 'node_unchanged' END AS change
        |  FROM n1 FULL JOIN n2 USING (id)),
        |ep AS (SELECT o_custkey AS s, l_partkey AS o, o_orderdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |e1 AS (SELECT DISTINCT s, o FROM ep
        |  WHERE o_orderdate < TIMESTAMP '1996-01-01'),
        |e2 AS (SELECT DISTINCT s, o FROM ep
        |  WHERE o_orderdate < TIMESTAMP '1997-01-01' AND o % 31 <> 0),
        |ed AS (SELECT CASE WHEN e1.s IS NULL THEN 'edge_added'
        |    WHEN e2.s IS NULL THEN 'edge_removed'
        |    ELSE 'edge_unchanged' END AS change
        |  FROM e1 FULL JOIN e2 ON e1.s = e2.s AND e1.o = e2.o),
        |u AS (SELECT change FROM nd UNION ALL SELECT change FROM ed)
        |SELECT change, COUNT(*) AS n FROM u GROUP BY change
        |ORDER BY change""".stripMargin,

    // Bounded ancestor closure: the oracle rebuilds the part-derived
    // is_a DAG (k -> k div 2, plus k -> k div 3 when 3 | k) and walks
    // it with a depth-guarded WITH RECURSIVE; MIN(hop) collapses
    // diamond paths to the shortest depth exactly like the Spark-side
    // hash aggregate over the unrolled hop frames.
    "q_onto_closure" ->
      """WITH RECURSIVE
        |e AS (SELECT 'T:' || CAST(p_partkey AS VARCHAR) AS s,
        |    'T:' || CAST(p_partkey // 2 AS VARCHAR) AS o
        |  FROM part WHERE p_partkey >= 1
        |  UNION ALL
        |  SELECT 'T:' || CAST(p_partkey AS VARCHAR) AS s,
        |    'T:' || CAST(p_partkey // 3 AS VARCHAR) AS o
        |  FROM part WHERE p_partkey % 3 = 0 AND p_partkey >= 3),
        |a AS (
        |  SELECT s AS term, o AS anc, 1 AS hop FROM e
        |  UNION
        |  SELECT a.term, e.o AS anc, a.hop + 1 AS hop
        |  FROM a JOIN e ON a.anc = e.s WHERE a.hop < 4
        |),
        |m AS (SELECT term, anc, MIN(hop) AS hop FROM a GROUP BY 1, 2)
        |SELECT term, anc, CAST(hop AS BIGINT) AS depth FROM m
        |ORDER BY term, anc""".stripMargin,

    "q_graph_paths" ->
      """WITH RECURSIVE
        |op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |ec AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u, v FROM ec UNION ALL SELECT v AS u, u AS v FROM ec),
        |src AS (SELECT MIN(p) AS node FROM op),
        |bfs AS (
        |  SELECT node, 0 AS hop FROM src
        |  UNION
        |  SELECT sym.v AS node, bfs.hop + 1 AS hop
        |  FROM bfs JOIN sym ON bfs.node = sym.u WHERE bfs.hop < 3
        |),
        |m AS (SELECT node, MIN(hop) AS hop FROM bfs GROUP BY 1)
        |SELECT CAST(hop AS BIGINT) AS hop, COUNT(*) AS n_nodes
        |FROM m GROUP BY 1 ORDER BY hop""".stripMargin,

    // depth-guarded min-sum walk: the recursive UNION dedups states on
    // (node, dist, hop) — bounded by |V| x |dist values| x 5 since
    // weights are 1..7 over <= 4 hops — and MIN(dist) over all states
    // equals the Bellman-Ford <= 4-round relaxation the Spark side runs
    "q_graph_sssp" ->
      """WITH RECURSIVE
        |op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |ec AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u, v FROM ec UNION ALL SELECT v AS u, u AS v FROM ec),
        |wsym AS (SELECT u, v, 1 + (u + v) % 7 AS w FROM sym),
        |src AS (SELECT MIN(p) AS node FROM op),
        |walk AS (
        |  SELECT node, 0 AS dist, 0 AS hop FROM src
        |  UNION
        |  SELECT wsym.v AS node, walk.dist + wsym.w AS dist,
        |    walk.hop + 1 AS hop
        |  FROM walk JOIN wsym ON walk.node = wsym.u WHERE walk.hop < 4
        |),
        |m AS (SELECT node, MIN(dist) AS dist FROM walk GROUP BY 1)
        |SELECT CAST(dist AS BIGINT) AS dist, COUNT(*) AS n_nodes
        |FROM m GROUP BY 1 ORDER BY dist""".stripMargin,

    // landmark harmonic closeness: BFS from the 8 smallest node ids
    // (depth-guarded recursive UNION dedups (lmk, node, hop) states),
    // then the exact-integer 6//d harmonic fold — LCM(1,2,3)=6 keeps
    // the reciprocal sum integral in both engines
    "q_graph_closeness" ->
      """WITH RECURSIVE
        |op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |ec AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u, v FROM ec UNION ALL SELECT v AS u, u AS v FROM ec),
        |lm AS (SELECT u AS lmk FROM (
        |  SELECT DISTINCT u FROM sym ORDER BY u LIMIT 8)),
        |bfs AS (
        |  SELECT lmk, lmk AS node, 0 AS hop FROM lm
        |  UNION
        |  SELECT bfs.lmk, sym.v AS node, bfs.hop + 1 AS hop
        |  FROM bfs JOIN sym ON bfs.node = sym.u WHERE bfs.hop < 3
        |),
        |mh AS (SELECT lmk, node, MIN(hop) AS hop FROM bfs GROUP BY 1, 2)
        |SELECT node, CAST(SUM(6 // hop) AS BIGINT) AS harmonic6,
        |COUNT(*) AS n_landmarks
        |FROM mh WHERE hop > 0 GROUP BY node
        |ORDER BY harmonic6 DESC, node LIMIT 20""".stripMargin,

    // landmark-pair coverage betweenness: same landmark BFS, then the
    // exact-integer triangle equality d(s,v)+d(v,t)=d(s,t) over the
    // K²/2 pair table — presence counting, no σ-fractions, no floats
    "q_graph_betweenness" ->
      """WITH RECURSIVE
        |op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |ec AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u, v FROM ec UNION ALL SELECT v AS u, u AS v FROM ec),
        |lm AS (SELECT u AS lmk FROM (
        |  SELECT DISTINCT u FROM sym ORDER BY u LIMIT 8)),
        |bfs AS (
        |  SELECT lmk, lmk AS node, 0 AS hop FROM lm
        |  UNION
        |  SELECT bfs.lmk, sym.v AS node, bfs.hop + 1 AS hop
        |  FROM bfs JOIN sym ON bfs.node = sym.u WHERE bfs.hop < 3
        |),
        |mh AS (SELECT lmk, node, MIN(hop) AS hop FROM bfs GROUP BY 1, 2),
        |pr AS (SELECT mh.lmk AS s, mh.node AS t, mh.hop AS dst
        |  FROM mh JOIN lm ON mh.node = lm.lmk WHERE mh.lmk < mh.node),
        |sv AS (SELECT lmk AS s, node AS vn, hop AS d_sv FROM mh),
        |vt AS (SELECT lmk AS t, node AS vn, hop AS d_vt FROM mh)
        |SELECT sv.vn AS node, COUNT(*) AS n_pairs
        |FROM pr JOIN sv ON sv.s = pr.s
        |JOIN vt ON vt.t = pr.t AND vt.vn = sv.vn
        |WHERE sv.d_sv + vt.d_vt = pr.dst
        |  AND sv.vn <> pr.s AND sv.vn <> pr.t
        |GROUP BY sv.vn
        |ORDER BY n_pairs DESC, node LIMIT 20""".stripMargin,

    // landmark eccentricity / diameter / radius bounds: exact integer
    // hops from the same recursive BFS; k cast BIGINT to match Spark
    // the hop bound and landmark count interpolate from the SAME
    // constants the Scala key uses (GraphOps.eccDemoMaxHop /
    // .eccDemoLandmarks) — both the recursive-CTE guard and the
    // radius_ub/radius_bounded split, so key and oracle can never
    // silently diverge (ADVICE r15)
    "q_graph_ecc" ->
      s"""WITH RECURSIVE
        |op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |ec AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u, v FROM ec UNION ALL SELECT v AS u, u AS v FROM ec),
        |lm AS (SELECT u AS lmk FROM (
        |  SELECT DISTINCT u FROM sym ORDER BY u
        |  LIMIT ${graft.ops.GraphOps.eccDemoLandmarks})),
        |bfs AS (
        |  SELECT lmk, lmk AS node, 0 AS hop FROM lm
        |  UNION
        |  SELECT bfs.lmk, sym.v AS node, bfs.hop + 1 AS hop
        |  FROM bfs JOIN sym ON bfs.node = sym.u
        |  WHERE bfs.hop < ${graft.ops.GraphOps.eccDemoMaxHop}
        |),
        |mh AS MATERIALIZED (SELECT lmk, node, MIN(hop) AS hop
        |  FROM bfs GROUP BY 1, 2),
        |ecc AS (SELECT node, MAX(hop) AS ecc FROM mh GROUP BY node),
        |hist AS (SELECT 'ecc_nodes' AS stat, CAST(ecc AS BIGINT) AS k,
        |  COUNT(*) AS n FROM ecc GROUP BY ecc),
        |diam AS (SELECT 'diameter_lb' AS stat, CAST(hop AS BIGINT) AS k,
        |  COUNT(*) AS n
        |  FROM (SELECT mh.hop FROM mh JOIN lm ON mh.node = lm.lmk
        |    WHERE mh.lmk < mh.node)
        |  GROUP BY hop ORDER BY hop DESC LIMIT 1),
        |rad AS (SELECT CASE
        |    WHEN ecc < ${graft.ops.GraphOps.eccDemoMaxHop} THEN 'radius_ub'
        |    ELSE 'radius_bounded' END AS stat, CAST(ecc AS BIGINT) AS k,
        |  COUNT(*) AS n
        |  FROM (SELECT e.ecc FROM ecc e JOIN lm ON e.node = lm.lmk)
        |  GROUP BY ecc ORDER BY ecc ASC LIMIT 1)
        |SELECT * FROM hist UNION ALL SELECT * FROM diam
        |UNION ALL SELECT * FROM rad
        |ORDER BY stat, k""".stripMargin,

    // Brandes sigma-fraction twin of the coverage variant: path counts
    // by level-synchronous DP (sg1..sg3), per-pair fraction emitted as
    // floor micro-units (sig_sv*sig_vt*1e6) // sig_st — exact integers
    // end to end, so the sum replays digit-for-digit
    "q_graph_betweenness_brandes" ->
      """WITH RECURSIVE
        |op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |ec AS (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |sym AS (SELECT u, v FROM ec UNION ALL SELECT v AS u, u AS v FROM ec),
        |lm AS (SELECT u AS lmk FROM (
        |  SELECT DISTINCT u FROM sym ORDER BY u LIMIT 8)),
        |bfs AS (
        |  SELECT lmk, lmk AS node, 0 AS hop FROM lm
        |  UNION
        |  SELECT bfs.lmk, sym.v AS node, bfs.hop + 1 AS hop
        |  FROM bfs JOIN sym ON bfs.node = sym.u WHERE bfs.hop < 3
        |),
        |mh AS MATERIALIZED (SELECT lmk, node, MIN(hop) AS hop
        |  FROM bfs GROUP BY 1, 2),
        |sg0 AS (SELECT lmk, lmk AS node,
        |  CAST(1 AS HUGEINT) AS sigma, 0 AS hop FROM lm),
        |sg1 AS MATERIALIZED (SELECT m.lmk, m.node, SUM(s.sigma) AS sigma,
        |  1 AS hop FROM mh m JOIN sym e ON m.node = e.v
        |  JOIN sg0 s ON s.lmk = m.lmk AND s.node = e.u
        |  WHERE m.hop = 1 GROUP BY 1, 2),
        |sg2 AS MATERIALIZED (SELECT m.lmk, m.node, SUM(s.sigma) AS sigma,
        |  2 AS hop FROM mh m JOIN sym e ON m.node = e.v
        |  JOIN sg1 s ON s.lmk = m.lmk AND s.node = e.u
        |  WHERE m.hop = 2 GROUP BY 1, 2),
        |sg3 AS MATERIALIZED (SELECT m.lmk, m.node, SUM(s.sigma) AS sigma,
        |  3 AS hop FROM mh m JOIN sym e ON m.node = e.v
        |  JOIN sg2 s ON s.lmk = m.lmk AND s.node = e.u
        |  WHERE m.hop = 3 GROUP BY 1, 2),
        |sga AS (SELECT * FROM sg0 UNION ALL SELECT * FROM sg1
        |  UNION ALL SELECT * FROM sg2 UNION ALL SELECT * FROM sg3),
        |st AS (SELECT g.lmk AS s, g.node AS t, g.hop AS dst,
        |  g.sigma AS sig_st FROM sga g
        |  JOIN lm ON g.node = lm.lmk WHERE g.lmk < g.node),
        |sv AS (SELECT lmk AS s, node AS vn, hop AS d_sv,
        |  sigma AS sig_sv FROM sga),
        |vt AS (SELECT lmk AS t, node AS vn, hop AS d_vt,
        |  sigma AS sig_vt FROM sga)
        |SELECT sv.vn AS node,
        |  CAST(SUM((CAST(sv.sig_sv AS HUGEINT) * vt.sig_vt * 1000000)
        |    // st.sig_st) AS BIGINT) AS bc_micro
        |FROM st JOIN sv ON sv.s = st.s
        |JOIN vt ON vt.t = st.t AND vt.vn = sv.vn
        |WHERE sv.d_sv + vt.d_vt = st.dst
        |  AND sv.vn <> st.s AND sv.vn <> st.t
        |GROUP BY 1
        |ORDER BY bc_micro DESC, node LIMIT 20""".stripMargin,

    // k = (3·|E_sym|) div (4·|V|) in EXACT integer arithmetic; each
    // unrolled round counts the degree-qualified keep set, then
    // restricts the edges to keep×keep
    // every round CTE is MATERIALIZED: DuckDB inlines plain CTEs, and
    // each round references the previous one three times, so the
    // inlined tree re-expands the base self-join 3^rounds times and
    // spills to disk at sf1 (the exact DuckDB twin of the Spark-side
    // lazy-cache blowup fixed with localCheckpoints in GraphOps.kcoreOn)
    "q_graph_kcore" ->
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem WHERE l_partkey % 4 = 0),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
        |  JOIN op b ON a.o = b.o AND a.p < b.p),
        |s0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
        |kv AS MATERIALIZED (SELECT (3 * COUNT(*)) // (4 * COUNT(DISTINCT u)) AS kth
        |  FROM s0),
        |k1 AS MATERIALIZED (SELECT u FROM s0 GROUP BY u
        |  HAVING COUNT(*) >= (SELECT kth FROM kv)),
        |s1 AS MATERIALIZED (SELECT s0.u, s0.v FROM s0
        |  JOIN k1 a ON s0.u = a.u JOIN k1 b ON s0.v = b.u),
        |k2 AS MATERIALIZED (SELECT u FROM s1 GROUP BY u
        |  HAVING COUNT(*) >= (SELECT kth FROM kv)),
        |s2 AS MATERIALIZED (SELECT s1.u, s1.v FROM s1
        |  JOIN k2 a ON s1.u = a.u JOIN k2 b ON s1.v = b.u),
        |k3 AS MATERIALIZED (SELECT u FROM s2 GROUP BY u
        |  HAVING COUNT(*) >= (SELECT kth FROM kv)),
        |s3 AS MATERIALIZED (SELECT s2.u, s2.v FROM s2
        |  JOIN k3 a ON s2.u = a.u JOIN k3 b ON s2.v = b.u),
        |k4 AS MATERIALIZED (SELECT u FROM s3 GROUP BY u
        |  HAVING COUNT(*) >= (SELECT kth FROM kv))
        |SELECT CAST(round AS BIGINT) AS round, n_nodes,
        |(SELECT CAST(kth AS BIGINT) FROM kv) AS k FROM (
        |  SELECT 1 AS round, COUNT(*) AS n_nodes FROM k1
        |  UNION ALL SELECT 2, COUNT(*) FROM k2
        |  UNION ALL SELECT 3, COUNT(*) FROM k3
        |  UNION ALL SELECT 4, COUNT(*) FROM k4)
        |ORDER BY round""".stripMargin,

    "q_norm_remap" ->
      """SELECT COALESCE('NATION:' || n_name, 'RAW:' || CAST(c_nationkey AS VARCHAR)) AS canonical,
        |COUNT(*) AS n
        |FROM customer LEFT JOIN (SELECT * FROM nation WHERE n_nationkey < 20) nn
        |  ON c_nationkey = n_nationkey
        |GROUP BY canonical ORDER BY canonical""".stripMargin,

    "q_norm_edges" ->
      """WITH pm AS (SELECT * FROM (VALUES ('A', 'biolink:affects'),
        |  ('R', 'biolink:related_to')) v(raw, pred)),
        |no AS (SELECT o_orderkey FROM orders WHERE o_orderstatus <> 'P'),
        |np AS (SELECT p_partkey FROM part WHERE p_size <= 45),
        |j AS (SELECT
        |  COALESCE(pm.pred, 'raw:' || lower(l_returnflag)) AS predicate,
        |  CASE WHEN no.o_orderkey IS NOT NULL AND np.p_partkey IS NOT NULL THEN 'retained'
        |       WHEN no.o_orderkey IS NULL AND np.p_partkey IS NULL THEN 'dropped_both'
        |       WHEN no.o_orderkey IS NULL THEN 'dropped_subject'
        |       ELSE 'dropped_object' END AS status
        |  FROM lineitem
        |  LEFT JOIN pm ON l_returnflag = pm.raw
        |  LEFT JOIN no ON l_orderkey = no.o_orderkey
        |  LEFT JOIN np ON l_partkey = np.p_partkey)
        |SELECT status, predicate, COUNT(*) AS n_edges
        |FROM j GROUP BY status, predicate ORDER BY status, predicate""".stripMargin,

    // Composed EP1→EP2→EP3 pipeline ledger: every stage count re-derived
    // relationally. Mapped users are a subset of mapped customer keys by
    // construction, so multi-source canonicals = mapped users exactly.
    "q_kgx_validate" ->
      """WITH nodes AS (
        |  SELECT CASE WHEN c_custkey % 97 = 0 THEN CAST(c_custkey AS VARCHAR)
        |              ELSE 'CUST:' || c_custkey END AS id,
        |         CASE WHEN c_custkey % 89 = 0 THEN ''
        |              ELSE 'biolink:Agent' END AS category
        |  FROM customer
        |  UNION ALL
        |  SELECT 'PART:' || p_partkey AS id,
        |         CASE WHEN p_partkey % 89 = 0 THEN ''
        |              ELSE 'biolink:ChemicalEntity' END AS category
        |  FROM part),
        |edges AS (
        |  SELECT 'CUST:' || o_custkey AS subject,
        |         CASE WHEN l_returnflag = 'A' THEN 'biolink:affects'
        |              WHEN l_returnflag = 'R' THEN 'biolink:related_to'
        |              ELSE 'raw:' || lower(l_returnflag) END AS predicate,
        |         'PART:' || l_partkey AS object
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT rule, CAST(n AS BIGINT) AS n FROM (
        |SELECT 'invalid_curie' AS rule,
        |  (SELECT COUNT(*) FROM nodes
        |   WHERE NOT regexp_matches(id, '^[A-Za-z][A-Za-z0-9]*:.+')) AS n
        |UNION ALL SELECT 'missing_category',
        |  (SELECT COUNT(*) FROM nodes WHERE category = '')
        |UNION ALL SELECT 'dangling_subject',
        |  (SELECT COUNT(*) FROM edges
        |   WHERE subject NOT IN (SELECT id FROM nodes))
        |UNION ALL SELECT 'dangling_object',
        |  (SELECT COUNT(*) FROM edges
        |   WHERE object NOT IN (SELECT id FROM nodes))
        |UNION ALL SELECT 'unknown_predicate',
        |  (SELECT COUNT(*) FROM edges
        |   WHERE predicate NOT IN ('biolink:affects', 'biolink:related_to'))
        |) ORDER BY rule""".stripMargin,

    "q_emb_quantize" ->
      """WITH x AS (SELECT vec_id, label, unnest(range(1, 65)) AS dim,
        |  embedding FROM embeddings),
        |v AS (SELECT vec_id, label,
        |  CAST(embedding[CAST(dim AS INT)] AS DOUBLE) AS v FROM x),
        |m AS (SELECT vec_id, MAX(abs(v)) AS ma FROM v GROUP BY vec_id),
        |q AS (SELECT v.vec_id, label,
        |  CASE WHEN ma = 0 THEN 0
        |       ELSE CAST(round(v * 127 / ma) AS BIGINT) END AS q
        |  FROM v JOIN m ON v.vec_id = m.vec_id)
        |SELECT label, COUNT(DISTINCT vec_id) AS n_vecs,
        |CAST(SUM(q) AS BIGINT) AS sum_q,
        |CAST(MIN(q) AS BIGINT) AS min_q, CAST(MAX(q) AS BIGINT) AS max_q,
        |CAST(SUM(CASE WHEN abs(q) = 127 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_extreme
        |FROM q GROUP BY label ORDER BY label""".stripMargin,

    "q_pipeline_kgx" ->
      """WITH users AS (SELECT DISTINCT user_id FROM events),
        |mc AS (SELECT c_custkey FROM customer WHERE c_nationkey < 20),
        |mu AS (SELECT user_id FROM users
        |       WHERE user_id IN (SELECT c_custkey FROM mc)),
        |mp AS (SELECT p_partkey FROM part WHERE p_size <= 45),
        |edges AS (SELECT o_custkey AS subject,
        |  CASE WHEN l_returnflag = 'A' THEN 'biolink:affects'
        |       WHEN l_returnflag = 'R' THEN 'biolink:related_to'
        |       ELSE 'raw:' || lower(l_returnflag) END AS predicate,
        |  l_partkey AS object,
        |  (o_custkey IN (SELECT c_custkey FROM mc)) AS s_ok,
        |  (l_partkey IN (SELECT p_partkey FROM mp)) AS o_ok
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT stage, CAST(n AS BIGINT) AS n FROM (
        |SELECT 'parsed_nodes' AS stage,
        |  (SELECT count(*) FROM customer) + (SELECT count(*) FROM users)
        |  + (SELECT count(*) FROM part) AS n
        |UNION ALL SELECT 'parsed_edges', (SELECT count(*) FROM edges)
        |UNION ALL SELECT 'normalized_nodes',
        |  (SELECT count(*) FROM mc) + (SELECT count(*) FROM mu)
        |  + (SELECT count(*) FROM mp)
        |UNION ALL SELECT 'norm_failed_nodes',
        |  (SELECT count(*) FROM customer WHERE c_nationkey >= 20)
        |  + (SELECT count(*) FROM users
        |     WHERE user_id NOT IN (SELECT c_custkey FROM mc))
        |  + (SELECT count(*) FROM part WHERE p_size > 45)
        |UNION ALL SELECT 'retained_edges',
        |  (SELECT count(*) FROM edges WHERE s_ok AND o_ok)
        |UNION ALL SELECT 'dropped_edges',
        |  (SELECT count(*) FROM edges WHERE NOT (s_ok AND o_ok))
        |UNION ALL SELECT 'merged_nodes',
        |  (SELECT count(*) FROM (SELECT c_custkey FROM mc
        |    UNION SELECT user_id FROM mu))
        |  + (SELECT count(*) FROM mp)
        |UNION ALL SELECT 'merged_multi_source_nodes',
        |  (SELECT count(*) FROM mu)
        |UNION ALL SELECT 'merged_edges',
        |  (SELECT count(*) FROM (SELECT DISTINCT subject, predicate, object
        |    FROM edges WHERE s_ok AND o_ok))
        |UNION ALL SELECT 'written_nodes',
        |  (SELECT count(*) FROM (SELECT c_custkey FROM mc
        |    UNION SELECT user_id FROM mu))
        |  + (SELECT count(*) FROM mp)
        |UNION ALL SELECT 'written_edges',
        |  (SELECT count(*) FROM (SELECT DISTINCT subject, predicate, object
        |    FROM edges WHERE s_ok AND o_ok))
        |) ORDER BY stage""".stripMargin,

    "q_pivot" ->
      """SELECT user_id % 100 AS user_bucket,
        |CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |  AS BIGINT) AS click,
        |CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |  AS BIGINT) AS error,
        |CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |  AS BIGINT) AS purchase,
        |CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |  AS BIGINT) AS signup,
        |CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |  AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin,

    "q_na_funcs" ->
      """WITH base AS (SELECT c_custkey, c_nationkey,
        |  CASE WHEN c_acctbal < 0 THEN NULL ELSE c_acctbal END AS bal,
        |  CASE WHEN c_mktsegment = 'BUILDING' THEN NULL
        |       ELSE c_mktsegment END AS seg
        |  FROM customer)
        |SELECT c_nationkey, COUNT(*) AS n_rows,
        |CAST(SUM(CASE WHEN seg IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_null_seg,
        |CAST(SUM(CAST(COALESCE(bal, 0.0) AS DECIMAL(12,2)))
        |  AS DECIMAL(38,2))::DOUBLE AS sum_bal_filled,
        |CAST(SUM(CASE WHEN bal IS NOT NULL AND seg IS NOT NULL
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_complete
        |FROM base GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_subquery_scalar" ->
      """SELECT o_orderkey, o_custkey,
        |CAST(CAST(o_totalprice AS DECIMAL(38,2)) AS DOUBLE) AS totalprice
        |FROM orders o
        |WHERE CAST(o_totalprice AS DECIMAL(12,2)) *
        |      (SELECT COUNT(*) FROM orders o2
        |       WHERE o2.o_custkey = o.o_custkey)
        |    > 2 * (SELECT CAST(SUM(CAST(o3.o_totalprice AS DECIMAL(12,2)))
        |             AS DECIMAL(38,2))
        |           FROM orders o3 WHERE o3.o_custkey = o.o_custkey)
        |ORDER BY o_orderkey""".stripMargin,

    "q_join_bucketed" ->
      """SELECT o_orderpriority, COUNT(*) AS n_lines,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_graph_node_merge" ->
      """WITH nodes AS (
        |  SELECT c_custkey AS id, 'customer' AS category, c_name AS name FROM customer
        |  UNION ALL
        |  SELECT DISTINCT user_id AS id, 'user' AS category,
        |    'user_' || CAST(user_id AS VARCHAR) AS name FROM events)
        |SELECT id, array_to_string(list_sort(list(DISTINCT category)), ',') AS cats,
        |max(name) AS name, COUNT(*) AS n_srcs
        |FROM nodes GROUP BY id ORDER BY id""".stripMargin,

    "q_graph_edge_merge" ->
      """SELECT l_orderkey AS subject, l_partkey AS object,
        |CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_qty,
        |array_to_string(list_sort(list(DISTINCT l_suppkey)), ',') AS supps,
        |COUNT(*) AS n
        |FROM lineitem GROUP BY subject, object ORDER BY subject, object""".stripMargin,

    // meta-knowledge-graph: node prefixes per category + distinct
    // (subject_category, predicate, object_category) edge patterns;
    // '' sentinels (not NULL) keep ordering/hashing engine-agnostic
    "q_graph_metakg" ->
      """WITH nodes AS (
        |  SELECT 'CUST:' || c_custkey AS id,
        |    lower(c_mktsegment) AS category, 'CUST' AS prefix
        |  FROM customer
        |  UNION ALL
        |  SELECT 'SUPP:' || s_suppkey, 'supplier', 'SUPP' FROM supplier
        |  UNION ALL
        |  SELECT (CASE WHEN p_size > 25 THEN 'PARTX' ELSE 'PART' END)
        |      || ':' || p_partkey,
        |    lower(split_part(p_type, ' ', 1)),
        |    CASE WHEN p_size > 25 THEN 'PARTX' ELSE 'PART' END
        |  FROM part),
        |edges AS (
        |  SELECT DISTINCT subject, predicate, object FROM (
        |    SELECT 'CUST:' || o.o_custkey AS subject,
        |      CASE l.l_returnflag WHEN 'R' THEN 'returned'
        |        WHEN 'A' THEN 'accepted' ELSE 'ordered' END AS predicate,
        |      (CASE WHEN p.p_size > 25 THEN 'PARTX' ELSE 'PART' END)
        |        || ':' || l.l_partkey AS object
        |    FROM lineitem l
        |    JOIN orders o ON l.l_orderkey = o.o_orderkey
        |    JOIN part p ON l.l_partkey = p.p_partkey
        |    UNION ALL
        |    SELECT 'SUPP:' || l.l_suppkey, 'supplies',
        |      (CASE WHEN p.p_size > 25 THEN 'PARTX' ELSE 'PART' END)
        |        || ':' || l.l_partkey
        |    FROM lineitem l
        |    JOIN part p ON l.l_partkey = p.p_partkey)),
        |npat AS (SELECT 'node' AS kind, category, '' AS predicate,
        |    '' AS object_category,
        |    array_to_string(list_sort(list(DISTINCT prefix)), ',')
        |      AS prefixes,
        |    COUNT(*) AS n
        |  FROM nodes GROUP BY category),
        |epat AS (SELECT 'edge' AS kind,
        |    a.category AS category, e.predicate,
        |    b.category AS object_category, '' AS prefixes,
        |    COUNT(*) AS n
        |  FROM edges e JOIN nodes a ON e.subject = a.id
        |  JOIN nodes b ON e.object = b.id
        |  GROUP BY 1, 2, 3, 4)
        |SELECT * FROM npat UNION ALL SELECT * FROM epat
        |ORDER BY kind, category, predicate, object_category""".stripMargin,

    "q_graph_degree" ->
      """WITH deg AS (
        |  SELECT 'order' AS ntype, l_orderkey AS node, COUNT(*) AS degree
        |  FROM lineitem GROUP BY ntype, node
        |  UNION ALL
        |  SELECT 'part' AS ntype, l_partkey AS node, COUNT(*) AS degree
        |  FROM lineitem GROUP BY ntype, node)
        |SELECT ntype, node, degree FROM deg
        |ORDER BY degree DESC, ntype, node LIMIT 20""".stripMargin,

    // ---- §2.9 dedup / similarity / text ----
    "q_dedup_incr" ->
      """WITH batch AS (
        |  SELECT doc_id + 1000000 AS doc_id, source, text
        |  FROM documents WHERE doc_id % 7 = 3
        |  UNION ALL
        |  SELECT doc_id + 2000000 AS doc_id, source, text || ' rev2' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id + 3000000 AS doc_id, source, text || ' rev2' AS text
        |  FROM documents WHERE doc_id % 10 = 0),
        |idx AS (SELECT DISTINCT md5(text) AS sig FROM documents),
        |sgn AS (SELECT doc_id, source, md5(text) AS sig FROM batch),
        |led AS (
        |  SELECT s.doc_id, s.source,
        |    CASE WHEN i.sig IS NOT NULL THEN 'dup_index'
        |         WHEN s.doc_id <> MIN(s.doc_id) OVER (PARTITION BY s.sig)
        |           THEN 'dup_batch'
        |         ELSE 'kept' END AS decision
        |  FROM sgn s LEFT JOIN idx i ON s.sig = i.sig)
        |SELECT doc_id, source, decision FROM led
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT source, COUNT(*) AS n_docs,
        |COUNT(DISTINCT md5(text)) AS n_distinct,
        |COUNT(*) - COUNT(DISTINCT md5(text)) AS n_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    "q_dedup_simhash" -> {
      val bitSums = (0 until 60).map(j =>
        s"SUM(CASE WHEN (h >> $j) & 1 = 1 THEN cnt ELSE -cnt END) AS b$j")
        .mkString(",\n")
      val shBits = (0 until 60).map(j =>
        s"CASE WHEN b$j >= 0 THEN (CAST(1 AS BIGINT) << $j) ELSE 0 END")
        .mkString(" + ")
      s"""WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS cnt FROM tok GROUP BY doc_id, term),
         |tfh AS (SELECT doc_id, cnt, ('0x' || substr(md5(term), 1, 15))::BIGINT AS h FROM tf),
         |sums AS (SELECT doc_id,
         |$bitSums
         |FROM tfh GROUP BY doc_id),
         |sh AS (SELECT doc_id, $shBits AS simhash FROM sums),
         |bk AS (SELECT doc_id, simhash, b.bi AS bi,
         |  (simhash >> (CAST(b.bi AS INT) * 15)) & 32767 AS bv
         |  FROM sh, (SELECT unnest(range(0, 4)) AS bi) b),
         |cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b,
         |  CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming
         |  FROM bk x JOIN bk y
         |  ON x.bi = y.bi AND x.bv = y.bv AND x.doc_id < y.doc_id)
         |SELECT a, b, hamming FROM cand WHERE hamming <= 3
         |ORDER BY a, b""".stripMargin
    },

    // exact answer via a full inverted-index join — the Spark side's
    // prefix filtering must (provably, prefix-filter theorem) produce
    // the identical pair set
    "q_dedup_ngram" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS p FROM documents),
        |e AS (SELECT doc_id, p, unnest(range(1, len(p) - 3)) AS i
        |  FROM d WHERE len(p) >= 5),
        |g AS (SELECT DISTINCT doc_id,
        |  array_to_string(list_slice(p, CAST(i AS INT), CAST(i + 4 AS INT)), ' ') AS ng
        |  FROM e),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
        |  FROM g x JOIN g y ON x.ng = y.ng AND x.doc_id < y.doc_id
        |  GROUP BY a, b),
        |j AS (SELECT a, b,
        |  ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6) AS jaccard
        |  FROM pr JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id)
        |SELECT a, b, jaccard FROM j WHERE jaccard >= 0.5 ORDER BY a, b""".stripMargin,

    // Directed containment — the oracle skips the (lossless) prefix
    // filter and joins full gram sets; inter/|A| >= 0.8 both directions.
    "q_dedup_contain" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS p FROM documents),
        |e AS (SELECT doc_id, p, unnest(range(1, len(p) - 3)) AS i
        |  FROM d WHERE len(p) >= 5),
        |g AS (SELECT DISTINCT doc_id,
        |  array_to_string(list_slice(p, CAST(i AS INT), CAST(i + 4 AS INT)), ' ') AS ng
        |  FROM e),
        |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
        |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
        |  FROM g x JOIN g y ON x.ng = y.ng AND x.doc_id <> y.doc_id
        |  GROUP BY a, b),
        |j AS (SELECT a, b,
        |  ROUND(CAST(inter AS DOUBLE) / sa.n, 6) AS containment
        |  FROM pr JOIN sz sa ON a = sa.doc_id)
        |SELECT a, b, containment FROM j WHERE containment >= 0.8
        |ORDER BY a, b""".stripMargin,

    // The full dedup RUN, oracle-chained from two proven twins: the
    // q_dedup_ngram exact inverted-index pair join feeds the
    // q_graph_cc pointer-doubling CC rounds (min-propagate over the
    // undirected pair set, then one pointer jump per round — 8 rounds
    // covers component diameter 2^8, far past any near-clique dup
    // cluster), then min-doc_id survivor classification and the
    // per-source ledger. Counts CAST to BIGINT (DuckDB SUM is HUGEINT
    // → float64 on the wire otherwise).
    "q_dedup_cluster" -> {
      val rounds = 8
      val base =
        """WITH d AS (SELECT doc_id, string_split(lower(text),' ') AS p FROM documents),
          |e AS (SELECT doc_id, p, unnest(range(1, len(p) - 3)) AS i
          |  FROM d WHERE len(p) >= 5),
          |g AS (SELECT DISTINCT doc_id,
          |  array_to_string(list_slice(p, CAST(i AS INT), CAST(i + 4 AS INT)), ' ') AS ng
          |  FROM e),
          |sz AS (SELECT doc_id, COUNT(*) AS n FROM g GROUP BY doc_id),
          |pr AS (SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS inter
          |  FROM g x JOIN g y ON x.ng = y.ng AND x.doc_id < y.doc_id
          |  GROUP BY a, b),
          |pairs AS MATERIALIZED (SELECT a, b FROM pr
          |  JOIN sz sa ON a = sa.doc_id JOIN sz sb ON b = sb.doc_id
          |  WHERE ROUND(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 6)
          |    >= 0.5),
          |ue AS MATERIALIZED (SELECT a, b FROM pairs
          |  UNION ALL SELECT b AS a, a AS b FROM pairs),
          |l0 AS MATERIALIZED (SELECT a AS node, a AS comp FROM ue GROUP BY a)""".stripMargin
      val ctes = (1 to rounds).map { k =>
        s"""t$k AS MATERIALIZED (SELECT ue.a AS node,
           |  MIN(LEAST(la.comp, lb.comp)) AS comp FROM ue
           |  JOIN l${k - 1} la ON ue.a = la.node
           |  JOIN l${k - 1} lb ON ue.b = lb.node GROUP BY ue.a),
           |l$k AS MATERIALIZED (SELECT x.node, LEAST(x.comp, y.comp) AS comp
           |  FROM t$k x JOIN t$k y ON x.comp = y.node)""".stripMargin
      }
      (base +: ctes).mkString("", ",\n", "\n") +
        s"""SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           |CAST(SUM(CASE WHEN l.comp IS NOT NULL THEN 1 ELSE 0 END)
           |  AS BIGINT) AS n_in_dup_clusters,
           |CAST(SUM(CASE WHEN l.comp IS NOT NULL AND l.comp <> doc_id
           |  THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           |CAST(COUNT(*) - SUM(CASE WHEN l.comp IS NOT NULL
           |  AND l.comp <> doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |FROM documents LEFT JOIN l$rounds l ON documents.doc_id = l.node
           |GROUP BY source ORDER BY source""".stripMargin
    },

    "q_dedup_embcos" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
        |SELECT x.vec_id AS a, y.vec_id AS b,
        |ROUND(list_dot_product(x.v, y.v) /
        |  (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 6) AS cos
        |FROM e x JOIN e y ON x.vec_id < y.vec_id
        |ORDER BY cos DESC, a, b LIMIT 50""".stripMargin,

    "q_sim_cosine_topk" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
        |SELECT e.vec_id, e.label,
        |ROUND(list_dot_product(e.v, q.qv) /
        |  (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |FROM e, q WHERE e.vec_id <> 0
        |ORDER BY cos DESC, e.vec_id LIMIT 10""".stripMargin,

    // exact kNN join over the sampled query set; ranking by the SAME
    // 6dp-rounded cosine as Spark (sequential-fold doubles match
    // bit-for-bit), nb_id tiebreak
    "q_sim_knn_graph" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % 50 = 0),
        |s AS (SELECT q.q_id, e.vec_id AS nb_id,
        |  ROUND(list_dot_product(e.v, q.qv) /
        |    (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6) AS cos
        |  FROM e, q WHERE e.vec_id <> q.q_id),
        |r AS (SELECT q_id, nb_id, cos,
        |  row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, nb_id) AS rk
        |  FROM s)
        |SELECT q_id, nb_id, cos, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin,

    "q_sim_centroid" ->
      """WITH x AS (
        |  SELECT label, CAST(dims.dim AS BIGINT) AS dim,
        |  CAST(CAST(embedding[dims.dim] AS DOUBLE) AS DECIMAL(25,12)) AS v
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS dim) dims),
        |g AS (SELECT label, dim, COUNT(*) AS n_vecs,
        |  CAST(SUM(v) AS DECIMAL(17,12)) AS sv FROM x GROUP BY label, dim),
        |nrm AS (SELECT label, CAST(SUM(sv * sv) AS DOUBLE) AS ss FROM g GROUP BY label)
        |SELECT g.label, g.dim, g.n_vecs,
        |ROUND(CAST(g.sv AS DOUBLE) / g.n_vecs, 6) AS cavg,
        |ROUND(sqrt(nrm.ss) / g.n_vecs, 6) AS cnorm
        |FROM g JOIN nrm ON g.label = nrm.label
        |ORDER BY g.label, g.dim""".stripMargin,

    "q_text_pii" ->
      """WITH t AS (SELECT source,
        |  CASE WHEN doc_id % 50 = 0
        |       THEN text || ' contact: user' || doc_id || '@example.com now'
        |       ELSE text END AS t
        |  FROM documents),
        |x AS (SELECT source,
        |  length(regexp_split_to_array(t,
        |    '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+')) - 1 AS n_emails,
        |  length(t) AS len_before,
        |  length(regexp_replace(t, '[a-z0-9._]+@[a-z0-9.-]+[.][a-z]+',
        |    '[EMAIL]', 'g')) AS len_after
        |  FROM t)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN n_emails > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_docs_with_pii,
        |CAST(SUM(n_emails) AS BIGINT) AS n_emails,
        |CAST(SUM(len_before - len_after) AS BIGINT) AS chars_redacted
        |FROM x GROUP BY source ORDER BY source""".stripMargin,

    "q_text_vocab_encode" ->
      """WITH dd AS (SELECT doc_id, string_split(lower(text), ' ') AS p FROM documents),
        |ix AS (SELECT doc_id, p, unnest(range(1, len(p) + 1)) AS pos FROM dd),
        |tok AS (SELECT doc_id, CAST(pos AS INT) AS pos,
        |  p[CAST(pos AS INT)] AS term FROM ix),
        |v AS (SELECT term, COUNT(*) AS tf FROM tok GROUP BY term),
        |vid AS (SELECT term,
        |  CAST(row_number() OVER (ORDER BY tf DESC, term) AS BIGINT) AS id
        |  FROM v),
        |e AS (SELECT doc_id, pos, id FROM tok JOIN vid USING (term)
        |  WHERE doc_id < 20)
        |SELECT doc_id, COUNT(*) AS n_tokens,
        |CAST(SUM(id) AS BIGINT) AS id_sum,
        |string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS encoded
        |FROM e GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_wordcount" ->
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(lower(text), ' ')) AS token FROM documents) t
        |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin,

    "q_text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
        |CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        |ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
        |COUNT(DISTINCT doc_id) AS d_docs
        |FROM documents GROUP BY lang, source ORDER BY lang, source""".stripMargin,

    "q_text_langid" ->
      """WITH tok AS (SELECT doc_id, lang,
        |  unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |sc AS (SELECT doc_id, lang,
        |  SUM(CASE WHEN term IN ('the','a','of','and','is') THEN 1 ELSE 0 END) AS s_en,
        |  SUM(CASE WHEN term IN ('der','die','das','und','ist') THEN 1 ELSE 0 END) AS s_de,
        |  SUM(CASE WHEN term IN ('el','los','las','de','y') THEN 1 ELSE 0 END) AS s_es,
        |  SUM(CASE WHEN term IN ('le','les','et','est','une') THEN 1 ELSE 0 END) AS s_fr,
        |  SUM(CASE WHEN term IN ('的','是','了','在','我') THEN 1 ELSE 0 END) AS s_zh
        |  FROM tok GROUP BY doc_id, lang),
        |p AS (SELECT lang,
        |  CASE WHEN greatest(s_en, s_de, s_es, s_fr, s_zh) = 0 THEN 'unknown'
        |       WHEN s_en = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'en'
        |       WHEN s_de = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'de'
        |       WHEN s_es = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'es'
        |       WHEN s_fr = greatest(s_en, s_de, s_es, s_fr, s_zh) THEN 'fr'
        |       ELSE 'zh' END AS predicted
        |  FROM sc)
        |SELECT lang, predicted, COUNT(*) AS n
        |FROM p GROUP BY lang, predicted ORDER BY lang, predicted""".stripMargin,

    "q_text_quality" ->
      """WITH tok AS (SELECT doc_id, source,
        |  unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |pd AS (SELECT doc_id, source, COUNT(*) AS n_tokens,
        |  SUM(CASE WHEN term IN ('the','a','of','and','is','to','in') THEN 1 ELSE 0 END) AS n_stop,
        |  SUM(length(term)) AS token_chars,
        |  SUM(CASE WHEN length(term) >= 8 THEN 1 ELSE 0 END) AS n_long
        |  FROM tok GROUP BY doc_id, source)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
        |ROUND(CAST(SUM(n_stop) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE), 6) AS stop_ratio,
        |ROUND(CAST(SUM(token_chars) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE), 6) AS mean_token_len,
        |ROUND(CAST(SUM(n_long) AS DOUBLE) / CAST(SUM(n_tokens) AS DOUBLE), 6) AS long_ratio,
        |CAST(SUM(CASE WHEN n_tokens < 10 THEN 1 ELSE 0 END) AS BIGINT) AS n_short_docs
        |FROM pd GROUP BY source ORDER BY source""".stripMargin,

    "q_text_tokens" ->
      """WITH tok AS (SELECT doc_id,
        |  unnest(string_split(lower(text), ' ')) AS term FROM documents)
        |SELECT doc_id, COUNT(*) AS ws_tokens,
        |CAST(SUM(CAST(ceil(length(term) / 4.0) AS BIGINT)) AS BIGINT) AS bpe_est,
        |COUNT(DISTINCT term) AS distinct_tokens
        |FROM tok GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_text_fingerprint" ->
      """WITH d AS (SELECT doc_id, source, string_split(lower(text), ' ') AS p FROM documents),
        |e AS (SELECT doc_id, source, p, unnest(range(1, len(p) - 3)) AS i
        |  FROM d WHERE len(p) >= 5),
        |s AS (SELECT doc_id, source,
        |  md5(array_to_string(list_slice(p, CAST(i AS INT), CAST(i + 4 AS INT)), ' ')) AS h
        |  FROM e)
        |SELECT doc_id, source, MIN(h) AS fp
        |FROM s GROUP BY doc_id, source ORDER BY doc_id""".stripMargin,

    // winnowing (MOSS): md5 5-gram shingle hashes, min per 4-window
    // (full windows only: i <= m-3), distinct per doc; nd per
    // (source, fp) = docs carrying the print since f is doc-distinct
    "q_text_winnowing" ->
      """WITH d AS (SELECT doc_id, source, string_split(lower(text), ' ') AS p
        |  FROM documents WHERE len(string_split(lower(text), ' ')) >= 8),
        |e AS (SELECT doc_id, source, p, unnest(range(1, len(p) - 3)) AS i FROM d),
        |s AS (SELECT doc_id, source, i,
        |  md5(array_to_string(list_slice(p, CAST(i AS INT), CAST(i + 4 AS INT)), ' ')) AS h
        |  FROM e),
        |wm AS (SELECT doc_id, source, i,
        |  MIN(h) OVER (PARTITION BY doc_id ORDER BY i
        |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
        |  COUNT(*) OVER (PARTITION BY doc_id) AS m FROM s),
        |f AS (SELECT DISTINCT doc_id, source, fp FROM wm WHERE i <= m - 3),
        |pf AS (SELECT source, fp, COUNT(*) AS nd FROM f GROUP BY 1, 2),
        |nd AS (SELECT source, COUNT(DISTINCT doc_id) AS n_docs FROM f GROUP BY 1)
        |SELECT pf.source, nd.n_docs, CAST(SUM(pf.nd) AS BIGINT) AS tot_sel,
        |COUNT(*) AS distinct_fp,
        |CAST(SUM(CASE WHEN pf.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS shared_fp
        |FROM pf JOIN nd ON pf.source = nd.source
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "q_text_contamination" ->
      """WITH d AS (SELECT doc_id, source, string_split(lower(text), ' ') AS p FROM documents),
        |e AS (SELECT doc_id, source, p, unnest(range(1, len(p) - 3)) AS i
        |  FROM d WHERE len(p) >= 5),
        |g AS (SELECT doc_id, source,
        |  array_to_string(list_slice(p, CAST(i AS INT), CAST(i + 4 AS INT)), ' ') AS ng
        |  FROM e),
        |bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 100 = 0),
        |cont AS (SELECT DISTINCT doc_id FROM g
        |  WHERE doc_id % 100 <> 0 AND ng IN (SELECT ng FROM bench))
        |SELECT source, COUNT(*) AS n_train,
        |CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |round(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
        |  THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 6) AS contamination_rate
        |FROM documents WHERE doc_id % 100 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_text_repetition" ->
      """WITH tok AS (SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS term
        |  FROM documents),
        |pt AS (SELECT doc_id, source, term, COUNT(*) AS c
        |  FROM tok GROUP BY doc_id, source, term),
        |pd AS (SELECT doc_id, source, SUM(c) AS n_tokens,
        |  COUNT(*) AS n_distinct, MAX(c) AS top_c
        |  FROM pt GROUP BY doc_id, source),
        |d2src AS (SELECT doc_id, string_split(lower(text), ' ') AS p FROM documents),
        |g2 AS (SELECT doc_id,
        |  array_to_string(list_slice(p, CAST(i AS INT), CAST(i + 1 AS INT)), ' ') AS g
        |  FROM (SELECT doc_id, p, unnest(range(1, len(p))) AS i
        |        FROM d2src WHERE len(p) >= 2)),
        |pd2 AS (SELECT doc_id, COUNT(*) AS n2, COUNT(DISTINCT g) AS d2
        |  FROM g2 GROUP BY doc_id),
        |j AS (SELECT pd.*, pd2.n2, pd2.d2 FROM pd LEFT JOIN pd2 USING (doc_id))
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN top_c * 5 > n_tokens THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_top_token_heavy,
        |CAST(SUM(CASE WHEN (n2 - d2) * 5 > n2 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_dup_2gram_heavy,
        |round(SUM(n_tokens - n_distinct)::DOUBLE / SUM(n_tokens), 6)
        |  AS dup_token_ratio
        |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "q_sample_mixture" ->
      """WITH b AS (SELECT lang, n_chars,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#mix'), 1, 4))::INT % 100 AS bucket
        |  FROM documents),
        |k AS (SELECT lang, n_chars,
        |  CASE WHEN bucket < (CASE lang WHEN 'en' THEN 100 WHEN 'zh' THEN 50
        |    ELSE 25 END) THEN 1 ELSE 0 END AS kept FROM b)
        |SELECT lang, COUNT(*) AS n_total,
        |CAST(SUM(kept) AS BIGINT) AS n_kept,
        |CAST(SUM(kept * n_chars) AS BIGINT) AS kept_chars
        |FROM k GROUP BY lang ORDER BY lang""".stripMargin,

    "q_sample_split" ->
      """WITH b AS (SELECT source, n_chars,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS bucket
        |  FROM documents),
        |s AS (SELECT source, n_chars,
        |  CASE WHEN bucket < 90 THEN 'train'
        |       WHEN bucket < 95 THEN 'val'
        |       ELSE 'test' END AS split FROM b)
        |SELECT source, split, COUNT(*) AS n_docs,
        |CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM s GROUP BY source, split ORDER BY source, split""".stripMargin,

    // τ=2 temperature weights: INTEGER floor(sqrt(count)) — IEEE sqrt
    // is correctly rounded so floor∘sqrt is engine-identical; only the
    // realized rate crosses the wire as a rounded double
    // per-lang lift: the double is computed from identical exact
    // integers in both engines, so ordering (incl. equal-double ties
    // broken by token) is deterministic
    "q_text_keyterms" ->
      """WITH lt AS (SELECT lang,
        |  unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |c AS (SELECT lang, token, COUNT(*) AS cnt_l FROM lt
        |  GROUP BY 1, 2),
        |tt AS (SELECT token, SUM(cnt_l) AS cnt_all FROM c GROUP BY 1),
        |ltot AS (SELECT lang, SUM(cnt_l) AS t_l FROM c GROUP BY 1),
        |tot AS (SELECT SUM(cnt_l) AS t FROM c),
        |lf AS (SELECT c.lang, c.token, c.cnt_l,
        |  CAST(c.cnt_l AS DOUBLE) * CAST((SELECT t FROM tot) AS DOUBLE)
        |   / (CAST(tt.cnt_all AS DOUBLE) * CAST(ltot.t_l AS DOUBLE))
        |   AS lift_raw
        |  FROM c JOIN tt USING (token) JOIN ltot USING (lang)
        |  WHERE c.cnt_l >= 20),
        |r AS (SELECT lang, token, cnt_l, lift_raw,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY lift_raw DESC, token) AS rank FROM lf)
        |SELECT lang, rank, token, cnt_l, ROUND(lift_raw, 6) AS lift
        |FROM r WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,

    // DSIR-shaped importance selection: integer floor-div weights
    // (HUGEINT // BIGINT == Spark long div for positives), per-doc
    // scores quantized DECIMAL(18,6), threshold vs the 1-row corpus
    // mean with strict > in both engines
    "q_sample_importance" ->
      """WITH tok AS (SELECT doc_id, lang, (source = 'src0') AS is_t,
        |  unnest(string_split(lower(text), ' ')) AS token
        |  FROM documents),
        |wt AS (SELECT token,
        |  ((SUM(CASE WHEN is_t THEN 1 ELSE 0 END) + 1) * 1000000)
        |    // (COUNT(*) + 1) AS w FROM tok GROUP BY token),
        |sc AS (SELECT t.doc_id, t.lang,
        |  CAST(ROUND(CAST(SUM(w.w) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE), 6) AS DECIMAL(18, 6)) AS score
        |  FROM tok t JOIN wt w ON t.token = w.token GROUP BY 1, 2),
        |m AS (SELECT CAST(SUM(score) AS DOUBLE) / COUNT(*) AS ms
        |  FROM sc),
        |f AS (SELECT lang, score,
        |  CAST(score AS DOUBLE) > (SELECT ms FROM m) AS sel FROM sc)
        |SELECT lang, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_selected,
        |CASE WHEN SUM(CASE WHEN sel THEN 1 ELSE 0 END) > 0 THEN
        |  ROUND(CAST(SUM(CASE WHEN sel THEN score END) AS DOUBLE)
        |    / CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS DOUBLE), 6)
        |END AS avg_sel_score
        |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "q_sample_temperature" ->
      """WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY 1),
        |w AS (SELECT lang, n_docs,
        |  CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight FROM c),
        |t AS (SELECT CAST(SUM(weight) AS BIGINT) AS tw,
        |  CAST(SUM(n_docs) AS BIGINT) AS td FROM w)
        |SELECT lang, n_docs, weight,
        |ROUND(CAST(weight AS DOUBLE) / tw, 6) AS rate,
        |(weight * td) // tw AS target_docs
        |FROM w, t ORDER BY lang""".stripMargin,

    // curation funnel ledger; dedup representative = min doc_id per
    // md5(text), split bucket = the '#'-less q_sample_split rule
    "q_curate_pipeline" ->
      """WITH s1 AS (SELECT * FROM documents WHERE lang <> 'zh'),
        |s2 AS (SELECT * FROM s1
        |  WHERE len(string_split(text, ' ')) BETWEEN 20 AND 1000),
        |s3 AS (SELECT md5(text) AS h, MIN(doc_id) AS doc_id,
        |  MIN(n_chars) AS n_chars FROM s2 GROUP BY 1),
        |s4 AS (SELECT * FROM s3
        |  WHERE ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 < 90)
        |SELECT * FROM (
        |  SELECT CAST(0 AS BIGINT) AS stage, 'raw' AS stage_name,
        |    COUNT(*) AS n_docs,
        |    COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) AS n_chars FROM documents
        |  UNION ALL SELECT 1, 'lang_keep', COUNT(*),
        |    COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) FROM s1
        |  UNION ALL SELECT 2, 'quality_keep', COUNT(*),
        |    COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) FROM s2
        |  UNION ALL SELECT 3, 'dedup', COUNT(*),
        |    COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) FROM s3
        |  UNION ALL SELECT 4, 'split_train', COUNT(*),
        |    COALESCE(CAST(SUM(n_chars) AS BIGINT), 0) FROM s4
        |) ORDER BY stage""".stripMargin,

    "q_sink_neo4j" ->
      """WITH c AS (
        |  SELECT 'Agent' AS label, COUNT(*) AS n FROM customer
        |  UNION ALL SELECT 'customer', COUNT(*) FROM customer
        |  UNION ALL SELECT 'ChemicalEntity', COUNT(*) FROM part
        |  UNION ALL SELECT 'part', COUNT(*) FROM part
        |  UNION ALL SELECT 'rel:RELATED_TO', COUNT(*) FROM lineitem)
        |SELECT label, CAST(n AS BIGINT) AS n
        |FROM c ORDER BY label""".stripMargin,

    // Source-precedence conflation: arg-max by (priority, source,
    // name) per id via ROW_NUMBER — DuckDB twin of Spark's
    // max(struct(prio, source, name))
    "q_merge_precedence" ->
      """WITH nodes AS (
        |  SELECT 'CUST:' || c_custkey AS id, c_name AS name,
        |    'customers' AS source, 1 AS prio FROM customer
        |  UNION ALL
        |  SELECT DISTINCT 'NATION:' || c_nationkey,
        |    'NATION:' || c_nationkey, 'customers', 1 FROM customer
        |  UNION ALL
        |  SELECT 'NATION:' || n_nationkey, n_name, 'nations', 2
        |    FROM nation),
        |w AS (SELECT id, source, name,
        |  COUNT(DISTINCT source) OVER (PARTITION BY id) AS n_srcs,
        |  ROW_NUMBER() OVER (PARTITION BY id
        |    ORDER BY prio DESC, source DESC, name DESC) AS rk
        |  FROM nodes)
        |SELECT source AS winner_source,
        |CAST(COUNT(*) AS BIGINT) AS n_nodes,
        |CAST(SUM(CASE WHEN n_srcs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_contested
        |FROM w WHERE rk = 1 GROUP BY 1 ORDER BY 1""".stripMargin,

    // Multi-graph orchestration ledger: per-graph merge counts are
    // recomputed from customer/nation; the sharing proof rows are the
    // spec constants (2 distinct sources loaded, 3 references)
    "q_pipeline_multigraph" ->
      """WITH cn AS (SELECT COUNT(*) AS n_cust,
        |  COUNT(DISTINCT c_nationkey) AS dn FROM customer),
        |nn AS (SELECT COUNT(*) AS n_nation FROM nation),
        |nb AS (SELECT COUNT(DISTINCT c_nationkey) AS nb FROM customer
        |  WHERE c_nationkey IN (SELECT n_nationkey FROM nation)),
        |un AS (SELECT COUNT(*) AS un FROM (
        |  SELECT DISTINCT c_nationkey AS k FROM customer
        |  UNION SELECT n_nationkey FROM nation) t)
        |SELECT stage, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'commerce_graph:parsed_nodes' AS stage,
        |    n_cust + dn + n_nation AS n FROM cn, nn
        |  UNION ALL SELECT 'commerce_graph:parsed_edges',
        |    n_cust + n_nation FROM cn, nn
        |  UNION ALL SELECT 'commerce_graph:merged_nodes',
        |    n_cust + un FROM cn, un
        |  UNION ALL SELECT 'commerce_graph:multi_source_nodes', nb
        |    FROM nb
        |  UNION ALL SELECT 'commerce_graph:merged_edges',
        |    n_cust + n_nation FROM cn, nn
        |  UNION ALL SELECT 'geo_graph:parsed_nodes', n_nation FROM nn
        |  UNION ALL SELECT 'geo_graph:parsed_edges', n_nation FROM nn
        |  UNION ALL SELECT 'geo_graph:merged_nodes', n_nation FROM nn
        |  UNION ALL SELECT 'geo_graph:multi_source_nodes', 0
        |  UNION ALL SELECT 'geo_graph:merged_edges', n_nation FROM nn
        |  UNION ALL SELECT 'graph_source_refs', 3
        |  UNION ALL SELECT 'shared_sources_loaded', 2) t2
        |ORDER BY stage""".stripMargin,

    "q_source_spec" ->
      """WITH c AS (SELECT COUNT(*) AS n FROM customer),
        |d AS (SELECT COUNT(DISTINCT c_nationkey) AS n FROM customer),
        |nn AS (SELECT COUNT(*) AS n FROM nation),
        |un AS (SELECT COUNT(*) AS n FROM
        |  (SELECT DISTINCT c_nationkey FROM customer
        |   UNION SELECT DISTINCT n_nationkey FROM nation)),
        |ix AS (SELECT COUNT(*) AS n FROM
        |  (SELECT DISTINCT c_nationkey FROM customer
        |   INTERSECT SELECT DISTINCT n_nationkey FROM nation)),
        |l AS (
        |  SELECT 'parsed_nodes' AS stage, c.n + d.n + nn.n AS n FROM c, d, nn
        |  UNION ALL SELECT 'parsed_edges', c.n + nn.n FROM c, nn
        |  UNION ALL SELECT 'merged_nodes', c.n + un.n FROM c, un
        |  UNION ALL SELECT 'merged_multi_source_nodes', ix.n FROM ix
        |  UNION ALL SELECT 'written_nodes', c.n + un.n FROM c, un
        |  UNION ALL SELECT 'merged_edges', c.n + nn.n FROM c, nn
        |  UNION ALL SELECT 'written_edges', c.n + nn.n FROM c, nn)
        |SELECT stage, CAST(n AS BIGINT) AS n FROM l ORDER BY stage""".stripMargin,

    // Equivalence-graph collapse: the oracle rebuilds the
    // EquivNormService arithmetic (k%7 failures, EQ:k / EQ:k+1 overlap
    // chains broken at k%8==7), mirrors the bipartite long encoding
    // (raw k → 2k, equivalent n → 2n+1), and runs the same
    // pointer-doubling CC rounds as q_graph_cc — transitive merges
    // (A≡B, B≡C, A∩C=∅) must come out identical on both engines.
    "q_norm_equiv" -> {
      val rounds = 8
      val base =
        """WITH c AS (SELECT c_custkey AS k FROM customer
          |  WHERE c_custkey % 7 <> 0),
          |pe AS MATERIALIZED (SELECT 2 * k AS a, 2 * k + 1 AS b FROM c
          |  UNION ALL
          |  SELECT 2 * k AS a, 2 * (k + 1) + 1 AS b FROM c WHERE k % 8 <> 7),
          |ue AS MATERIALIZED (SELECT a, b FROM pe
          |  UNION ALL SELECT b AS a, a AS b FROM pe),
          |l0 AS MATERIALIZED (SELECT a AS node, a AS comp FROM ue GROUP BY a)""".stripMargin
      val ctes = (1 to rounds).map { k =>
        s"""t$k AS MATERIALIZED (SELECT ue.a AS node,
           |  MIN(LEAST(la.comp, lb.comp)) AS comp FROM ue
           |  JOIN l${k - 1} la ON ue.a = la.node
           |  JOIN l${k - 1} lb ON ue.b = lb.node GROUP BY ue.a),
           |l$k AS MATERIALIZED (SELECT x.node, LEAST(x.comp, y.comp) AS comp
           |  FROM t$k x JOIN t$k y ON x.comp = y.node)""".stripMargin
      }
      (base +: ctes).mkString("", ",\n", ",\n") +
        s"""rw AS (SELECT comp, node // 2 AS k FROM l$rounds
           |  WHERE node % 2 = 0),
           |eqn AS (SELECT comp, CAST(COUNT(*) AS BIGINT) AS n_equiv
           |  FROM l$rounds WHERE node % 2 = 1 GROUP BY comp)
           |SELECT 'NORM:' || CAST(MIN(rw.k) AS VARCHAR) AS merged_id,
           |CAST(COUNT(*) AS BIGINT) AS n_raw, eqn.n_equiv,
           |string_agg('CUST:' || CAST(rw.k AS VARCHAR), ',' ORDER BY rw.k)
           |  AS members
           |FROM rw JOIN eqn USING (comp) GROUP BY rw.comp, eqn.n_equiv
           |ORDER BY merged_id""".stripMargin
    },

    "q_norm_batch" ->
      """SELECT 'CUST:' || c_custkey AS raw_id,
        |CASE WHEN c_custkey % 3 <> 0 THEN 'CANON:' || c_custkey END AS canonical_id,
        |CASE WHEN c_custkey % 3 <> 0 THEN 'cust ' || c_custkey END AS canonical_label,
        |CASE WHEN c_custkey % 3 <> 0 THEN 'biolink:Agent' END AS cats,
        |CAST(CASE WHEN c_custkey % 3 <> 0 THEN 2 END AS BIGINT) AS n_equiv
        |FROM customer ORDER BY raw_id""".stripMargin,

    "q_pack_shards_ranged" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (SELECT doc_id, toks,
        |  SUM(toks) OVER (ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM t),
        |sh AS (SELECT toks,
        |  CAST(floor((cum - toks) / 2000.0) AS BIGINT) AS shard FROM c)
        |SELECT shard, COUNT(*) AS n_docs,
        |CAST(SUM(toks) AS BIGINT) AS sum_tokens
        |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,

    "q_pack_shards" ->
      """WITH t AS (SELECT source, doc_id,
        |  CAST(len(string_split(lower(text), ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |c AS (SELECT source, doc_id, toks,
        |  SUM(toks) OVER (PARTITION BY source ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum FROM t),
        |sh AS (SELECT source, toks,
        |  CAST(floor((cum - toks) / 2000.0) AS BIGINT) AS shard FROM c)
        |SELECT source, shard, COUNT(*) AS n_docs,
        |CAST(SUM(toks) AS BIGINT) AS sum_tokens
        |FROM sh GROUP BY source, shard ORDER BY source, shard""".stripMargin,

    // bigram LM stats: counts exact, one long/long division rounded;
    // ranking by (count, w1, w2) so no float enters the sort
    "q_text_ngram_lm" ->
      """WITH d AS (SELECT string_split(lower(text), ' ') AS p FROM documents),
        |e AS (SELECT p, unnest(range(1, len(p))) AS i FROM d WHERE len(p) >= 2),
        |b AS (SELECT p[CAST(i AS INT)] AS w1, p[CAST(i + 1 AS INT)] AS w2 FROM e),
        |c AS (SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY w1, w2),
        |t AS (SELECT w1, SUM(cnt) AS tot FROM c GROUP BY w1)
        |SELECT c.w1, c.w2, c.cnt,
        |ROUND(CAST(c.cnt AS DOUBLE) / t.tot, 6) AS p_cond
        |FROM c JOIN t ON c.w1 = t.w1
        |ORDER BY c.cnt DESC, c.w1, c.w2 LIMIT 20""".stripMargin,

    // per-instance −ln p rounded to 6dp and summed in DECIMAL so the
    // per-doc total is exact and partition-order free in both engines
    "q_text_lm_score" ->
      """WITH d AS (SELECT doc_id, string_split(lower(text), ' ') AS p
        |  FROM documents),
        |e AS (SELECT doc_id, p, unnest(range(1, len(p))) AS i FROM d
        |  WHERE len(p) >= 2),
        |b AS (SELECT doc_id, p[CAST(i AS INT)] AS w1,
        |  p[CAST(i + 1 AS INT)] AS w2 FROM e),
        |c AS (SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY 1, 2),
        |t AS (SELECT w1, SUM(cnt) AS tot FROM c GROUP BY 1),
        |scored AS (SELECT doc_id,
        |  CAST(ROUND(-ln(CAST(c.cnt AS DOUBLE) / t.tot), 6)
        |    AS DECIMAL(18,6)) AS nll
        |  FROM b JOIN c USING (w1, w2) JOIN t USING (w1))
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |round(CAST(SUM(nll) AS DOUBLE) / COUNT(*), 6) AS score
        |FROM scored GROUP BY doc_id
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "q_text_tfidf" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY doc_id, term),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
        |n AS (SELECT COUNT(*) AS nd FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term,
        |  ROUND(tf.tf * ln(CAST(nd AS DOUBLE) / df.df), 4) AS tfidf
        |  FROM tf JOIN df USING (term) CROSS JOIN n WHERE tf.doc_id < 10),
        |r AS (SELECT doc_id, term, tfidf,
        |  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rank
        |  FROM scored)
        |SELECT doc_id, term, tfidf, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 5 ORDER BY doc_id, rank""".stripMargin,

    // ---- §2.10 streaming batch twins ----
    "q_stream_tumbling" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, event_type, value FROM events)
        |SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
        |COUNT(*) AS n,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_value
        |FROM e GROUP BY wstart, event_type
        |ORDER BY wstart, event_type""".stripMargin,

    "q_stream_sliding" ->
      """WITH e AS (SELECT CAST(ts AS TIMESTAMP) AS ts, user_id % 10 AS ub FROM events),
        |x AS (SELECT time_bucket(INTERVAL '15 minutes', ts)
        |        - i.i * (INTERVAL '15 minutes') AS wstart, ub
        |      FROM e, (SELECT unnest(range(0, 4)) AS i) i)
        |SELECT wstart, ub, COUNT(*) AS n
        |FROM x GROUP BY wstart, ub ORDER BY wstart, ub""".stripMargin,

    "q_stream_session" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value, event_id FROM events),
        |l AS (SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM e),
        |b AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev > INTERVAL '30 minutes'
        |        THEN 1 ELSE 0 END AS brk FROM l),
        |s AS (SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS UNBOUNDED PRECEDING) AS sess FROM b)
        |SELECT user_id, CAST(sess AS BIGINT) AS session_id,
        |COUNT(*) AS n_events,
        |CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2))::DOUBLE AS sum_value,
        |epoch_us(min(ts)) AS start_us, epoch_us(max(ts)) AS end_us,
        |epoch_us(max(ts)) - epoch_us(min(ts)) AS dur_us
        |FROM s GROUP BY user_id, sess ORDER BY user_id, session_id""".stripMargin,

    "q_stream_dedup" ->
      """SELECT DISTINCT user_id, event_type,
        |CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS hr
        |FROM events ORDER BY user_id, event_type, hr""".stripMargin,

    // Fuzzy entity-resolution join: identical planted-typo formulas,
    // deletion-neighborhood blocking re-done in SQL (lossless for the
    // <=1 threshold, so the DISTINCT candidate set + levenshtein verify
    // equals the Spark result exactly).
    "q_join_fuzzy" ->
      """WITH t AS (SELECT c_custkey, c_name,
        |  substring(c_name, 1, CAST(length(c_name) - ((c_custkey % 5) + 1) AS INT) - 1)
        |    || 'x' ||
        |    substring(c_name, CAST(length(c_name) - ((c_custkey % 5) + 1) AS INT) + 1, 64)
        |    AS s1 FROM customer),
        |q2 AS (SELECT c_custkey AS q_id,
        |  CASE WHEN c_custkey % 13 = 0 THEN
        |    substring(s1, 1, CAST(length(s1) - ((c_custkey % 5) + 4) AS INT) - 1)
        |      || 'y' ||
        |      substring(s1, CAST(length(s1) - ((c_custkey % 5) + 4) AS INT) + 1, 64)
        |  WHEN c_custkey % 7 = 0 THEN s1
        |  ELSE c_name END AS qname FROM t),
        |qv AS (SELECT q_id, qname, unnest(list_distinct(list_prepend(qname,
        |  list_transform(range(1, CAST(length(qname) AS INT) + 1), i ->
        |    substring(qname, 1, CAST(i AS INT) - 1)
        |      || substring(qname, CAST(i AS INT) + 1, 64))))) AS v FROM q2),
        |cv AS (SELECT c_custkey, c_name, unnest(list_distinct(list_prepend(c_name,
        |  list_transform(range(1, CAST(length(c_name) AS INT) + 1), i ->
        |    substring(c_name, 1, CAST(i AS INT) - 1)
        |      || substring(c_name, CAST(i AS INT) + 1, 64))))) AS v FROM customer),
        |cands AS (SELECT DISTINCT q_id, qname, c_custkey, c_name
        |  FROM qv JOIN cv USING (v)),
        |ok AS (SELECT q_id, qname, levenshtein(qname, c_name) AS dist
        |  FROM cands WHERE levenshtein(qname, c_name) <= 1),
        |res AS (SELECT q_id, COUNT(*) AS n_cands, MIN(dist) AS best_dist
        |  FROM ok GROUP BY 1),
        |led AS (SELECT CASE WHEN res.q_id IS NULL THEN 'miss'
        |    WHEN best_dist = 0 THEN 'exact'
        |    WHEN n_cands = 1 THEN 'fuzzy_unique'
        |    ELSE 'fuzzy_ambiguous' END AS outcome,
        |  COALESCE(n_cands, 0) AS nc
        |  FROM q2 LEFT JOIN res ON q2.q_id = res.q_id),
        |qs AS (SELECT v, COUNT(*) AS nq FROM qv GROUP BY v),
        |cs AS (SELECT v, COUNT(*) AS nc2 FROM cv GROUP BY v),
        |bk AS (SELECT qs.nq * cs.nc2 AS pairs FROM qs JOIN cs USING (v)),
        |dens AS (SELECT
        |  CAST(COALESCE(SUM(CASE WHEN pairs > 256 THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS hot_buckets,
        |  CAST(COALESCE(SUM(CASE WHEN pairs > 256 THEN pairs END), 0)
        |    AS BIGINT) AS hot_pairs,
        |  CAST(COALESCE(MAX(pairs), 0) AS BIGINT) AS max_pairs FROM bk)
        |SELECT outcome, n_queries, n_cands FROM (
        |  SELECT outcome, COUNT(*) AS n_queries,
        |    CAST(SUM(nc) AS BIGINT) AS n_cands FROM led GROUP BY 1
        |  UNION ALL SELECT 'density_hot_buckets', hot_buckets, hot_pairs
        |    FROM dens
        |  UNION ALL SELECT 'density_max_bucket', CAST(1 AS BIGINT),
        |    max_pairs FROM dens)
        |ORDER BY outcome""".stripMargin,

    // Hourly resample + forward fill: generate_series grid per user,
    // last_value IGNORE NULLS; same composite argmax long both engines.
    "q_events_resample" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(value AS DECIMAL(12,2)) AS v FROM events),
        |h AS (SELECT user_id, date_trunc('hour', ts) AS hr,
        |  COUNT(*) AS n,
        |  arg_max(v, (epoch_us(ts) - epoch_us(date_trunc('hour', ts)))
        |    * 1000000000 + event_id) AS v
        |  FROM e GROUP BY 1, 2),
        |s AS (SELECT user_id, MIN(hr) AS h0, MAX(hr) AS h1
        |  FROM h GROUP BY 1),
        |g AS (SELECT user_id,
        |  unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hr FROM s),
        |j AS (SELECT g.user_id, g.hr, h.n, h.v FROM g
        |  LEFT JOIN h ON g.user_id = h.user_id AND g.hr = h.hr),
        |f AS (SELECT user_id, hr, n,
        |  last_value(v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY hr ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS fv FROM j)
        |SELECT user_id, COUNT(*) AS n_hours, COUNT(n) AS n_real,
        |CAST(SUM(fv) AS DECIMAL(38,2))::DOUBLE AS sum_fill
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // Late-arrival accounting: same md5(event_id) synthetic arrival
    // order; DuckDB computes the global running max directly (single
    // node), Spark's two-phase ranged prefix must agree exactly.
    "q_stream_late" ->
      """WITH e AS (SELECT event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS t,
        |  md5(CAST(event_id AS VARCHAR)) AS ak FROM events),
        |w AS (SELECT event_type, t,
        |  MAX(t) OVER (ORDER BY ak, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    - 600000000 AS wm FROM e)
        |SELECT event_type, COUNT(*) AS n,
        |CAST(COALESCE(SUM(CASE WHEN t < wm THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_late,
        |CAST(COALESCE(SUM(CASE WHEN t < wm THEN wm - t END), 0) AS BIGINT) AS late_us
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_stream_join" ->
      """WITH c AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'click'),
        |p AS (SELECT user_id, ts, event_id FROM events
        |  WHERE event_type = 'purchase')
        |SELECT p.event_id AS p_id, p.user_id,
        |epoch_us(CAST(p.ts AS TIMESTAMP)) AS p_us,
        |COUNT(*) AS n_clicks,
        |MIN(epoch_us(CAST(c.ts AS TIMESTAMP))) AS first_click_us,
        |MAX(epoch_us(CAST(c.ts AS TIMESTAMP))) AS last_click_us
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
        |GROUP BY 1, 2, 3 ORDER BY p_id""".stripMargin,

    // strictly-ordered first-touch funnel: stage k+1 requires an event
    // strictly later (µs) than the user's earliest stage-k arrival
    "q_events_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |v AS (SELECT user_id, MIN(us) AS v_us FROM e
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, MIN(e.us) AS c_us FROM e JOIN v USING (user_id)
        |  WHERE event_type = 'click' AND us > v_us GROUP BY 1),
        |p AS (SELECT e.user_id, MIN(e.us) AS p_us FROM e JOIN c USING (user_id)
        |  WHERE event_type = 'purchase' AND us > c_us GROUP BY 1),
        |s AS (SELECT '1_view' AS stage,
        |    (SELECT COUNT(*) FROM v) AS n_users
        |  UNION ALL SELECT '2_view_click', (SELECT COUNT(*) FROM c)
        |  UNION ALL SELECT '3_view_click_purchase', (SELECT COUNT(*) FROM p))
        |SELECT stage, CAST(n_users AS BIGINT) AS n_users,
        |round(n_users::DOUBLE / (SELECT COUNT(*) FROM v), 6) AS conv_rate
        |FROM s ORDER BY stage""".stripMargin,

    // Late-arrival backfill planner: synthesized arrival day
    // (event_id % 5 days of delay), per event-day partition ledger
    "q_incr_backfill" ->
      """WITH e AS (SELECT
        |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_day,
        |  CAST(event_id % 5 AS BIGINT) AS late_days FROM events)
        |SELECT event_day, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |CAST(SUM(CASE WHEN late_days > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_late,
        |CAST(MAX(late_days) AS BIGINT) AS max_late_days,
        |CAST(CASE WHEN SUM(CASE WHEN late_days > 0 THEN 1 ELSE 0 END)
        |  > 0 THEN 1 ELSE 0 END AS INT) AS needs_rewrite
        |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_events_retention" ->
      """WITH e AS (SELECT user_id,
        |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM e GROUP BY 1),
        |a AS (SELECT DISTINCT e.user_id, cohort,
        |  date_diff('day', cohort, day) AS day_offset
        |  FROM e JOIN f USING (user_id)),
        |s AS (SELECT cohort, COUNT(*) AS cohort_users FROM f GROUP BY 1)
        |SELECT a.cohort, CAST(day_offset AS INT) AS day_offset,
        |COUNT(*) AS n_active, CAST(s.cohort_users AS BIGINT) AS cohort_users,
        |round(COUNT(*)::DOUBLE / s.cohort_users, 6) AS retention
        |FROM a JOIN s ON a.cohort = s.cohort
        |GROUP BY a.cohort, day_offset, s.cohort_users
        |ORDER BY a.cohort, day_offset""".stripMargin,

    // fixed-size-per-stratum "reservoir": rank by salted md5 (salt
    // '#resv', independent of '#split'/'#strat'), doc_id tie-break
    "q_sample_reservoir" ->
      """WITH r AS (SELECT lang, doc_id,
        |  ROW_NUMBER() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR) || '#resv'), doc_id)
        |    AS rk
        |  FROM documents)
        |SELECT lang, doc_id, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 3 ORDER BY lang, rk""".stripMargin,

    // same salted-md5 bucketing as q_sample_split, salt '#strat'
    "q_sample_stratified" ->
      """WITH b AS (SELECT lang,
        |  ('0x' || substring(md5(CAST(doc_id AS VARCHAR) || '#strat'), 1, 4))::INT
        |    % 100 AS bucket FROM documents),
        |t AS (SELECT lang, bucket,
        |  CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 30 WHEN 'de' THEN 20
        |       WHEN 'es' THEN 20 WHEN 'fr' THEN 20 ELSE 10 END AS thr FROM b)
        |SELECT lang, COUNT(*) AS n_total,
        |CAST(SUM(CASE WHEN bucket < thr THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_sampled,
        |round(SUM(CASE WHEN bucket < thr THEN 1 ELSE 0 END)::DOUBLE
        |  / COUNT(*), 6) AS rate
        |FROM t GROUP BY lang ORDER BY lang""".stripMargin,

    // 12 h silence gap; ties ordered (us, event_id); durations exact
    // integer µs (HUGEINT sums mirror the Spark DECIMAL(38,0)); ONE
    // division, rounded to 6dp
    "q_events_sessionize" ->
      """WITH e AS (SELECT user_id, event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT user_id, us, event_id,
        |  CASE WHEN us - LAG(us) OVER w IS NULL
        |       OR us - LAG(us) OVER w > 43200000000 THEN 1 ELSE 0 END
        |    AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |s AS (SELECT user_id,
        |  SUM(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS UNBOUNDED PRECEDING) AS sid, us FROM g),
        |x AS (SELECT user_id, sid, COUNT(*) AS n, MAX(us) - MIN(us) AS dur
        |  FROM s GROUP BY 1, 2)
        |SELECT LEAST(n, 10) AS size_bucket,
        |COUNT(*) AS n_sessions,
        |CAST(SUM(n) AS BIGINT) AS n_events,
        |round(SUM(CAST(dur AS HUGEINT))::DOUBLE
        |  / (CAST(COUNT(*) AS HUGEINT) * 1000000)::DOUBLE, 6)
        |  AS avg_dur_sec
        |FROM x GROUP BY 1 ORDER BY size_bucket""".stripMargin,

    // last-touch carry-forward via IGNORE NULLS last_value; frame
    // excludes the current row so a purchase never self-attributes;
    // '(none)' avg is an explicit NULL in both engines
    // sequence-with-exclusion replayed with the identical
    // (us, event_id)-ordered window: positions make "error between
    // view and purchase" an integer comparison on both engines
    "q_events_sequence" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |r AS (SELECT user_id, event_id, event_type, us,
        |  ROW_NUMBER() OVER
        |    (PARTITION BY user_id ORDER BY us, event_id) AS rn FROM e),
        |f AS (SELECT user_id, event_type, us,
        |  MAX(CASE WHEN event_type = 'view' THEN us END) OVER w1
        |    AS lv_us,
        |  MAX(CASE WHEN event_type = 'view' THEN rn END) OVER w1
        |    AS lv_rn,
        |  MAX(CASE WHEN event_type = 'error' THEN rn END) OVER w1
        |    AS le_rn
        |  FROM r
        |  WINDOW w1 AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |c AS (SELECT user_id % 10 AS decile,
        |  CASE WHEN lv_us IS NULL OR lv_us < us - 3600000000
        |    THEN 'no_view'
        |  WHEN le_rn IS NOT NULL AND le_rn > lv_rn THEN 'blocked'
        |  ELSE 'matched' END AS cls
        |  FROM f WHERE event_type = 'purchase')
        |SELECT decile, COUNT(*) AS n_purchases,
        |CAST(SUM(CASE WHEN cls = 'matched' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_matched,
        |CAST(SUM(CASE WHEN cls = 'blocked' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_blocked,
        |CAST(SUM(CASE WHEN cls = 'no_view' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_no_view
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,

    // OLS trend: exact HUGEINT regression sums, then the identical
    // double expression tree (slope_raw reused UNROUNDED in
    // intercept/forecast, matching the Spark column reuse)
    "q_events_forecast" ->
      """WITH d AS (SELECT event_type,
        |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, COUNT(*) AS y
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, COUNT(*) AS n,
        |  SUM(CAST(day - DATE '1970-01-01' AS HUGEINT)) AS sx,
        |  SUM(CAST(y AS HUGEINT)) AS sy,
        |  SUM(CAST(day - DATE '1970-01-01' AS HUGEINT) * y) AS sxy,
        |  SUM(CAST(day - DATE '1970-01-01' AS HUGEINT)
        |    * CAST(day - DATE '1970-01-01' AS HUGEINT)) AS sxx,
        |  MAX(day - DATE '1970-01-01') AS mx FROM d GROUP BY 1),
        |b AS (SELECT event_type, n, CAST(n AS DOUBLE) AS dn,
        |  CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
        |  CAST(sxy AS DOUBLE) AS dxy, CAST(sxx AS DOUBLE) AS dxx,
        |  CAST(mx AS DOUBLE) AS dmx FROM a),
        |c AS (SELECT event_type, n, dn, dx, dy, dmx,
        |  CASE WHEN dn * dxx - dx * dx <> 0 THEN
        |    (dn * dxy - dx * dy) / (dn * dxx - dx * dx) END AS slope_raw
        |  FROM b)
        |SELECT event_type, n AS n_days,
        |CASE WHEN n > 1 THEN ROUND(slope_raw, 6) END AS slope,
        |CASE WHEN n > 1 THEN
        |  ROUND((dy - slope_raw * dx) / dn, 6) END AS intercept,
        |CASE WHEN n > 1 THEN
        |  ROUND((dy - slope_raw * dx) / dn
        |    + slope_raw * (dmx + 1.0), 4) END AS forecast_next
        |FROM c ORDER BY event_type""".stripMargin,

    // gaps-and-islands: the day - row_number() constant-difference
    // grouping replays identically; HUGEINT sums cast back to BIGINT;
    // tie on longest streak resolved by per-user MAX + conditional MIN
    "q_events_gaps" ->
      """WITH d AS (SELECT DISTINCT user_id,
        |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events),
        |r AS (SELECT user_id, day,
        |  CAST(day - DATE '1970-01-01' AS BIGINT)
        |    - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
        |    AS grp FROM d),
        |s AS (SELECT user_id, grp, COUNT(*) AS len, MIN(day) AS start
        |  FROM r GROUP BY 1, 2),
        |t AS (SELECT user_id, len, start,
        |  MAX(len) OVER (PARTITION BY user_id) AS ml FROM s)
        |SELECT user_id,
        |CAST(SUM(len) AS BIGINT) AS n_active_days,
        |COUNT(*) AS n_streaks,
        |MAX(len) AS longest_streak,
        |MIN(CASE WHEN len = ml THEN start END) AS longest_start
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_events_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |t AS (SELECT user_id, event_type, us,
        |  LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
        |    IGNORE NULLS) OVER w AS touch,
        |  LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN us END
        |    IGNORE NULLS) OVER w AS touch_us
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT COALESCE(touch, '(none)') AS touch_type,
        |COUNT(*) AS n_purchases,
        |CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |CASE WHEN COUNT(touch_us) > 0 THEN
        |  round(SUM(CAST(us - touch_us AS HUGEINT))::DOUBLE
        |    / (CAST(COUNT(touch_us) AS HUGEINT) * 1000000)::DOUBLE, 6)
        |END AS avg_gap_sec
        |FROM t WHERE event_type = 'purchase'
        |GROUP BY 1 ORDER BY touch_type""".stripMargin,

    // integer cross-multiplication flag (HUGEINT mirrors the Spark
    // side's DECIMAL(38,0) promotion), no float accumulation
    "q_events_anomaly" ->
      """WITH h AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS hr,
        |  COUNT(*) AS n,
        |  SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
        |  FROM events GROUP BY 1),
        |t AS (SELECT SUM(n) AS tn, SUM(errs) AS te FROM h)
        |SELECT CAST(hr AS TIMESTAMP) AS hr, n,
        |CAST(errs AS BIGINT) AS errs,
        |round(errs::DOUBLE / n, 6) AS err_rate
        |FROM h, t
        |WHERE CAST(errs AS HUGEINT) * CAST(tn AS HUGEINT) * 5
        |  > CAST(te AS HUGEINT) * CAST(n AS HUGEINT) * 6
        |ORDER BY hr""".stripMargin,

    // CDC classification over two deterministically derived snapshots;
    // sum_new is NULL for 'deleted' in both engines
    "q_snapshot_diff" ->
      """WITH old AS (SELECT o_orderkey AS k, o_totalprice AS v_old
        |  FROM orders WHERE o_orderkey % 10 <> 0),
        |new AS (SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |       ELSE o_totalprice END AS v_new
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |j AS (SELECT
        |  CASE WHEN v_old IS NULL THEN 'added'
        |       WHEN v_new IS NULL THEN 'deleted'
        |       WHEN v_old <> v_new THEN 'changed'
        |       ELSE 'unchanged' END AS status, v_new
        |  FROM old FULL JOIN new USING (k))
        |SELECT status, COUNT(*) AS n,
        |CAST(CAST(SUM(CAST(v_new AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |  AS DOUBLE) AS sum_new
        |FROM j GROUP BY status ORDER BY status""".stripMargin,

    // BPE first-merge statistic: adjacent char pairs inside words;
    // expansion of len<2 tokens is empty in both engines, ties broken
    // by the pair string
    "q_text_bpe_pairs" ->
      """WITH t AS (SELECT unnest(string_split(lower(text), ' ')) AS tok
        |  FROM documents),
        |p AS (SELECT substring(tok, CAST(i.i AS INT), 2) AS pair
        |  FROM t, LATERAL (SELECT unnest(range(1, length(tok))) AS i) i
        |  WHERE length(tok) >= 2)
        |SELECT pair, COUNT(*) AS n FROM p GROUP BY pair
        |ORDER BY n DESC, pair LIMIT 20""".stripMargin,

    // Full BPE training loop, k=5 greedy merges unrolled as CTE
    // rounds: per round the freq-weighted pair count over the vocab
    // segments, the argmax (ties to lexicographically lowest pair),
    // and the `;l;;r;` separator-string replace — both engines'
    // replace() is left-to-right non-overlapping, which IS BPE's
    // greedy within-word merge order
    "q_text_bpe_train" -> {
      val rounds = 5
      val sel = (1 to rounds).map { k =>
        s"SELECT CAST($k AS INT) AS round, l, r, n FROM b$k"
      }.mkString("", "\nUNION ALL ", "")
      bpeCtes(rounds, applyLast = false) + sel + "\nORDER BY round"
    },

    // Tokenizer APPLICATION: the same 5 learned merges applied to the
    // vocabulary (v5 included), then the token-length histogram with
    // corpus-level counts from the freq weights
    "q_text_bpe_encode" -> {
      bpeCtes(5, applyLast = true) +
        """SELECT CAST(len(string_split(seg, ';;')) AS INT) AS n_syms,
          |COUNT(*) AS n_vocab_words,
          |CAST(SUM(freq) AS BIGINT) AS n_corpus_words,
          |CAST(SUM(freq * len(string_split(seg, ';;'))) AS BIGINT)
          |  AS n_corpus_tokens
          |FROM v5 GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // linear quality classifier: all-integer model (micro-unit features
    // via //, integer hundredth weights, BIGINT 1e-8 score) — the only
    // float op is the final mean wire division
    "q_text_classifier" ->
      """WITH f AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('the','a','of','and','is','to','in'))) AS BIGINT)
        |    AS ns,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '',
        |    'g')) AS BIGINT) AS nd,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
        |    AS nsp
        |  FROM documents),
        |x AS (SELECT source,
        |  (ns * 1000000) // nt AS f_stop6,
        |  (nd * 1000000) // greatest(nc, 1) AS f_digit6,
        |  (least(nt, 256) * 1000000) // 256 AS f_len6,
        |  ((nc - nsp) * 1000000) // (nt * 8) AS f_wlen6
        |  FROM f),
        |sc AS (SELECT source,
        |  20000000 + 150*f_stop6 - 200*f_digit6 + 80*f_len6 + 50*f_wlen6
        |    AS score8 FROM x)
        |SELECT source, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN score8 > 55000000 THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_kept,
        |CAST(MIN(score8) AS BIGINT) AS min_score8,
        |CAST(MAX(score8) AS BIGINT) AS max_score8,
        |ROUND(CAST(SUM(score8) AS DOUBLE) / COUNT(*) / 100000000.0, 6)
        |  AS mean_score
        |FROM sc GROUP BY source ORDER BY source""".stripMargin,

    // calibration twin: the q_text_classifier feature replay bucketed
    // by exact integer floor arithmetic over the observed score range —
    // every doc lands in the same bin in both engines
    "q_text_classifier_calibration" ->
      """WITH f AS (SELECT lang,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  CAST(len(list_filter(string_split(lower(text), ' '),
        |    t -> t IN ('the','a','of','and','is','to','in'))) AS BIGINT)
        |    AS ns,
        |  CAST(length(text) AS BIGINT) AS nc,
        |  CAST(length(text) - length(regexp_replace(text, '[0-9]', '',
        |    'g')) AS BIGINT) AS nd,
        |  CAST(length(text) - length(replace(text, ' ', '')) AS BIGINT)
        |    AS nsp
        |  FROM documents),
        |sc AS (SELECT lang,
        |  20000000 + 150*((ns * 1000000) // nt)
        |  - 200*((nd * 1000000) // greatest(nc, 1))
        |  + 80*((least(nt, 256) * 1000000) // 256)
        |  + 50*(((nc - nsp) * 1000000) // (nt * 8)) AS score8 FROM f),
        |rng AS (SELECT MIN(score8) AS mn, MAX(score8) AS mx FROM sc),
        |b AS (SELECT sc.lang, sc.score8,
        |  ((sc.score8 - r.mn) * 10) // (r.mx - r.mn + 1) AS bin
        |  FROM sc, rng r)
        |SELECT bin, COUNT(*) AS n_docs,
        |CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_en,
        |ROUND(CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)
        |  AS DOUBLE) / COUNT(*), 6) AS en_rate,
        |CAST(MIN(score8) AS BIGINT) AS lo8,
        |CAST(MAX(score8) AS BIGINT) AS hi8,
        |ROUND(CAST(SUM(score8) AS DOUBLE) / COUNT(*) / 100000000.0, 6)
        |  AS mean_score
        |FROM b GROUP BY bin ORDER BY bin""".stripMargin,

    // per-dimension moments: quantize each float once to DECIMAL(12,6)
    // (no representable tie at the 7th place — cast rounds identically),
    // decimal-exact sums, explicit round(…,6) before the double wire
    "q_emb_dim_stats" ->
      """WITH x AS (SELECT CAST(dims.dim AS BIGINT) AS dim,
        |  CAST(embedding[dims.dim] AS DOUBLE) AS vd
        |  FROM embeddings, (SELECT unnest(range(1, 65)) AS dim) dims),
        |q AS (SELECT dim, vd, CAST(vd AS DECIMAL(12,6)) AS q FROM x),
        |g AS (SELECT dim, COUNT(*) AS n_vecs,
        |  CAST(ROUND(SUM(q), 6) AS DECIMAL(38,6)) AS sv,
        |  CAST(ROUND(SUM(q * q), 6) AS DECIMAL(38,6)) AS sq,
        |  MIN(vd) AS v_min, MAX(vd) AS v_max
        |  FROM q GROUP BY dim)
        |SELECT dim, n_vecs,
        |ROUND(CAST(sv AS DOUBLE) / n_vecs, 6) AS mean,
        |ROUND(CAST(sq AS DOUBLE) / n_vecs
        |  - (CAST(sv AS DOUBLE) / n_vecs) * (CAST(sv AS DOUBLE) / n_vecs),
        |  6) AS variance,
        |v_min, v_max FROM g ORDER BY dim""".stripMargin,

    // Markov transition matrix; timelines ordered by (epoch µs,
    // event_id) so the ns-precision parquet timestamps can't reorder
    // ties across engines
    "q_events_transitions" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |p AS (SELECT event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id ORDER BY us, event_id)
        |    AS from_type
        |  FROM e),
        |m AS (SELECT from_type, to_type, COUNT(*) AS n FROM p
        |  WHERE from_type IS NOT NULL GROUP BY from_type, to_type)
        |SELECT from_type, to_type, n,
        |ROUND(CAST(n AS DOUBLE) / CAST(SUM(n) OVER
        |  (PARTITION BY from_type) AS DOUBLE), 6) AS p
        |FROM m ORDER BY from_type, to_type""".stripMargin,

    // integer-exact equi-width histogram: exact cents, integral DIV
    // bucketing (operands non-negative, so DuckDB // == Spark div)
    // Exact order statistics: the oracle takes the k-th smallest via a
    // full ROW_NUMBER (DuckDB can afford the total sort; the Spark
    // side must reach the identical value through bucket selection).
    // Ties are value-identical (equal cents), so tie order is moot.
    "q_agg_percentile_exact" ->
      """WITH c AS (SELECT
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    AS cents FROM orders),
        |n AS (SELECT COUNT(*) AS n FROM c),
        |p AS (SELECT * FROM (VALUES ('p50', 1, 2), ('p90', 9, 10),
        |  ('p99', 99, 100)) AS t(pct, num, den)),
        |k AS (SELECT pct, (n.n * num + den - 1) // den AS kth FROM p, n),
        |o AS (SELECT cents,
        |  ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM c)
        |SELECT pct, CAST(kth AS BIGINT) AS kth,
        |CAST(cents AS DOUBLE) / 100 AS value
        |FROM k JOIN o ON o.rn = k.kth ORDER BY pct""".stripMargin,

    "q_agg_histogram" ->
      """WITH o AS (SELECT
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    AS cents,
        |  CAST(o_totalprice AS DECIMAL(12,2)) AS v FROM orders),
        |bounds AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM o),
        |b AS (SELECT ((cents - lo) * 16) // (hi - lo + 1) AS bucket, v
        |  FROM o, bounds)
        |SELECT bucket, COUNT(*) AS n,
        |CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |  AS DOUBLE) AS sum_price
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    // gaps-and-islands SCD-2 collapse; windows totally ordered by
    // (ts, seq) with seq unique, so both engines number islands alike
    "q_scd2_history" ->
      """WITH log AS (SELECT o_custkey AS ent, o_orderdate AS ts,
        |  o_orderkey AS seq, o_orderstatus AS attr FROM orders),
        |m AS (SELECT ent, ts, seq, attr,
        |  CASE WHEN lag(attr) OVER (PARTITION BY ent ORDER BY ts, seq)
        |            IS DISTINCT FROM attr THEN 1 ELSE 0 END AS chg
        |  FROM log),
        |r AS (SELECT ent, attr, ts,
        |  SUM(chg) OVER (PARTITION BY ent ORDER BY ts, seq
        |                 ROWS UNBOUNDED PRECEDING) AS island
        |  FROM m),
        |runs AS (SELECT ent, island, attr, COUNT(*) AS n_rows,
        |  MIN(ts) AS valid_from FROM r GROUP BY ent, island, attr),
        |iv AS (SELECT attr, n_rows,
        |  lead(valid_from) OVER (PARTITION BY ent ORDER BY island)
        |    AS valid_to
        |  FROM runs)
        |SELECT attr, COUNT(*) AS n_intervals,
        |CAST(SUM(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_current,
        |CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        |ROUND(CAST(SUM(n_rows) AS DOUBLE) / COUNT(*), 6) AS avg_run
        |FROM iv GROUP BY attr ORDER BY attr""".stripMargin,

    // MERGE application: derive insert/update/delete between the two
    // snapshots, apply to the base, ledger + resulting table summary;
    // money DECIMAL end-to-end, exact-(38,2)->double wire
    "q_cdc_apply" ->
      """WITH base AS (SELECT o_orderkey AS k,
        |  CAST(o_totalprice AS DECIMAL(12,2)) AS v_old
        |  FROM orders WHERE o_orderkey % 10 <> 0),
        |tgt AS (SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 5 = 0
        |       THEN CAST(o_totalprice AS DECIMAL(12,2))
        |            + CAST(1.00 AS DECIMAL(12,2))
        |       ELSE CAST(o_totalprice AS DECIMAL(12,2)) END AS v_new
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |chg AS (SELECT k, v_old, v_new,
        |  CASE WHEN v_old IS NULL THEN 'insert'
        |       WHEN v_new IS NULL THEN 'delete'
        |       WHEN v_old <> v_new THEN 'update' END AS op
        |  FROM base FULL JOIN tgt USING (k)
        |  WHERE CASE WHEN v_old IS NULL THEN 'insert'
        |             WHEN v_new IS NULL THEN 'delete'
        |             WHEN v_old <> v_new THEN 'update' END IS NOT NULL),
        |applied AS (SELECT
        |  CASE WHEN op IS NOT NULL THEN v_new ELSE v_old END AS v
        |  FROM base FULL JOIN (SELECT k, op, v_new FROM chg) USING (k)
        |  WHERE op IS NULL OR op <> 'delete'),
        |perop AS (SELECT op, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(CASE WHEN op = 'delete' THEN v_old
        |                          ELSE v_new END AS DECIMAL(18,2)))
        |    AS DECIMAL(38,2)) AS DOUBLE) AS sum_v
        |  FROM chg GROUP BY op),
        |res AS (SELECT 'result' AS op, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(v AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |    AS DOUBLE) AS sum_v
        |  FROM applied)
        |SELECT op, n, sum_v FROM (SELECT * FROM perop
        |  UNION ALL SELECT * FROM res) ORDER BY op""".stripMargin,

    // the bitmap machinery is semantics-invisible: the oracle computes
    // both the per-day distinct sum and the true range distinct
    // directly — any bit-indexing or OR-merge error shows as a count
    "q_agg_bitmap" ->
      """WITH d AS (SELECT event_type,
        |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id
        |  FROM events),
        |du AS (SELECT event_type, day, COUNT(DISTINCT user_id) AS u
        |  FROM d GROUP BY 1, 2),
        |t AS (SELECT event_type, COUNT(*) AS n_days,
        |  CAST(SUM(u) AS BIGINT) AS sum_daily_uniques
        |  FROM du GROUP BY 1),
        |m AS (SELECT event_type, COUNT(DISTINCT user_id) AS n_uniques
        |  FROM d GROUP BY 1)
        |SELECT t.event_type, n_days, sum_daily_uniques, n_uniques
        |FROM t JOIN m ON t.event_type = m.event_type
        |ORDER BY t.event_type""".stripMargin,

    // count-min twin: the affine hashes are integer-exact, so DuckDB
    // rebuilds the SAME d×w counter table and replays the min-over-
    // rows estimate VALUE for value — not a bound check, an equality
    "q_agg_countmin" ->
      """WITH params AS (SELECT * FROM (VALUES
        |  (0, 31, 7), (1, 131, 17), (2, 1031, 29), (3, 10007, 47))
        |  AS t(i, a, b)),
        |sk AS (SELECT p.i,
        |  ((p.a * ((l.l_suppkey + 1) % 2147483647) + p.b)
        |    % 2147483647) % 64 AS bkt, COUNT(*) AS cnt
        |  FROM lineitem l CROSS JOIN params p GROUP BY 1, 2),
        |probes AS (SELECT l_suppkey AS k, COUNT(*) AS exact_cnt
        |  FROM lineitem WHERE l_suppkey <= 15 GROUP BY 1),
        |pb AS (SELECT pr.k, pr.exact_cnt, p.i,
        |  ((p.a * ((pr.k + 1) % 2147483647) + p.b)
        |    % 2147483647) % 64 AS bkt
        |  FROM probes pr CROSS JOIN params p)
        |SELECT pb.k, pb.exact_cnt, MIN(sk.cnt) AS cms_est,
        |MIN(sk.cnt) - pb.exact_cnt AS overcount
        |FROM pb JOIN sk ON pb.i = sk.i AND pb.bkt = sk.bkt
        |GROUP BY pb.k, pb.exact_cnt ORDER BY pb.k""".stripMargin,

    // two-pass MG heavy hitters: the sketch only PRUNES (guaranteed
    // superset) and pass 2 recounts exactly, so the twin is the plain
    // full-vocabulary GROUP BY + the same integer threshold
    "q_agg_freq" ->
      """WITH t AS (SELECT unnest(string_split(lower(text), ' '))
        |    AS token FROM documents),
        |tot AS (SELECT COUNT(*) AS total FROM t)
        |SELECT token, COUNT(*) AS n,
        |ROUND(CAST(COUNT(*) AS DOUBLE)
        |  / CAST((SELECT total FROM tot) AS DOUBLE), 6) AS share
        |FROM t GROUP BY token
        |HAVING COUNT(*) * 201 > (SELECT total FROM tot)
        |ORDER BY n DESC, token""".stripMargin,

    // Welch t: decimal-exact cohort sums (CAST(value AS DECIMAL(12,2))
    // replays Spark's cast — the ltv precedent), then the identical
    // double tree with the same degenerate guards
    "q_agg_ab_test" ->
      """WITH e AS (SELECT event_type, (user_id % 2 = 0) AS isa,
        |  CAST(value AS DECIMAL(12, 2)) AS v FROM events),
        |a AS (SELECT event_type,
        |  CAST(SUM(CASE WHEN isa THEN 1 ELSE 0 END) AS BIGINT) AS na,
        |  CAST(SUM(CASE WHEN NOT isa THEN 1 ELSE 0 END) AS BIGINT)
        |    AS nb,
        |  SUM(CASE WHEN isa THEN v END) AS sa,
        |  SUM(CASE WHEN NOT isa THEN v END) AS sb,
        |  SUM(CASE WHEN isa THEN CAST(v * v AS DECIMAL(38, 4)) END)
        |    AS qa,
        |  SUM(CASE WHEN NOT isa THEN CAST(v * v AS DECIMAL(38, 4)) END)
        |    AS qb FROM e GROUP BY 1),
        |b AS (SELECT event_type, na, nb,
        |  CAST(na AS DOUBLE) AS dna, CAST(nb AS DOUBLE) AS dnb,
        |  CAST(sa AS DOUBLE) AS dsa, CAST(sb AS DOUBLE) AS dsb,
        |  CAST(qa AS DOUBLE) AS dqa, CAST(qb AS DOUBLE) AS dqb FROM a),
        |c AS (SELECT event_type, na, nb, dna, dnb,
        |  dsa / dna AS ma, dsb / dnb AS mb,
        |  (dqa - dsa * dsa / dna) / (dna - 1.0) AS va,
        |  (dqb - dsb * dsb / dnb) / (dnb - 1.0) AS vb FROM b)
        |SELECT event_type, na AS n_a, nb AS n_b,
        |ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
        |CASE WHEN na > 1 AND nb > 1 AND va / dna + vb / dnb > 0 THEN
        |  ROUND((ma - mb) / sqrt(va / dna + vb / dnb), 4) END AS t_stat,
        |CASE WHEN na > 1 AND nb > 1 AND va / dna + vb / dnb > 0 THEN
        |  CAST(abs((ma - mb) / sqrt(va / dna + vb / dnb)) > 1.96
        |    AS BIGINT) END AS significant
        |FROM c ORDER BY event_type""".stripMargin,

    // theta intersection fully replayed: per-type k-min sets + theta
    // from the same md5 hash, common-below-theta via equi join, the
    // C*2^60/theta estimator in identical double arithmetic; exact
    // intersection from the distinct (type,user) self-join
    "q_agg_theta" ->
      """WITH du AS (SELECT DISTINCT event_type,
        |  CAST(user_id AS VARCHAR) AS uid,
        |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS h FROM events),
        |r AS (SELECT event_type, h,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM du),
        |mins AS (SELECT event_type, h FROM r WHERE rn <= 256),
        |th AS (SELECT event_type,
        |  CASE WHEN MAX(n) >= 256 THEN MAX(CASE WHEN rn = 256 THEN h END)
        |    ELSE 1152921504606846976 END AS theta FROM r GROUP BY 1),
        |ex AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |  COUNT(*) AS exact_inter FROM du x JOIN du y
        |  ON x.uid = y.uid AND x.event_type < y.event_type
        |  GROUP BY 1, 2),
        |pt AS (SELECT ex.type_a, ex.type_b, ex.exact_inter,
        |  LEAST(ta.theta, tb.theta) AS theta FROM ex
        |  JOIN th ta ON ta.event_type = ex.type_a
        |  JOIN th tb ON tb.event_type = ex.type_b),
        |cc AS (SELECT pt.type_a, pt.type_b,
        |  CAST(COUNT(*) AS BIGINT) AS c FROM pt
        |  JOIN mins ma ON ma.event_type = pt.type_a
        |   AND ma.h < pt.theta
        |  JOIN mins mb ON mb.event_type = pt.type_b AND mb.h = ma.h
        |  GROUP BY 1, 2)
        |SELECT pt.type_a, pt.type_b, pt.exact_inter,
        |COALESCE(cc.c, 0) AS common_below_theta,
        |ROUND(CAST(COALESCE(cc.c, 0) AS DOUBLE)
        |  * CAST(1152921504606846976 AS DOUBLE)
        |  / CAST(pt.theta AS DOUBLE), 4) AS theta_est
        |FROM pt LEFT JOIN cc
        |  ON cc.type_a = pt.type_a AND cc.type_b = pt.type_b
        |ORDER BY pt.type_a, pt.type_b""".stripMargin,

    // KMV sketch fully replayed: md5-derived 60-bit hash -> k smallest
    // per scope (window sort — DuckDB can afford what the bounded-state
    // aggregator avoids) -> (k-1)/u_k estimator in identical IEEE
    // double arithmetic. The union scope dedups hashes across types.
    "q_agg_kmv" ->
      """WITH h AS (SELECT DISTINCT event_type,
        |  ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT
        |    AS h FROM events),
        |u AS (SELECT event_type, h FROM h
        |  UNION ALL
        |  SELECT 'ALL_UNION' AS event_type, h
        |  FROM (SELECT DISTINCT h FROM h)),
        |r AS (SELECT event_type, h,
        |  ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |  COUNT(*) OVER (PARTITION BY event_type) AS n FROM u)
        |SELECT event_type AS scope, CAST(MAX(n) AS BIGINT) AS n_exact,
        |CAST(LEAST(MAX(n), 256) AS BIGINT) AS kmv_k,
        |ROUND(CASE WHEN MAX(n) < 256 THEN CAST(MAX(n) AS DOUBLE)
        |  ELSE 255.0 * 1152921504606846976.0 /
        |    CAST(MAX(CASE WHEN rn = 256 THEN h END) AS DOUBLE) END, 4)
        |  AS kmv_est
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // retention replayed as a distinct-pair join: the Spark side's
    // roaring AND over stored states must equal the exact
    // day/day-1 user intersection
    "q_agg_bitmap_retention" ->
      """WITH d AS (SELECT event_type,
        |  date_trunc('day', CAST(ts AS TIMESTAMP)) AS day, user_id
        |  FROM events),
        |du AS (SELECT DISTINCT event_type, day, user_id FROM d),
        |act AS (SELECT event_type, day, COUNT(*) AS n_active FROM du
        |  GROUP BY 1, 2),
        |ret AS (SELECT b.event_type, b.day, COUNT(*) AS n_retained
        |  FROM du a JOIN du b ON a.event_type = b.event_type
        |   AND a.user_id = b.user_id AND b.day = a.day + INTERVAL 1 DAY
        |  GROUP BY 1, 2)
        |SELECT c.event_type, c.day,
        |CAST(c.n_active AS BIGINT) AS n_active,
        |CAST(COALESCE(r.n_retained, 0) AS BIGINT) AS n_retained
        |FROM act c
        |JOIN act p ON c.event_type = p.event_type
        |  AND c.day = p.day + INTERVAL 1 DAY
        |LEFT JOIN ret r ON r.event_type = c.event_type AND r.day = c.day
        |ORDER BY 1, 2""".stripMargin,

    // the oracle recomputes the rolling hash WINDOWED (explicit 31^k
    // literals, newest char at 31^0 — same polynomial the O(n) rolling
    // evaluator maintains) — any drift in the boundary rule or chunk
    // slicing breaks the per-source fingerprint counts
    "q_text_chunk_dedup" ->
      """WITH c AS (SELECT doc_id, source, text AS s, length(text) AS n
        |  FROM documents),
        |b AS (SELECT doc_id, source, s, n,
        |  list_filter(range(8, n + 1), i ->
        |    (CAST(unicode(s[i]) AS BIGINT) * 1 +
        |     CAST(unicode(s[i-1]) AS BIGINT) * 31 +
        |     CAST(unicode(s[i-2]) AS BIGINT) * 961 +
        |     CAST(unicode(s[i-3]) AS BIGINT) * 29791 +
        |     CAST(unicode(s[i-4]) AS BIGINT) * 923521 +
        |     CAST(unicode(s[i-5]) AS BIGINT) * 28629151 +
        |     CAST(unicode(s[i-6]) AS BIGINT) * 887503681 +
        |     CAST(unicode(s[i-7]) AS BIGINT) * 27512614111) % 64 = 0)
        |    AS bs
        |  FROM c),
        |e AS (SELECT doc_id, source, s, n,
        |  CASE WHEN n < 8 THEN [CAST(0 AS BIGINT), CAST(n AS BIGINT)]
        |       ELSE [CAST(0 AS BIGINT)] || bs ||
        |            CASE WHEN len(bs) > 0 AND bs[-1] = n
        |                 THEN CAST([] AS BIGINT[])
        |                 ELSE [CAST(n AS BIGINT)] END END AS cuts
        |  FROM b),
        |ch AS (SELECT source, doc_id,
        |  unnest(list_transform(range(1, len(cuts)), i ->
        |    s[cuts[i] + 1 : cuts[i + 1]])) AS chunk FROM e)
        |SELECT source, COUNT(DISTINCT doc_id) AS n_docs,
        |COUNT(*) AS n_chunks,
        |COUNT(DISTINCT md5(chunk)) AS n_uniq_chunks,
        |CAST(SUM(length(chunk)) AS BIGINT) AS sum_chars,
        |ROUND(CAST(SUM(length(chunk)) AS DOUBLE) / COUNT(*), 4)
        |  AS avg_len
        |FROM ch GROUP BY source ORDER BY source""".stripMargin,

    // closed-form gap sums — the oracle replays lag + (m−1)(a+b) and
    // the ×2-then-halve-after-double trick; any off-by-one in the gap
    // arithmetic or a missed observation breaks the exact total
    "q_events_interp" ->
      """WITH e AS (SELECT user_id, event_id,
        |  CAST(ts AS TIMESTAMP) AS ts,
        |  CAST(value AS DECIMAL(12,2)) AS v FROM events),
        |h AS (SELECT user_id, date_trunc('hour', ts) AS hr,
        |  arg_max(v, (epoch_us(ts) - epoch_us(date_trunc('hour', ts)))
        |    * 1000000000 + event_id) AS v
        |  FROM e GROUP BY 1, 2),
        |l AS (SELECT user_id, hr, v,
        |  LAG(hr) OVER (PARTITION BY user_id ORDER BY hr) AS phr,
        |  LAG(v) OVER (PARTITION BY user_id ORDER BY hr) AS pv FROM h)
        |SELECT user_id, COUNT(*) AS n_obs,
        |CAST((epoch_us(MAX(hr)) - epoch_us(MIN(hr))) // 3600000000 + 1
        |  AS BIGINT) AS n_hours,
        |CAST(CAST(SUM(v) * 2 + SUM(CASE WHEN phr IS NOT NULL
        |    THEN ((epoch_us(hr) - epoch_us(phr)) // 3600000000 - 1)
        |         * (pv + v)
        |    ELSE CAST(0 AS DECIMAL(38,2)) END)
        |  AS DECIMAL(38,2)) AS DOUBLE) / 2 AS sum_dense
        |FROM l GROUP BY user_id ORDER BY user_id""".stripMargin,

    // the (hour,user) pre-reduction is semantics-invisible: the oracle
    // replays the same two-phase shape — any window-start arithmetic or
    // dedup slip breaks both the distinct and the ride-along counts
    "q_events_sliding_uniques" ->
      """WITH e AS (SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
        |  user_id FROM events),
        |hu AS (SELECT h, user_id, COUNT(*) AS n FROM e GROUP BY h, user_id),
        |x AS (SELECT h - i.i * (INTERVAL '1 hour') AS wstart, user_id, n
        |      FROM hu, (SELECT unnest(range(0, 3)) AS i) i)
        |SELECT wstart, COUNT(DISTINCT user_id) AS n_users,
        |CAST(SUM(n) AS BIGINT) AS n_events
        |FROM x GROUP BY wstart ORDER BY wstart""".stripMargin,

    // LEB128 widths from the SAME 10-arm threshold CASE — integer-exact
    "q_encode_delta" ->
      """WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
        |  event_id FROM events),
        |l AS (SELECT user_id, us - LAG(us) OVER (PARTITION BY user_id
        |  ORDER BY us, event_id) AS gap FROM e),
        |v AS (SELECT user_id, gap,
        |  CASE WHEN gap IS NULL THEN 8
        |       WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2
        |       WHEN gap < 2097152 THEN 3 WHEN gap < 268435456 THEN 4
        |       WHEN gap < 34359738368 THEN 5
        |       WHEN gap < 4398046511104 THEN 6
        |       WHEN gap < 562949953421312 THEN 7
        |       WHEN gap < 72057594037927936 THEN 8 ELSE 9 END AS vbytes
        |  FROM l)
        |SELECT user_id, COUNT(*) AS n_events,
        |CAST(COUNT(*) * 8 AS BIGINT) AS raw_bytes,
        |CAST(SUM(vbytes) AS BIGINT) AS delta_bytes,
        |CAST(MAX(gap) AS BIGINT) AS max_gap_us
        |FROM v GROUP BY user_id ORDER BY user_id""".stripMargin,

    // full Lloyd replay: seeds by md5 order, both assignment rounds'
    // scores via list_dot_product (≡ Spark's sequential zip_with fold,
    // the q_sim_cosine_topk bit-match idiom), centroid means through
    // DECIMAL(25,12) sums rounded to 6 dp before re-entering the fold,
    // inertia as a DECIMAL(38,6) sum of 6-dp-rounded row distances
    "q_emb_kmeans" ->
      """WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
        |  list_dot_product(CAST(embedding AS DOUBLE[]),
        |                   CAST(embedding AS DOUBLE[])) AS xx
        |  FROM embeddings),
        |s0 AS (SELECT vec_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8),
        |seeds AS (SELECT vec_id, CAST(row_number() OVER (
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS cid
        |  FROM s0),
        |c1 AS (SELECT s.cid, e.v AS cv, list_dot_product(e.v, e.v) AS cc
        |  FROM seeds s JOIN e ON e.vec_id = s.vec_id),
        |p1 AS (SELECT e.vec_id, c.cid,
        |  c.cc - 2.0 * list_dot_product(e.v, c.cv) AS sc FROM e, c1 c),
        |a1 AS (SELECT vec_id, cid, sc FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sc, cid) AS rk FROM p1) WHERE rk = 1),
        |m AS (SELECT a.cid, dims.dim, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.v[CAST(dims.dim AS INT)] AS DECIMAL(25,12)))
        |    AS DECIMAL(38,12)) AS sv
        |  FROM a1 a JOIN e ON e.vec_id = a.vec_id,
        |  (SELECT unnest(range(1, 65)) AS dim) dims
        |  GROUP BY a.cid, dims.dim),
        |c2 AS (SELECT cid, list(ROUND(CAST(sv AS DOUBLE) / n, 6)
        |    ORDER BY dim) AS cv FROM m GROUP BY cid),
        |c2c AS (SELECT cid, cv, list_dot_product(cv, cv) AS cc FROM c2),
        |p2 AS (SELECT e.vec_id, c.cid,
        |  c.cc - 2.0 * list_dot_product(e.v, c.cv) AS sc FROM e, c2c c),
        |a2 AS (SELECT vec_id, cid, sc FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id
        |    ORDER BY sc, cid) AS rk FROM p2) WHERE rk = 1),
        |fin AS (SELECT a.cid, e.label,
        |  CAST(ROUND(e.xx + a.sc, 6) AS DECIMAL(20,6)) AS d2
        |  FROM a2 a JOIN e ON e.vec_id = a.vec_id),
        |sz AS (SELECT cid, COUNT(*) AS n_vecs,
        |  ROUND(CAST(CAST(SUM(d2) AS DECIMAL(38,6)) AS DOUBLE), 6) AS inertia
        |  FROM fin GROUP BY cid),
        |tl AS (SELECT cid, label AS top_label, nl AS n_top FROM (
        |  SELECT cid, label, COUNT(*) AS nl, row_number() OVER (
        |    PARTITION BY cid ORDER BY COUNT(*) DESC, label) AS rk
        |  FROM fin GROUP BY cid, label) WHERE rk = 1)
        |SELECT sz.cid, sz.n_vecs, tl.top_label, tl.n_top, sz.inertia
        |FROM sz JOIN tl ON sz.cid = tl.cid ORDER BY sz.cid""".stripMargin,

    // lightweight-coreset twin: the mean/Σd² stats replay through the
    // same decimal quantization points as the kmeans twin, and the
    // Lehmer-hash selector is exact integers — so DuckDB reproduces
    // the EXACT selected set and weights, not a distributional check
    "q_sample_coreset" ->
      """WITH e AS (SELECT vec_id, label,
        |  CAST(embedding AS DOUBLE[]) AS v,
        |  list_dot_product(CAST(embedding AS DOUBLE[]),
        |                   CAST(embedding AS DOUBLE[])) AS xx
        |  FROM embeddings),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |md AS (SELECT dims.dim,
        |  CAST(SUM(CAST(e.v[CAST(dims.dim AS INT)] AS DECIMAL(25,12)))
        |    AS DECIMAL(38,12)) AS sv
        |  FROM e, (SELECT unnest(range(1, 65)) AS dim) dims
        |  GROUP BY dims.dim),
        |mu AS (SELECT list(ROUND(CAST(sv AS DOUBLE) / (SELECT n FROM nn), 6)
        |    ORDER BY dim) AS mu FROM md),
        |mm AS (SELECT mu, list_dot_product(mu, mu) AS mm FROM mu),
        |dd AS (SELECT e.vec_id, e.label,
        |  CAST(GREATEST(0.0, ROUND(e.xx + m.mm
        |    - 2.0 * list_dot_product(e.v, m.mu), 6))
        |    AS DECIMAL(20,6)) AS d2
        |  FROM e, mm m),
        |ss AS (SELECT CAST(SUM(d2) AS DECIMAL(38,6)) AS st FROM dd),
        |qq AS (SELECT dd.vec_id, dd.label,
        |  0.5 / (SELECT n FROM nn) + CASE WHEN CAST(ss.st AS DOUBLE) > 0
        |    THEN 0.5 * CAST(dd.d2 AS DOUBLE) / CAST(ss.st AS DOUBLE)
        |    ELSE 0.0 END AS q
        |  FROM dd, ss),
        |uu AS (SELECT vec_id, label, q,
        |  CAST((48271 * ((48271 * ((48271 * ((vec_id + 1) % 2147483647))
        |    % 2147483647)) % 2147483647)) % 2147483647
        |    AS DOUBLE) / 2147483647.0 AS u
        |  FROM qq)
        |SELECT vec_id, label,
        |  ROUND(1.0 / LEAST(1.0, 100.0 * q), 6) AS w
        |FROM uu WHERE u < 100.0 * q ORDER BY vec_id""".stripMargin,

    // outlier twin: the coreset mean/d² replay carried as exact
    // integer micro-units (HUGEINT sums ≡ Spark's DECIMAL(38,0));
    // ranking is by exact d² so the rounded z can never reorder it,
    // and z derives from the exact sums through the same double formula
    "q_emb_outliers" ->
      """WITH e AS (SELECT vec_id, label,
        |  CAST(embedding AS DOUBLE[]) AS v,
        |  list_dot_product(CAST(embedding AS DOUBLE[]),
        |                   CAST(embedding AS DOUBLE[])) AS xx
        |  FROM embeddings),
        |nn AS (SELECT COUNT(*) AS n FROM e),
        |md AS (SELECT dims.dim,
        |  CAST(SUM(CAST(e.v[CAST(dims.dim AS INT)] AS DECIMAL(25,12)))
        |    AS DECIMAL(38,12)) AS sv
        |  FROM e, (SELECT unnest(range(1, 65)) AS dim) dims
        |  GROUP BY dims.dim),
        |mu AS (SELECT list(ROUND(CAST(sv AS DOUBLE) / (SELECT n FROM nn), 6)
        |    ORDER BY dim) AS mu FROM md),
        |mm AS (SELECT mu, list_dot_product(mu, mu) AS mm FROM mu),
        |dd AS (SELECT e.vec_id, e.label,
        |  CAST(CAST(GREATEST(0.0, ROUND(e.xx + m.mm
        |    - 2.0 * list_dot_product(e.v, m.mu), 6))
        |    AS DECIMAL(20,6)) * 1000000 AS BIGINT) AS d2u
        |  FROM e, mm m),
        |st AS (SELECT COUNT(*) AS n,
        |  SUM(CAST(d2u AS HUGEINT)) AS s1,
        |  SUM(CAST(d2u AS HUGEINT) * CAST(d2u AS HUGEINT)) AS s2
        |  FROM dd)
        |SELECT dd.vec_id, dd.label,
        |  CAST(dd.d2u AS DOUBLE) / 1000000.0 AS d2,
        |  CASE WHEN st.n > 1 AND GREATEST(0.0, (CAST(st.s2 AS DOUBLE)
        |      - CAST(st.s1 AS DOUBLE) * CAST(st.s1 AS DOUBLE) / st.n)
        |      / GREATEST(st.n - 1, 1)) > 0
        |    THEN ROUND((CAST(dd.d2u AS DOUBLE)
        |      - CAST(st.s1 AS DOUBLE) / st.n)
        |      / sqrt(GREATEST(0.0, (CAST(st.s2 AS DOUBLE)
        |        - CAST(st.s1 AS DOUBLE) * CAST(st.s1 AS DOUBLE) / st.n)
        |        / GREATEST(st.n - 1, 1))), 6)
        |    ELSE NULL END AS z
        |FROM dd, st ORDER BY d2 DESC, vec_id LIMIT 20""".stripMargin,

    // greedy k-center twin: 8 unrolled farthest-point rounds — d² is
    // quantized DECIMAL(20,6) at every pair and the argmax tie-breaks
    // by vec_id, so the EXACT selected sequence replays; min-d² updates
    // are exact decimal LEAST
    "q_sample_kcenter" ->
      """WITH e AS MATERIALIZED (SELECT vec_id, label,
        |  CAST(embedding AS DOUBLE[]) AS v,
        |  list_dot_product(CAST(embedding AS DOUBLE[]),
        |                   CAST(embedding AS DOUBLE[])) AS xx
        |  FROM embeddings),
        |c1 AS (SELECT MIN(vec_id) AS vec_id FROM e),
        |f1 AS (SELECT e.v AS cv, e.xx AS cc FROM e JOIN c1 USING (vec_id)),
        |m1 AS MATERIALIZED (SELECT e.vec_id, CAST(GREATEST(0.0, ROUND(e.xx
        |  + f.cc - 2.0 * list_dot_product(e.v, f.cv), 6))
        |  AS DECIMAL(20,6)) AS md FROM e, f1 f),
        |s2 AS (SELECT vec_id, md FROM m1 ORDER BY md DESC, vec_id LIMIT 1),
        |f2 AS (SELECT e.v AS cv, e.xx AS cc FROM e JOIN s2 USING (vec_id)),
        |m2 AS MATERIALIZED (SELECT m.vec_id, LEAST(m.md, CAST(GREATEST(0.0,
        |  ROUND(e.xx + f.cc - 2.0 * list_dot_product(e.v, f.cv), 6))
        |  AS DECIMAL(20,6))) AS md
        |  FROM m1 m JOIN e USING (vec_id), f2 f),
        |s3 AS (SELECT vec_id, md FROM m2 ORDER BY md DESC, vec_id LIMIT 1),
        |f3 AS (SELECT e.v AS cv, e.xx AS cc FROM e JOIN s3 USING (vec_id)),
        |m3 AS MATERIALIZED (SELECT m.vec_id, LEAST(m.md, CAST(GREATEST(0.0,
        |  ROUND(e.xx + f.cc - 2.0 * list_dot_product(e.v, f.cv), 6))
        |  AS DECIMAL(20,6))) AS md
        |  FROM m2 m JOIN e USING (vec_id), f3 f),
        |s4 AS (SELECT vec_id, md FROM m3 ORDER BY md DESC, vec_id LIMIT 1),
        |f4 AS (SELECT e.v AS cv, e.xx AS cc FROM e JOIN s4 USING (vec_id)),
        |m4 AS MATERIALIZED (SELECT m.vec_id, LEAST(m.md, CAST(GREATEST(0.0,
        |  ROUND(e.xx + f.cc - 2.0 * list_dot_product(e.v, f.cv), 6))
        |  AS DECIMAL(20,6))) AS md
        |  FROM m3 m JOIN e USING (vec_id), f4 f),
        |s5 AS (SELECT vec_id, md FROM m4 ORDER BY md DESC, vec_id LIMIT 1),
        |f5 AS (SELECT e.v AS cv, e.xx AS cc FROM e JOIN s5 USING (vec_id)),
        |m5 AS MATERIALIZED (SELECT m.vec_id, LEAST(m.md, CAST(GREATEST(0.0,
        |  ROUND(e.xx + f.cc - 2.0 * list_dot_product(e.v, f.cv), 6))
        |  AS DECIMAL(20,6))) AS md
        |  FROM m4 m JOIN e USING (vec_id), f5 f),
        |s6 AS (SELECT vec_id, md FROM m5 ORDER BY md DESC, vec_id LIMIT 1),
        |f6 AS (SELECT e.v AS cv, e.xx AS cc FROM e JOIN s6 USING (vec_id)),
        |m6 AS MATERIALIZED (SELECT m.vec_id, LEAST(m.md, CAST(GREATEST(0.0,
        |  ROUND(e.xx + f.cc - 2.0 * list_dot_product(e.v, f.cv), 6))
        |  AS DECIMAL(20,6))) AS md
        |  FROM m5 m JOIN e USING (vec_id), f6 f),
        |s7 AS (SELECT vec_id, md FROM m6 ORDER BY md DESC, vec_id LIMIT 1),
        |f7 AS (SELECT e.v AS cv, e.xx AS cc FROM e JOIN s7 USING (vec_id)),
        |m7 AS MATERIALIZED (SELECT m.vec_id, LEAST(m.md, CAST(GREATEST(0.0,
        |  ROUND(e.xx + f.cc - 2.0 * list_dot_product(e.v, f.cv), 6))
        |  AS DECIMAL(20,6))) AS md
        |  FROM m6 m JOIN e USING (vec_id), f7 f),
        |s8 AS (SELECT vec_id, md FROM m7 ORDER BY md DESC, vec_id LIMIT 1),
        |sel AS (
        |  SELECT CAST(1 AS BIGINT) AS sel_round, vec_id,
        |    CAST(NULL AS DOUBLE) AS d2_sel FROM c1
        |  UNION ALL SELECT 2, vec_id, CAST(md AS DOUBLE) FROM s2
        |  UNION ALL SELECT 3, vec_id, CAST(md AS DOUBLE) FROM s3
        |  UNION ALL SELECT 4, vec_id, CAST(md AS DOUBLE) FROM s4
        |  UNION ALL SELECT 5, vec_id, CAST(md AS DOUBLE) FROM s5
        |  UNION ALL SELECT 6, vec_id, CAST(md AS DOUBLE) FROM s6
        |  UNION ALL SELECT 7, vec_id, CAST(md AS DOUBLE) FROM s7
        |  UNION ALL SELECT 8, vec_id, CAST(md AS DOUBLE) FROM s8)
        |SELECT s.sel_round, s.vec_id, e.label, s.d2_sel
        |FROM sel s JOIN e USING (vec_id) ORDER BY s.sel_round""".stripMargin,

    // product-quantization twin: the q_emb_kmeans replay with a `sub`
    // dimension added to every key — same md5 seeds, same
    // DECIMAL(25,12) dim sums rounded to 6 dp, same reassign — over
    // each of the four 16-dim list slices
    "q_emb_pq" ->
      """WITH base AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS fv
        |  FROM embeddings),
        |sx AS (SELECT vec_id, s.sub,
        |  list_slice(fv, 1 + CAST(s.sub * 16 AS INT),
        |    CAST((s.sub + 1) * 16 AS INT)) AS v
        |  FROM base, (SELECT unnest(range(0, 4)) AS sub) s),
        |e AS (SELECT vec_id, sub, v, list_dot_product(v, v) AS xx FROM sx),
        |s0 AS (SELECT vec_id FROM embeddings
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 4),
        |seeds AS (SELECT vec_id, CAST(row_number() OVER (
        |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS BIGINT) AS cid
        |  FROM s0),
        |c1 AS (SELECT e.sub, s.cid, e.v AS cv,
        |  list_dot_product(e.v, e.v) AS cc
        |  FROM seeds s JOIN e ON e.vec_id = s.vec_id),
        |p1 AS (SELECT e.vec_id, e.sub, c.cid,
        |  c.cc - 2.0 * list_dot_product(e.v, c.cv) AS sc
        |  FROM e JOIN c1 c ON e.sub = c.sub),
        |a1 AS (SELECT vec_id, sub, cid, sc FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY sc, cid) AS rk FROM p1) WHERE rk = 1),
        |m AS (SELECT a.sub, a.cid, dims.dim, COUNT(*) AS n,
        |  CAST(SUM(CAST(e.v[CAST(dims.dim AS INT)] AS DECIMAL(25,12)))
        |    AS DECIMAL(38,12)) AS sv
        |  FROM a1 a JOIN e ON e.vec_id = a.vec_id AND e.sub = a.sub,
        |  (SELECT unnest(range(1, 17)) AS dim) dims
        |  GROUP BY a.sub, a.cid, dims.dim),
        |c2 AS (SELECT sub, cid, list(ROUND(CAST(sv AS DOUBLE) / n, 6)
        |    ORDER BY dim) AS cv FROM m GROUP BY sub, cid),
        |c2c AS (SELECT sub, cid, cv, list_dot_product(cv, cv) AS cc FROM c2),
        |p2 AS (SELECT e.vec_id, e.sub, c.cid,
        |  c.cc - 2.0 * list_dot_product(e.v, c.cv) AS sc
        |  FROM e JOIN c2c c ON e.sub = c.sub),
        |a2 AS (SELECT vec_id, sub, cid, sc FROM (
        |  SELECT *, row_number() OVER (PARTITION BY vec_id, sub
        |    ORDER BY sc, cid) AS rk FROM p2) WHERE rk = 1),
        |fin AS (SELECT a.sub, a.cid,
        |  CAST(ROUND(e.xx + a.sc, 6) AS DECIMAL(20,6)) AS d2
        |  FROM a2 a JOIN e ON e.vec_id = a.vec_id AND e.sub = a.sub)
        |SELECT sub, cid, COUNT(*) AS n_vecs,
        |ROUND(CAST(CAST(SUM(d2) AS DECIMAL(38,6)) AS DOUBLE), 6) AS recon_err
        |FROM fin GROUP BY sub, cid ORDER BY sub, cid""".stripMargin,

    // one-pass Gram state vs the naive pair self-join: the oracle
    // recomputes every Σq(i)q(j) from scratch — integer-exact, so any
    // buffer-layout or merge error in the Aggregator breaks the match;
    // the covariance double expression is shared token-for-token
    "q_emb_gram" ->
      """WITH v AS (SELECT vec_id, unnest(range(1, 65)) AS dimn,
        |  embedding FROM embeddings),
        |q AS (SELECT vec_id, CAST(dimn - 1 AS BIGINT) AS i,
        |  CAST(round(CAST(embedding[CAST(dimn AS INT)] AS DOUBLE) * 1000)
        |    AS BIGINT) AS q FROM v),
        |nn AS (SELECT COUNT(*) AS n FROM embeddings),
        |sums AS (SELECT i, CAST(SUM(q) AS BIGINT) AS s FROM q GROUP BY i),
        |pair AS (SELECT a.i AS i, b.i AS j,
        |  CAST(SUM(a.q * b.q) AS BIGINT) AS s_ij
        |  FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
        |  GROUP BY a.i, b.i)
        |SELECT p.i, p.j, p.s_ij,
        |CASE WHEN nn.n > 1 THEN ROUND((CAST(p.s_ij AS DOUBLE)
        |  - CAST(sa.s AS DOUBLE) * CAST(sb.s AS DOUBLE) / nn.n)
        |  / (nn.n - 1), 4) ELSE NULL END AS cov
        |FROM pair p JOIN sums sa ON p.i = sa.i
        |JOIN sums sb ON p.j = sb.i CROSS JOIN nn
        |ORDER BY p.i, p.j""".stripMargin,

    // the bin-grid equi-join is semantics-invisible: the oracle is the
    // PLAIN non-equi overlap join — any duplicate or lost pair from the
    // binning/dedup machinery breaks the value match
    "q_join_interval" ->
      """WITH promo AS (SELECT CAST(unnest(generate_series(
        |    DATE '1992-01-01', DATE '1998-12-01', INTERVAL 60 DAY))
        |    AS DATE) AS p_start),
        |p2 AS (SELECT p_start, p_start + 13 AS p_end FROM promo),
        |li AS (SELECT CAST(l_shipdate AS DATE) AS l_shipdate,
        |  CAST(l_shipdate AS DATE)
        |    + CAST(1 + (l_orderkey * 7 + l_linenumber) % 28
        |      AS INT) AS l_receiptdate,
        |  l_quantity FROM lineitem)
        |SELECT p_start, COUNT(*) AS n_lines,
        |CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2)))
        |  AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty
        |FROM p2 JOIN li
        |  ON l_shipdate <= p_end AND l_receiptdate >= p_start
        |GROUP BY p_start ORDER BY p_start""".stripMargin,

    // two-phase state build + merge replayed verbatim: phase 1 daily
    // algebraic states, phase 2 consumes only the state rows — exact
    // decimals make the result bit-identical to a one-phase aggregate
    "q_agg_statemerge" ->
      """WITH st AS (SELECT l_shipdate, l_returnflag, COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sq,
        |  MIN(CAST(l_quantity AS DECIMAL(12,2))) AS mn,
        |  MAX(CAST(l_quantity AS DECIMAL(12,2))) AS mx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sp
        |  FROM lineitem GROUP BY l_shipdate, l_returnflag)
        |SELECT l_returnflag, CAST(SUM(n) AS BIGINT) AS n,
        |CAST(CAST(SUM(sq) AS DECIMAL(38,2)) AS DOUBLE) AS sum_qty,
        |CAST(CAST(MIN(mn) AS DECIMAL(38,2)) AS DOUBLE) AS min_qty,
        |CAST(CAST(MAX(mx) AS DECIMAL(38,2)) AS DOUBLE) AS max_qty,
        |CAST(CAST(SUM(sp) AS DECIMAL(38,2)) AS DOUBLE) AS sum_price,
        |COUNT(*) AS n_states,
        |CAST(SUM(CASE WHEN l_shipdate >= DATE '1995-06-01'
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_batch_states
        |FROM st GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // salting is semantics-invisible for inner equi joins: the oracle
    // is the PLAIN join — any salt artifact breaks the value match
    "q_join_skew" ->
      """SELECT p_brand, COUNT(*) AS n_lines,
        |CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)))
        |  AS DECIMAL(38,2)) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size <= 25
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    // the partitioned-layout roundtrip preserves values exactly, so the
    // oracle recomputes the two pruned years straight from the table
    // standing-index compaction ledger: the REAL filesystem file
    // counts (history write = 1 file per populated projection-bucket
    // dir, each of the 3 planted appends = +1 per touched dir,
    // compaction rewrites dirs at >= 3 files to exactly 1) are
    // replayed closed-form from the data; the projection bucket is
    // the same sequential-fold double arithmetic the embcos oracle
    // proves bit-parity for
    "q_index_compact" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |b AS (SELECT vec_id,
        |  CASE WHEN sqrt(list_dot_product(v, v)) * sqrt(CAST(len(v) AS DOUBLE)) = 0
        |    THEN CAST(0 AS BIGINT)
        |    ELSE CAST(FLOOR(list_dot_product(v, list_transform(v, x -> 1.0)) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(CAST(len(v) AS DOUBLE))) * 16)
        |      AS BIGINT)
        |  END AS bucket FROM e),
        |agg AS (SELECT bucket,
        |  MAX(CASE WHEN vec_id % 4 <> 3 THEN 1 ELSE 0 END)
        |    + COUNT(DISTINCT CASE WHEN vec_id % 4 = 3 THEN vec_id % 3 END)
        |    AS nfb,
        |  COUNT(*) AS n_rows
        |  FROM b GROUP BY bucket)
        |SELECT bucket, CAST(nfb AS BIGINT) AS n_files_before,
        |  CAST(CASE WHEN nfb >= 3 THEN 1 ELSE nfb END AS BIGINT)
        |    AS n_files_after,
        |  n_rows
        |FROM agg ORDER BY bucket""".stripMargin,

    // Z-order advisor: the 5-step shift-mask bit spread is replayed
    // with DuckDB's << & | on the same BIGINT masks — any deviation in
    // the interleave or the data-driven file split breaks every
    // min/max stat row. Keys are masked to the LOW 31 BITS before the
    // spread, in lockstep with mortonSpread (r19): the odd-position
    // key's extra << 1 would otherwise carry bit 31's spread into the
    // sign bit and break the [0, 16) file_id containment in both
    // engines at once
    "q_layout_zorder" ->
      """WITH li AS (SELECT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |lm AS (SELECT o, p, o & 2147483647 AS om, p & 2147483647 AS pm
        |  FROM li),
        |s1 AS (SELECT o, p,
        |  ((om | (om << 16)) & 281470681808895) AS xo,
        |  ((pm | (pm << 16)) & 281470681808895) AS xp FROM lm),
        |s2 AS (SELECT o, p,
        |  ((xo | (xo << 8)) & 71777214294589695) AS xo,
        |  ((xp | (xp << 8)) & 71777214294589695) AS xp FROM s1),
        |s3 AS (SELECT o, p,
        |  ((xo | (xo << 4)) & 1085102592571150095) AS xo,
        |  ((xp | (xp << 4)) & 1085102592571150095) AS xp FROM s2),
        |s4 AS (SELECT o, p,
        |  ((xo | (xo << 2)) & 3689348814741910323) AS xo,
        |  ((xp | (xp << 2)) & 3689348814741910323) AS xp FROM s3),
        |s5 AS (SELECT o, p,
        |  ((xo | (xo << 1)) & 6148914691236517205) AS xo,
        |  ((xp | (xp << 1)) & 6148914691236517205) AS xp FROM s4),
        |zt AS (SELECT o, p, (xo | (xp << 1)) AS z FROM s5),
        |zm AS (SELECT MAX(z) AS zmax FROM zt)
        |SELECT z // ((zmax // 16) + 1) AS file_id, COUNT(*) AS n_rows,
        |MIN(o) AS o_min, MAX(o) AS o_max,
        |MIN(p) AS p_min, MAX(p) AS p_max
        |FROM zt, zm GROUP BY 1 ORDER BY file_id""".stripMargin,

    "q_sink_partitioned" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |COUNT(*) AS n,
        |CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2))
        |  AS DOUBLE) AS sum_price
        |FROM orders WHERE year(o_orderdate) IN (1996, 1998)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // line-level dedup: first occurrence in global (doc_id, pos) order
    // wins; lines = content + planted boilerplate footer per doc
    "q_dedup_lines" ->
      """WITH l AS (
        |  SELECT doc_id, source, 0 AS pos, text AS line FROM documents
        |  UNION ALL
        |  SELECT doc_id, source, 1,
        |    'boilerplate footer variant ' || (doc_id % 7)
        |    || ' subscribe for updates and accept cookies' FROM documents),
        |r AS (SELECT source, line,
        |  ROW_NUMBER() OVER (PARTITION BY md5(line)
        |    ORDER BY doc_id, pos) AS rk FROM l)
        |SELECT source, COUNT(*) AS n_lines,
        |CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |CAST(SUM(CASE WHEN rk > 1 THEN length(line) ELSE 0 END) AS BIGINT)
        |  AS chars_removed
        |FROM r GROUP BY source ORDER BY source""".stripMargin,

    // planted raw URLs (doc_id-dependent case/port/utm/fragment mess)
    // canonicalized by the same RE2-safe regexp chain as the Spark
    // side; 'g' only where more than one match is possible
    // span ledger: DuckDB range(a,b) is b-EXCLUSIVE -> range(1, len-6)
    // yields starts 1..len-7; w[i:i+7] is 1-based INCLUSIVE = 8 tokens;
    // md5 replays Spark's lowercase hex bit-for-bit
    "q_dedup_span" ->
      """WITH w AS (SELECT doc_id,
        |  string_split(lower(text), ' ') AS w FROM documents),
        |sh AS (SELECT doc_id,
        |  md5(array_to_string(w[i:i+7], ' ')) AS h
        |  FROM w, UNNEST(range(1, len(w) - 6)) AS t(i)
        |  WHERE len(w) >= 8),
        |g AS (SELECT doc_id, h, COUNT(*) AS n FROM sh GROUP BY 1, 2),
        |t AS (SELECT doc_id, n,
        |  COUNT(*) OVER (PARTITION BY h) AS ndocs FROM g)
        |SELECT doc_id,
        |CAST(SUM(n) AS BIGINT) AS n_spans,
        |CAST(SUM(CASE WHEN ndocs >= 2 THEN n ELSE 0 END) AS BIGINT)
        |  AS n_dup_spans,
        |ROUND(CAST(SUM(CASE WHEN ndocs >= 2 THEN n ELSE 0 END)
        |    AS DOUBLE)
        |  / CAST(SUM(n) AS DOUBLE), 6) AS dup_ratio
        |FROM t GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_dedup_url" ->
      """WITH u AS (SELECT doc_id, source,
        |  'https://' || CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE 'www.' END
        |  || 'Src' || (doc_id % 7) || '.Example.COM'
        |  || CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END
        |  || '/docs/' || (doc_id % 50)
        |  || CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END
        |  || '?utm_source=feed&page=' || (doc_id % 5)
        |  || CASE WHEN doc_id % 4 = 0 THEN '&utm_campaign=x' ELSE '' END
        |  || CASE WHEN doc_id % 2 = 1 THEN '#frag' ELSE '' END AS raw_url
        |  FROM documents),
        |c AS (SELECT source, raw_url,
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    lower(raw_url),
        |    '#.*$', ''), ':443/', '/'), '://www\.', '://'),
        |    '&utm_[a-z]+=[^&]*', '', 'g'), '\?utm_[a-z]+=[^&]*&', '?'),
        |    '\?utm_[a-z]+=[^&]*$', ''), '/\?', '?'), '/$', '')
        |    AS canon_url FROM u)
        |SELECT source, COUNT(*) AS n_docs,
        |COUNT(DISTINCT raw_url) AS n_raw,
        |COUNT(DISTINCT canon_url) AS n_canonical,
        |CAST(COUNT(*) - COUNT(DISTINCT canon_url) AS BIGINT) AS n_collapsed
        |FROM c GROUP BY source ORDER BY source""".stripMargin,

    // the Bloom prefilter is exactness-preserving (every candidate is
    // re-verified against the true shingle set), so the oracle computes
    // the bloom-free answer: drop docs sharing >= 2 distinct 5-grams
    "q_filter_bloom" ->
      """WITH d AS (SELECT doc_id, source,
        |  string_split(lower(text), ' ') AS p FROM documents),
        |e AS (SELECT doc_id, source, p, unnest(range(1, len(p) - 3)) AS i
        |  FROM d WHERE len(p) >= 5),
        |g AS (SELECT doc_id, source,
        |  array_to_string(list_slice(p, CAST(i AS INT), CAST(i + 4 AS INT)), ' ') AS ng
        |  FROM e),
        |bench AS (SELECT DISTINCT ng FROM g WHERE doc_id % 100 = 0),
        |drp AS (SELECT doc_id FROM (
        |    SELECT doc_id, COUNT(DISTINCT ng) AS n_shared FROM g
        |    WHERE doc_id % 100 <> 0 AND ng IN (SELECT ng FROM bench)
        |    GROUP BY doc_id)
        |  WHERE n_shared >= 2)
        |SELECT source, COUNT(*) AS n_train,
        |CAST(COUNT(*) - SUM(CASE WHEN doc_id IN (SELECT doc_id FROM drp)
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM drp)
        |  THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        |FROM documents WHERE doc_id % 100 <> 0
        |GROUP BY source ORDER BY source""".stripMargin,

    // ---- §2.12 multimodal ----
    // BYTE-based checksum over the UTF-8 octets (hex(encode(text)) →
    // 2-hex-char slices), matching the Spark stub's unsigned byte sum
    // exactly — SUM(ascii(char)) over character positions would agree
    // only on pure-ASCII corpora
    // image/png rows are REALLY decoded on the Spark side; their wire
    // contribution (decoded raster bytes = w·h, checksum = pixel sum) is
    // recomputed here from the closed-form pixel function
    // pixel(i) = (doc_id*31 + i*7) % 256 over w=8+doc_id%8, h=8+doc_id%5
    // — codec-independent, so the oracle never touches compressed bytes.
    // audio/wav rows decode REAL RIFF/PCM via javax.sound (closed-form
    // sample sums); video rows keep the labeled stub (text-byte checksum).
    // Windowed audio features: the oracle replays the closed-form
    // sample function ((doc_id*131 + i*17) % 65536 − 32768) and the
    // 16-frame windowing in pure integer arithmetic — the Spark side
    // must produce the SAME windows from frames that actually came
    // through the javax.sound RIFF/PCM decode
    "q_mm_audio_window" ->
      """WITH a AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
        |ix AS (SELECT doc_id, unnest(range(0, 64 + doc_id % 64)) AS i
        |  FROM a),
        |sm AS (SELECT doc_id, CAST(i // 16 AS BIGINT) AS win,
        |  ((doc_id * 131 + i * 17) % 65536) - 32768 AS smp FROM ix)
        |SELECT doc_id, win, COUNT(*) AS n_frames,
        |CAST(SUM(smp * smp) AS BIGINT) AS energy,
        |CAST(MAX(ABS(smp)) AS BIGINT) AS peak
        |FROM sm GROUP BY 1, 2 ORDER BY doc_id, win""".stripMargin,

    // Perceptual-hash image dedup: the closed-form pixel function lets
    // the oracle recompute sample grid -> integer mean -> aHash bits ->
    // 16-bit bands -> band-join candidates -> exact popcount(XOR)
    // verify, all without ever decoding a PNG — the Spark side's real
    // codec path must land on identical arithmetic
    // Scene-cut detection: 64-byte frames via the hex(encode(text))
    // byte trick, 16-bin histograms, L1 over the full bin grid
    // (missing bins = 0), cut when L1 > 24
    // r12: the oracle replays the closed-form FRAME PIXEL function
    // (frame f pixel i = (doc_id*31 + f + i*step(shot)) % 256, step 7
    // even shots / 3 odd, shot = f//3) through histogram -> L1 -> cut
    // arithmetic; the Spark side must reach the same numbers through a
    // REAL concatenated-PNG container parse + codec decode
    "q_mm_video_scene" ->
      """WITH v AS (SELECT doc_id, source, 4 + doc_id % 5 AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |fr AS (SELECT doc_id, CAST(f.f AS BIGINT) AS f FROM v,
        |  LATERAL (SELECT unnest(range(0, nf)) AS f) f),
        |px AS (SELECT doc_id, f,
        |  CAST(((doc_id * 31 + f + i.i *
        |      (CASE WHEN (f // 3) % 2 = 0 THEN 7 ELSE 1 END)) % 256)
        |    // 16 AS INT) AS bin
        |  FROM fr, LATERAL (SELECT unnest(range(0, 64)) AS i) i),
        |h AS (SELECT doc_id, f, bin, COUNT(*) AS cnt FROM px
        |  GROUP BY 1, 2, 3),
        |grid AS (SELECT fr.doc_id, fr.f, CAST(b.b AS INT) AS bin
        |  FROM fr, (SELECT unnest(range(0, 16)) AS b) b),
        |hf AS (SELECT g.doc_id, g.f, g.bin, COALESCE(h.cnt, 0) AS cnt
        |  FROM grid g LEFT JOIN h
        |  ON g.doc_id = h.doc_id AND g.f = h.f AND g.bin = h.bin),
        |dist AS (SELECT a.doc_id, a.f, SUM(ABS(a.cnt - b.cnt)) AS l1
        |  FROM hf a JOIN hf b
        |  ON a.doc_id = b.doc_id AND a.bin = b.bin AND b.f = a.f + 1
        |  GROUP BY 1, 2),
        |per AS (SELECT v.doc_id, v.source, v.nf AS n_frames,
        |  COALESCE(ct.nc, 0) AS n_cuts
        |  FROM v
        |  LEFT JOIN (SELECT doc_id,
        |      SUM(CASE WHEN l1 > 24 THEN 1 ELSE 0 END) AS nc
        |    FROM dist GROUP BY 1) ct ON v.doc_id = ct.doc_id)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_videos,
        |CAST(SUM(n_frames) AS BIGINT) AS total_frames,
        |CAST(SUM(n_cuts) AS BIGINT) AS total_cuts,
        |CAST(MAX(n_cuts) AS BIGINT) AS max_cuts
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,

    // Audio fingerprint dedup: closed-form samples -> 8-frame window
    // energies -> delta-sign bits -> packed fingerprint -> exact
    // (n_samples, fp) duplicate groups; the Spark side's real RIFF
    // decode must land on identical integer arithmetic
    "q_mm_audio_fp" ->
      """WITH clips AS (
        |  SELECT doc_id AS clip_id, doc_id AS base, 0 AS tw
        |    FROM documents WHERE doc_id % 3 = 1
        |  UNION ALL
        |  SELECT doc_id + 10000000, doc_id, 1 FROM documents
        |    WHERE doc_id % 3 = 1 AND doc_id % 30 = 1),
        |par AS (SELECT clip_id, base, tw,
        |  CAST(64 + base % 64 AS BIGINT) AS n FROM clips),
        |ix AS (SELECT clip_id, base, tw, n, CAST(i.i AS BIGINT) AS i
        |  FROM par, LATERAL (SELECT unnest(range(0, n)) AS i) i),
        |sm AS (SELECT clip_id, n, i // 8 AS win,
        |  ((base * 131 + i * 17
        |    + CASE WHEN tw = 1 AND i = 0 THEN 17 ELSE 0 END) % 65536)
        |    - 32768 AS s FROM ix),
        |en AS (SELECT clip_id, n, win, SUM(s * s) AS e FROM sm
        |  GROUP BY 1, 2, 3),
        |bits AS (SELECT a.clip_id, a.n,
        |  CASE WHEN b.e > a.e
        |    THEN (CAST(1 AS BIGINT) << CAST(a.win AS INT))
        |    ELSE 0 END AS bit
        |  FROM en a JOIN en b
        |  ON a.clip_id = b.clip_id AND b.win = a.win + 1),
        |fps AS (SELECT clip_id, n,
        |  CAST(COALESCE(SUM(bit), 0) AS BIGINT) AS fp FROM bits
        |  GROUP BY 1, 2)
        |SELECT n AS n_samples, fp, CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM fps GROUP BY 1, 2 HAVING COUNT(*) >= 2
        |ORDER BY 1, 2""".stripMargin,

    "q_mm_phash" ->
      (phashPairCtes + """
        |SELECT a, b, hamming FROM ham WHERE hamming <= 6
        |ORDER BY a, b""".stripMargin),

    // Incremental image admission: history bands (base stride-7 images
    // only) + planted batch (verbatim +1e6, bumped +2e6, stride-13 new
    // image twice +3e6/+4e6) replayed from the closed-form pixel
    // functions; band collisions -> full 4-band popcount(XOR) Hamming
    // <= 6 -> kept / dup_index (precedence) / dup_batch ledger
    "q_mm_phash_incr" ->
      """WITH hist AS (SELECT doc_id AS img_id, doc_id AS base,
        |  0 AS var, 0 AS is_batch FROM documents WHERE doc_id % 3 = 0),
        |batch AS (
        |  SELECT doc_id + 1000000 AS img_id, doc_id AS base,
        |    0 AS var, 1 AS is_batch FROM documents
        |    WHERE doc_id % 3 = 0 AND doc_id % 12 = 0
        |  UNION ALL SELECT doc_id + 2000000, doc_id, 1, 1
        |    FROM documents WHERE doc_id % 3 = 0 AND doc_id % 30 = 0
        |  UNION ALL SELECT doc_id + 3000000, doc_id, 2, 1
        |    FROM documents WHERE doc_id % 3 = 0 AND doc_id % 21 = 0
        |  UNION ALL SELECT doc_id + 4000000, doc_id, 2, 1
        |    FROM documents WHERE doc_id % 3 = 0 AND doc_id % 21 = 0),
        |imgs AS (SELECT * FROM hist UNION ALL SELECT * FROM batch),
        |dims AS (SELECT img_id, base, var, is_batch,
        |  CAST(8 + base % 8 AS BIGINT) AS w,
        |  CAST(8 + base % 5 AS BIGINT) AS h FROM imgs),
        |cells AS (SELECT img_id, base, var, is_batch, w, h,
        |  CAST(ci // 8 AS BIGINT) AS cy, CAST(ci % 8 AS BIGINT) AS cx
        |  FROM (SELECT *, unnest(range(0, 64)) AS ci FROM dims) t),
        |sv AS (SELECT img_id, cy * 8 + cx AS idx,
        |  ((cy * h) // 8) * w + ((cx * w) // 8) AS i, base, var, is_batch
        |  FROM cells),
        |vals AS (SELECT img_id, idx, is_batch,
        |  CASE WHEN var = 1 AND i = 0
        |      THEN ((base * 31 + i * 7) % 256 + 128) % 256
        |    WHEN var = 2 THEN (base * 31 + i * 13) % 256
        |    ELSE (base * 31 + i * 7) % 256 END AS v FROM sv),
        |means AS (SELECT img_id, SUM(v) // 64 AS m FROM vals
        |  GROUP BY img_id),
        |bandt AS (SELECT v.img_id, CAST(idx // 16 AS INT) AS band,
        |  CAST(SUM(CASE WHEN v > m
        |    THEN (CAST(1 AS BIGINT) << CAST(idx % 16 AS INT))
        |    ELSE 0 END) AS BIGINT) AS bv,
        |  MAX(is_batch) AS is_batch
        |  FROM vals v JOIN means USING (img_id)
        |  GROUP BY v.img_id, idx // 16),
        |bbat AS (SELECT img_id, band, bv FROM bandt WHERE is_batch = 1),
        |bidx AS (SELECT img_id, band, bv FROM bandt WHERE is_batch = 0),
        |candi AS (SELECT DISTINCT x.img_id AS a, y.img_id AS b
        |  FROM bbat x JOIN bidx y ON x.band = y.band AND x.bv = y.bv),
        |di AS (SELECT DISTINCT a AS img_id FROM (
        |  SELECT a, b, SUM(bit_count(xor(ba.bv, hb.bv))) AS hm
        |  FROM candi JOIN bbat ba ON ba.img_id = a
        |  JOIN bidx hb ON hb.img_id = b AND hb.band = ba.band
        |  GROUP BY a, b) WHERE hm <= 6),
        |candb AS (SELECT DISTINCT x.img_id AS a, y.img_id AS b
        |  FROM bbat x JOIN bbat y
        |  ON x.band = y.band AND x.bv = y.bv AND x.img_id < y.img_id),
        |db AS (SELECT DISTINCT b AS img_id FROM (
        |  SELECT a, b, SUM(bit_count(xor(ba.bv, b2.bv))) AS hm
        |  FROM candb JOIN bbat ba ON ba.img_id = a
        |  JOIN bbat b2 ON b2.img_id = b AND b2.band = ba.band
        |  GROUP BY a, b) WHERE hm <= 6),
        |ids AS (SELECT DISTINCT img_id FROM batch)
        |SELECT ids.img_id,
        |  CASE WHEN di.img_id IS NOT NULL THEN 'dup_index'
        |    WHEN db.img_id IS NOT NULL THEN 'dup_batch'
        |    ELSE 'kept' END AS decision
        |FROM ids LEFT JOIN di USING (img_id) LEFT JOIN db USING (img_id)
        |ORDER BY img_id""".stripMargin,

    // Cluster collapse of the phash pairs: pointer-doubling CC (the
    // proven q_dedup_cluster CTE pattern, 8 rounds) -> one-row
    // survivor ledger; the quadratic pair stream never reaches the
    // wire
    "q_mm_phash_cluster" -> {
      // 24 rounds: the gsf1 phash graph chains near-dups across
      // residue classes into LONG paths with adversarial id order
      // (min propagation is ~1 hop/round there); 8 and 12 rounds left
      // 2 components unmerged at 10x data, 24 converges with margin.
      // The label table is pair-graph-sized, so extra rounds are cheap.
      // FIXPOINT ASSERTION (r12): one extra round runs and the final
      // SELECT calls error() if ANY label still moved — a corpus whose
      // chains outrun the fixed rounds fails LOUDLY instead of
      // reporting an under-converged ledger as a false mismatch
      val rounds = 24
      val base = phashPairCtes +
        """,
          |prs AS MATERIALIZED (SELECT a, b FROM ham WHERE hamming <= 6),
          |ue AS MATERIALIZED (SELECT a, b FROM prs
          |  UNION ALL SELECT b AS a, a AS b FROM prs),
          |l0 AS MATERIALIZED (SELECT a AS node, a AS comp FROM ue
          |  GROUP BY a)""".stripMargin
      val ctes = (1 to (rounds + 1)).map { k =>
        s"""t$k AS MATERIALIZED (SELECT ue.a AS node,
           |  MIN(LEAST(la.comp, lb.comp)) AS comp FROM ue
           |  JOIN l${k - 1} la ON ue.a = la.node
           |  JOIN l${k - 1} lb ON ue.b = lb.node GROUP BY ue.a),
           |l$k AS MATERIALIZED (SELECT x.node, LEAST(x.comp, y.comp)
           |  AS comp FROM t$k x JOIN t$k y ON x.comp = y.node)""".stripMargin
      }
      val chk =
        s"""chk AS (SELECT CASE WHEN COUNT(*) > 0 THEN error(
           |  'q_mm_phash_cluster oracle: CC under-converged at $rounds
           |   rounds — raise the round count') ELSE 0 END AS z
           |  FROM l$rounds x JOIN l${rounds + 1} y
           |  ON x.node = y.node AND x.comp <> y.comp)""".stripMargin
      (base +: ctes :+ chk).mkString("", ",\n", "\n") +
        s"""SELECT CAST(COUNT(*) + (SELECT z FROM chk) AS BIGINT)
           |  AS n_images,
           |CAST(SUM(CASE WHEN l.comp IS NOT NULL THEN 1 ELSE 0 END)
           |  AS BIGINT) AS n_in_dup_clusters,
           |CAST(COUNT(DISTINCT l.comp) AS BIGINT) AS n_clusters,
           |CAST(SUM(CASE WHEN l.comp IS NOT NULL AND l.comp <> img_id
           |  THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
           |CAST(COUNT(*) - SUM(CASE WHEN l.comp IS NOT NULL
           |  AND l.comp <> img_id THEN 1 ELSE 0 END) AS BIGINT)
           |  AS n_kept
           |FROM imgs LEFT JOIN l$rounds l ON imgs.img_id = l.node""".stripMargin
    },

    // r12: the video rows replay the closed-form FRAME pixel function
    // (real concatenated-PNG container decode on the Spark side);
    // n_bytes = decoded raster bytes = n_frames x 64
    "q_mm_decode" ->
      """WITH d AS (SELECT doc_id, text,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS media_type FROM documents),
        |vf AS (SELECT doc_id, unnest(range(0, 4 + doc_id % 5)) AS f
        |  FROM d WHERE media_type = 'video/mp4'),
        |vp AS (SELECT doc_id, f, unnest(range(0, 64)) AS i FROM vf),
        |cs AS (SELECT doc_id, 'video/mp4' AS media_type,
        |  COUNT(*) AS n_bytes,
        |  SUM((doc_id * 31 + f + i *
        |    (CASE WHEN (f // 3) % 2 = 0 THEN 7 ELSE 1 END)) % 256)
        |    AS checksum
        |  FROM vp GROUP BY doc_id),
        |px AS (SELECT doc_id,
        |  unnest(range(0, (8 + doc_id % 8) * (8 + doc_id % 5))) AS i
        |  FROM d WHERE media_type = 'image/png'),
        |ics AS (SELECT doc_id, COUNT(*) AS n_bytes,
        |  SUM((doc_id * 31 + i * 7) % 256) AS checksum
        |  FROM px GROUP BY doc_id),
        |ax AS (SELECT doc_id,
        |  unnest(range(0, 64 + doc_id % 64)) AS i
        |  FROM d WHERE media_type = 'audio/wav'),
        |acs AS (SELECT doc_id, COUNT(*) * 2 AS n_bytes,
        |  SUM((doc_id * 131 + i * 17) % 65536 - 32768) AS checksum
        |  FROM ax GROUP BY doc_id),
        |allcs AS (SELECT media_type, n_bytes, checksum FROM cs
        |  UNION ALL SELECT 'image/png', n_bytes, checksum FROM ics
        |  UNION ALL SELECT 'audio/wav', n_bytes, checksum FROM acs)
        |SELECT media_type, COUNT(*) AS n,
        |CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |CAST(SUM(checksum) AS BIGINT) AS total_checksum
        |FROM allcs GROUP BY media_type ORDER BY media_type""".stripMargin,

    "q_mm_meta" ->
      """WITH d AS (SELECT source,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS media_type,
        |  octet_length(encode(text)) AS n_bytes FROM documents)
        |SELECT source, media_type, COUNT(*) AS n,
        |CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |MIN(n_bytes) AS min_bytes, MAX(n_bytes) AS max_bytes
        |FROM d GROUP BY source, media_type ORDER BY source, media_type""".stripMargin,

    // all 16 bins are emitted even when empty (fixed-length feature
    // vector contract on the Spark side) — hence the grid left join
    "q_mm_features" ->
      """WITH d AS (SELECT doc_id, text,
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS media_type FROM documents),
        |h AS (SELECT media_type, hex(encode(text)) AS hx,
        |  octet_length(encode(text)) AS nb FROM d),
        |ch AS (SELECT media_type,
        |  ('0x' || substring(hx, CAST(p.p * 2 + 1 AS INT), 2))::INT AS byte
        |  FROM h, LATERAL (SELECT unnest(range(0, nb)) AS p) p),
        |c AS (SELECT media_type, CAST(byte // 16 AS INT) AS bin,
        |  COUNT(*) AS cnt FROM ch GROUP BY media_type, bin),
        |grid AS (SELECT media_type, CAST(b.b AS INT) AS bin
        |  FROM (SELECT DISTINCT media_type FROM d) mt,
        |       (SELECT unnest(range(0, 16)) AS b) b)
        |SELECT g.media_type, g.bin, CAST(COALESCE(c.cnt, 0) AS BIGINT) AS n
        |FROM grid g LEFT JOIN c ON g.media_type = c.media_type AND g.bin = c.bin
        |ORDER BY g.media_type, g.bin""".stripMargin,

    "q_mm_frame_sample" ->
      """WITH d AS (SELECT
        |  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
        |       WHEN doc_id % 3 = 1 THEN 'audio/wav'
        |       ELSE 'video/mp4' END AS media_type,
        |  octet_length(encode(text)) AS nb FROM documents),
        |f AS (SELECT media_type, nb,
        |  unnest(range(0, CAST(ceil(nb / 64.0) AS BIGINT))) AS fi
        |  FROM d WHERE nb > 0),
        |s AS (SELECT media_type, LEAST(64, nb - fi * 64) AS flen
        |  FROM f WHERE fi % 4 = 0)
        |SELECT media_type, COUNT(*) AS n_sampled_frames,
        |CAST(SUM(flen) AS BIGINT) AS sampled_bytes
        |FROM s GROUP BY media_type ORDER BY media_type""".stripMargin,

    // dwell gaps are exact integer µs; HUGEINT mirrors the Spark side's
    // DECIMAL(38,0) sums, double division is the one rounding step
    "q_events_dwell" ->
      """WITH e AS (SELECT user_id, event_type, event_id,
        |  epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
        |g AS (SELECT event_type,
        |  lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us
        |    AS gap_us
        |  FROM e)
        |SELECT event_type, COUNT(*) AS n,
        |round(SUM(CAST(gap_us AS HUGEINT))::DOUBLE
        |  / (CAST(COUNT(*) AS HUGEINT) * 1000000)::DOUBLE, 6)
        |  AS avg_dwell_sec,
        |round(CAST(MAX(gap_us) AS DOUBLE) / 1000000.0, 6) AS max_dwell_sec
        |FROM g WHERE gap_us IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // cohort LTV: exact DECIMAL(38,2) cents through both aggregation
    // levels and the running window; doubles only on the wire
    "q_events_ltv" ->
      """WITH d AS (SELECT user_id,
        |  CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, event_type, value
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort FROM d GROUP BY 1),
        |s AS (SELECT cohort, COUNT(*) AS cohort_users FROM f GROUP BY 1),
        |cells AS (SELECT cohort,
        |  date_diff('day', cohort, day) AS day_offset,
        |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DECIMAL(38,2))
        |    AS day_value
        |  FROM d JOIN f USING (user_id)
        |  WHERE event_type = 'purchase' GROUP BY 1, 2),
        |cum AS (SELECT cohort, day_offset, day_value,
        |  CAST(SUM(day_value) OVER (PARTITION BY cohort ORDER BY day_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS DECIMAL(38,2)) AS cum_value
        |  FROM cells)
        |SELECT c.cohort, CAST(day_offset AS INT) AS day_offset,
        |CAST(day_value AS DOUBLE) AS day_value,
        |CAST(cum_value AS DOUBLE) AS cum_value,
        |round(CAST(cum_value AS DOUBLE) / s.cohort_users, 6) AS ltv_per_user
        |FROM cum c JOIN s ON c.cohort = s.cohort
        |ORDER BY c.cohort, day_offset""".stripMargin,

    // correlation from exact decimal power sums; every post-cast step
    // is the same IEEE double expression on both engines
    "q_agg_corr" ->
      """WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
        |  SUM(CAST(l_discount AS DECIMAL(12,2))) AS sy,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(12,2))) AS sxy,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))
        |    * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
        |  SUM(CAST(l_discount AS DECIMAL(12,2))
        |    * CAST(l_discount AS DECIMAL(12,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |, v AS (SELECT l_returnflag, n,
        |  CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) AS vx,
        |  CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS vy,
        |  CAST(sxy AS DOUBLE) - CAST(n AS DOUBLE)
        |    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |    * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cps,
        |  CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)
        |    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
        |      * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) AS cm
        |  FROM s)
        |SELECT l_returnflag, n,
        |CASE WHEN n > 1
        |  THEN round(cps / (CAST(n AS DOUBLE) - 1.0), 6) END
        |  AS covar_qty_disc,
        |CASE WHEN n > 1 AND vx > 0 AND vy > 0
        |  THEN round(cm / sqrt(vx * vy), 6) END AS corr_qty_disc
        |FROM v ORDER BY l_returnflag""".stripMargin,

    // OLS twin: the q_agg_corr moment replay with the closed-form
    // slope/intercept/r2 — identical parenthesization to the Spark
    // double expressions so both engines run the same IEEE ops
    "q_agg_linreg" ->
      """WITH s AS (SELECT l_returnflag, COUNT(*) AS n,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))
        |    * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
        |  SUM(CAST(l_quantity AS DECIMAL(12,2))
        |    * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
        |  SUM(CAST(l_extendedprice AS DECIMAL(12,2))
        |    * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |, v AS (SELECT l_returnflag, n,
        |  CAST(n AS DOUBLE) AS dn,
        |  CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
        |  CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS sp,
        |  CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS ssx,
        |  CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS ssy
        |  FROM s)
        |SELECT l_returnflag, n,
        |CASE WHEN n > 1 AND ssx > 0
        |  THEN round(sp / ssx, 6) END AS slope,
        |CASE WHEN n > 1 AND ssx > 0
        |  THEN round((dy - (sp / ssx) * dx) / dn, 6) END AS intercept,
        |CASE WHEN n > 1 AND ssx > 0 AND ssy > 0
        |  THEN round((sp * sp) / (ssx * ssy), 6) END AS r2
        |FROM v ORDER BY l_returnflag""".stripMargin,

    // deterministic mode: explicit (count DESC, value ASC) tie-break —
    // the builtin mode() is tie-arbitrary in both engines
    "q_agg_mode" ->
      """WITH c AS (SELECT l_returnflag,
        |  CAST(l_quantity AS DECIMAL(12,2)) AS qty, COUNT(*) AS n_mode
        |  FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, qty, n_mode,
        |  ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |    ORDER BY n_mode DESC, qty ASC) AS rn FROM c)
        |SELECT l_returnflag, CAST(qty AS DOUBLE) AS mode_qty, n_mode
        |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin,

    // CSV/JSONL roundtrips preserve values exactly (Spark writes doubles
    // in shortest-round-trip form and the read schema is pinned), so the
    // oracle recomputes the post-roundtrip aggregate straight from the
    // source table — same source-side-recompute pattern as
    // q_sink_partitioned
    "q_source_csv" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))
        |  AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey < 250
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // ORC roundtrip: DuckDB reads no ORC — recompute the aggregate from
    // the source parquet (same source-side pattern as q_source_csv).
    "q_source_orc" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))
        |  AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey < 250
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // XML roundtrip: same source-side recomputation (DuckDB reads no
    // XML; the roundtrip itself is what the key exercises)
    "q_source_xml" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))
        |  AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey < 250
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_source_jsonl" ->
      """SELECT l_returnflag, COUNT(*) AS n,
        |CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2))
        |  AS DOUBLE) AS sum_qty
        |FROM lineitem WHERE l_orderkey < 250
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the KGX write is value-preserving by construction; the admission
    // counts (exploded category → node count) are recomputed from the
    // source tables: each customer carries [biolink:Agent, customer],
    // each part [biolink:ChemicalEntity, part]
    "q_sink_kgx" ->
      """WITH c AS (
        |  SELECT 'biolink:Agent' AS category, COUNT(*) AS n_nodes FROM customer
        |  UNION ALL SELECT 'customer', COUNT(*) FROM customer
        |  UNION ALL SELECT 'biolink:ChemicalEntity', COUNT(*) FROM part
        |  UNION ALL SELECT 'part', COUNT(*) FROM part)
        |SELECT category, CAST(n_nodes AS BIGINT) AS n_nodes
        |FROM c ORDER BY category""".stripMargin,

    // Fixed-5-iteration PageRank, unrolled like the k-core round CTEs.
    // The Spark side is exact decimal at scale 18; this twin runs in
    // DOUBLE, which is safe because (a) every intermediate Spark rounding
    // happens at scale 18 where doubles carry the value to ~1e-21 absolute, so
    // the accumulated divergence at rank_x_n is ~1e-10, far below the
    // 5e-7 half-ulp of the 6-digit output rounding, and (b) the top-20
    // cut + ordering happen on the ROUNDED value with (ntype, node)
    // tiebreaks, so equal ranks order identically in both engines.
    // Every round CTE is MATERIALIZED (same DuckDB-inlining blowup the
    // k-core oracle documents).
    "q_graph_pagerank" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT l_orderkey * 2 AS src,
        |  l_partkey * 2 + 1 AS dst FROM lineitem),
        |nd AS MATERIALIZED (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |dg AS MATERIALIZED (SELECT src AS id, COUNT(*) AS deg FROM e GROUP BY 1),
        |nv AS MATERIALIZED (SELECT COUNT(*) AS n FROM nd),
        |r0 AS MATERIALIZED (SELECT nd.id,
        |  1.0 / (SELECT n FROM nv) AS r, dg.id IS NULL AS dang
        |  FROM nd LEFT JOIN dg ON nd.id = dg.id),
        |r1 AS MATERIALIZED (SELECT r0.id,
        |  0.15 / (SELECT n FROM nv) + 0.85 * (COALESCE(c.s, 0)
        |    + (SELECT COALESCE(SUM(CASE WHEN dang THEN r END), 0) FROM r0)
        |      / (SELECT n FROM nv)) AS r, r0.dang
        |  FROM r0 LEFT JOIN (SELECT e.dst AS id, SUM(r0.r / dg.deg) AS s
        |    FROM r0 JOIN e ON r0.id = e.src JOIN dg ON r0.id = dg.id
        |    GROUP BY 1) c ON r0.id = c.id),
        |r2 AS MATERIALIZED (SELECT r1.id,
        |  0.15 / (SELECT n FROM nv) + 0.85 * (COALESCE(c.s, 0)
        |    + (SELECT COALESCE(SUM(CASE WHEN dang THEN r END), 0) FROM r1)
        |      / (SELECT n FROM nv)) AS r, r1.dang
        |  FROM r1 LEFT JOIN (SELECT e.dst AS id, SUM(r1.r / dg.deg) AS s
        |    FROM r1 JOIN e ON r1.id = e.src JOIN dg ON r1.id = dg.id
        |    GROUP BY 1) c ON r1.id = c.id),
        |r3 AS MATERIALIZED (SELECT r2.id,
        |  0.15 / (SELECT n FROM nv) + 0.85 * (COALESCE(c.s, 0)
        |    + (SELECT COALESCE(SUM(CASE WHEN dang THEN r END), 0) FROM r2)
        |      / (SELECT n FROM nv)) AS r, r2.dang
        |  FROM r2 LEFT JOIN (SELECT e.dst AS id, SUM(r2.r / dg.deg) AS s
        |    FROM r2 JOIN e ON r2.id = e.src JOIN dg ON r2.id = dg.id
        |    GROUP BY 1) c ON r2.id = c.id),
        |r4 AS MATERIALIZED (SELECT r3.id,
        |  0.15 / (SELECT n FROM nv) + 0.85 * (COALESCE(c.s, 0)
        |    + (SELECT COALESCE(SUM(CASE WHEN dang THEN r END), 0) FROM r3)
        |      / (SELECT n FROM nv)) AS r, r3.dang
        |  FROM r3 LEFT JOIN (SELECT e.dst AS id, SUM(r3.r / dg.deg) AS s
        |    FROM r3 JOIN e ON r3.id = e.src JOIN dg ON r3.id = dg.id
        |    GROUP BY 1) c ON r3.id = c.id),
        |r5 AS MATERIALIZED (SELECT r4.id,
        |  0.15 / (SELECT n FROM nv) + 0.85 * (COALESCE(c.s, 0)
        |    + (SELECT COALESCE(SUM(CASE WHEN dang THEN r END), 0) FROM r4)
        |      / (SELECT n FROM nv)) AS r, r4.dang
        |  FROM r4 LEFT JOIN (SELECT e.dst AS id, SUM(r4.r / dg.deg) AS s
        |    FROM r4 JOIN e ON r4.id = e.src JOIN dg ON r4.id = dg.id
        |    GROUP BY 1) c ON r4.id = c.id)
        |SELECT CASE WHEN id % 2 = 0 THEN 'order' ELSE 'part' END AS ntype,
        |CAST(id // 2 AS BIGINT) AS node,
        |round(r * (SELECT n FROM nv), 6) AS rank_x_n
        |FROM r5
        |ORDER BY rank_x_n DESC, ntype, node LIMIT 20""".stripMargin,

    // RFM twin: exact integer datediff vs the corpus max date, spend
    // quantized once to DECIMAL(12,2) then summed exactly, fixed score
    // thresholds, segment means divide exact sums at the very end
    "q_events_rfm" ->
      """WITH rr AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS refd
        |  FROM orders),
        |per AS (SELECT o_custkey,
        |  MAX(CAST(o_orderdate AS DATE)) AS last_order,
        |  COUNT(*) AS frequency,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
        |    AS DECIMAL(38,2)) AS monetary
        |  FROM orders GROUP BY 1),
        |sc AS (SELECT per.*,
        |  CAST(rr.refd - per.last_order AS BIGINT) AS recency_days
        |  FROM per, rr),
        |scored AS (SELECT *,
        |  CASE WHEN recency_days < 90 THEN 5 WHEN recency_days < 180
        |    THEN 4 WHEN recency_days < 365 THEN 3
        |    WHEN recency_days < 730 THEN 2 ELSE 1 END AS r_score,
        |  CASE WHEN frequency >= 18 THEN 5 WHEN frequency >= 13 THEN 4
        |    WHEN frequency >= 9 THEN 3 WHEN frequency >= 5 THEN 2
        |    ELSE 1 END AS f_score,
        |  CASE WHEN monetary >= 4000000 THEN 5
        |    WHEN monetary >= 3000000 THEN 4
        |    WHEN monetary >= 2000000 THEN 3
        |    WHEN monetary >= 1000000 THEN 2 ELSE 1 END AS m_score
        |  FROM sc)
        |SELECT CAST(r_score AS BIGINT) AS r_score,
        |CAST(f_score AS BIGINT) AS f_score,
        |CAST(m_score AS BIGINT) AS m_score,
        |COUNT(*) AS n_customers,
        |ROUND(CAST(SUM(recency_days) AS DOUBLE) / COUNT(*), 6)
        |  AS avg_recency_days,
        |ROUND(CAST(SUM(frequency) AS DOUBLE) / COUNT(*), 6)
        |  AS avg_frequency,
        |ROUND(CAST(CAST(SUM(monetary) AS DECIMAL(38,2)) AS DOUBLE)
        |  / COUNT(*), 6) AS avg_monetary
        |FROM scored GROUP BY 1, 2, 3
        |ORDER BY r_score DESC, f_score DESC, m_score DESC""".stripMargin,

    // HITS twin: 4 unrolled (authority, hub) half-step pairs in
    // doubles — Spark's side rides exact DECIMAL(38,18) sums with
    // ≥14-dp normalization divisions, so both engines land inside the
    // round-6 output quantum (the pagerank precedent)
    "q_graph_hits" ->
      """WITH e AS MATERIALIZED (SELECT DISTINCT l_orderkey * 2 AS src,
        |  l_partkey * 2 + 1 AS dst FROM lineitem),
        |h0 AS (SELECT DISTINCT src AS id, 1.0 AS h FROM e),
        |a1r AS (SELECT e.dst AS id, SUM(h0.h) AS a FROM e
        |  JOIN h0 ON e.src = h0.id GROUP BY 1),
        |a1 AS MATERIALIZED (SELECT id, a / (SELECT SUM(a) FROM a1r) AS a
        |  FROM a1r),
        |h1r AS (SELECT e.src AS id, SUM(a1.a) AS h FROM e
        |  JOIN a1 ON e.dst = a1.id GROUP BY 1),
        |h1 AS MATERIALIZED (SELECT id, h / (SELECT SUM(h) FROM h1r) AS h
        |  FROM h1r),
        |a2r AS (SELECT e.dst AS id, SUM(h1.h) AS a FROM e
        |  JOIN h1 ON e.src = h1.id GROUP BY 1),
        |a2 AS MATERIALIZED (SELECT id, a / (SELECT SUM(a) FROM a2r) AS a
        |  FROM a2r),
        |h2r AS (SELECT e.src AS id, SUM(a2.a) AS h FROM e
        |  JOIN a2 ON e.dst = a2.id GROUP BY 1),
        |h2 AS MATERIALIZED (SELECT id, h / (SELECT SUM(h) FROM h2r) AS h
        |  FROM h2r),
        |a3r AS (SELECT e.dst AS id, SUM(h2.h) AS a FROM e
        |  JOIN h2 ON e.src = h2.id GROUP BY 1),
        |a3 AS MATERIALIZED (SELECT id, a / (SELECT SUM(a) FROM a3r) AS a
        |  FROM a3r),
        |h3r AS (SELECT e.src AS id, SUM(a3.a) AS h FROM e
        |  JOIN a3 ON e.dst = a3.id GROUP BY 1),
        |h3 AS MATERIALIZED (SELECT id, h / (SELECT SUM(h) FROM h3r) AS h
        |  FROM h3r),
        |a4r AS (SELECT e.dst AS id, SUM(h3.h) AS a FROM e
        |  JOIN h3 ON e.src = h3.id GROUP BY 1),
        |a4 AS MATERIALIZED (SELECT id, a / (SELECT SUM(a) FROM a4r) AS a
        |  FROM a4r),
        |h4r AS (SELECT e.src AS id, SUM(a4.a) AS h FROM e
        |  JOIN a4 ON e.dst = a4.id GROUP BY 1),
        |h4 AS MATERIALIZED (SELECT id, h / (SELECT SUM(h) FROM h4r) AS h
        |  FROM h4r),
        |u AS (
        |  SELECT 'authority' AS kind,
        |    CASE WHEN id % 2 = 0 THEN 'order' ELSE 'part' END AS ntype,
        |    CAST(id // 2 AS BIGINT) AS node, ROUND(a, 6) AS score FROM a4
        |  UNION ALL
        |  SELECT 'hub',
        |    CASE WHEN id % 2 = 0 THEN 'order' ELSE 'part' END,
        |    CAST(id // 2 AS BIGINT), ROUND(h, 6) FROM h4)
        |SELECT kind, ntype, node, score FROM u
        |ORDER BY score DESC, kind, node LIMIT 20""".stripMargin,

    // Exact connected components via pointer-doubling label propagation:
    // each round takes the neighbor min (t_k) then jumps one pointer
    // level (l_k(n) = min(t_k(n), t_k(t_k(n)))), so the min label's
    // reach roughly doubles per round — 8 rounds cover diameter ≈ 2^8.
    // Convergence margin measured against a union-find ground truth on
    // the generated data: sf0.1's single 167k-node giant component
    // needs 6 rounds, sf0.01 needs 5; 8 ships. The output histogram is
    // label-invariant, so any exact CC matches GraphOps.ccLabels'
    // min-label result no matter how either side converged. Every
    // round CTE is MATERIALIZED (same DuckDB-inlining blowup the
    // k-core oracle documents).
    // Exact per-column profile; one SELECT per column UNION ALL'd (the
    // DuckDB twin of the melt — COUNT(DISTINCT c) counts native values,
    // Spark counts their injective string images; same cardinality).
    // 13-rule expectations report: every rule a scalar aggregate (or
    // distinct / left-join count) DuckDB replays directly; UNION ALL
    // mirrors the Spark explode+union assembly row for row
    "q_validate_rules" ->
      """WITH r AS (
        |SELECT 'r01' AS rule_id, 'orders' AS tbl,
        |  'not_null:o_custkey' AS rule, COUNT(*) AS n_rows,
        |  SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS n_viol
        |FROM orders
        |UNION ALL SELECT 'r02', 'orders', 'accepted:o_orderstatus',
        |  COUNT(*),
        |  SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1 ELSE 0 END)
        |FROM orders
        |UNION ALL SELECT 'r03', 'orders', 'range:o_totalprice>0',
        |  COUNT(*), SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |FROM orders
        |UNION ALL SELECT 'r04', 'orders', 'unique:o_orderkey',
        |  COUNT(*), COUNT(*) - COUNT(DISTINCT o_orderkey)
        |FROM orders
        |UNION ALL SELECT 'r05', 'lineitem', 'range:l_quantity<=45',
        |  COUNT(*), SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END)
        |FROM lineitem
        |UNION ALL SELECT 'r06', 'lineitem', 'range:l_discount<=0.08',
        |  COUNT(*), SUM(CASE WHEN l_discount > 0.08 THEN 1 ELSE 0 END)
        |FROM lineitem
        |UNION ALL SELECT 'r07', 'lineitem', 'not_null:l_shipdate',
        |  COUNT(*), SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |FROM lineitem
        |UNION ALL SELECT 'r08', 'lineitem', 'unique:l_orderkey,l_linenumber',
        |  COUNT(*), COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber))
        |FROM lineitem
        |UNION ALL SELECT 'r09', 'customer', 'not_null:c_name',
        |  COUNT(*), SUM(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END)
        |FROM customer
        |UNION ALL SELECT 'r10', 'customer', 'range:c_acctbal>=0',
        |  COUNT(*), SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END)
        |FROM customer
        |UNION ALL SELECT 'r11', 'customer', 'accepted:c_mktsegment',
        |  COUNT(*), SUM(CASE WHEN c_mktsegment NOT IN ('AUTOMOBILE',
        |    'BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
        |    THEN 1 ELSE 0 END)
        |FROM customer
        |UNION ALL SELECT 'r12', 'orders', 'fk:o_custkey->customer.c_custkey',
        |  COUNT(*), SUM(CASE WHEN o.o_custkey IS NOT NULL
        |    AND c.c_custkey IS NULL THEN 1 ELSE 0 END)
        |FROM orders o LEFT JOIN
        |  (SELECT DISTINCT c_custkey FROM customer) c
        |  ON o.o_custkey = c.c_custkey
        |UNION ALL SELECT 'r13', 'lineitem', 'fk:l_orderkey->orders.o_orderkey',
        |  COUNT(*), SUM(CASE WHEN l.l_orderkey IS NOT NULL
        |    AND o.pk IS NULL THEN 1 ELSE 0 END)
        |FROM lineitem l LEFT JOIN
        |  (SELECT DISTINCT o_orderkey AS pk FROM orders) o
        |  ON l.l_orderkey = o.pk)
        |SELECT rule_id, tbl, rule, CAST(n_rows AS BIGINT) AS n_rows,
        |CAST(n_viol AS BIGINT) AS n_viol,
        |ROUND(CAST(n_viol AS DOUBLE) / n_rows, 6) AS viol_rate,
        |CASE WHEN n_viol = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM r ORDER BY rule_id""".stripMargin,

    "q_profile_table" -> {
      val planted =
        """WITH li AS (SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
          |  CASE WHEN l_linenumber % 7 = 0 THEN NULL ELSE l_quantity END AS l_quantity,
          |  l_extendedprice, l_discount, l_tax,
          |  CASE WHEN l_orderkey % 13 = 0 THEN NULL ELSE l_returnflag END AS l_returnflag,
          |  l_linestatus, l_shipdate FROM lineitem)""".stripMargin
      val numCols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val strCols = Seq("l_returnflag", "l_linestatus")
      val selects =
        numCols.map { c =>
          s"""SELECT '$c' AS col_name, COUNT(*) - COUNT($c) AS n_nulls,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  MIN($c)::DOUBLE AS min_num, MAX($c)::DOUBLE AS max_num FROM li""".stripMargin
        } ++ strCols.map { c =>
          s"""SELECT '$c' AS col_name, COUNT(*) - COUNT($c) AS n_nulls,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num FROM li""".stripMargin
        } ++ Seq(
          """SELECT 'l_shipdate' AS col_name, COUNT(*) - COUNT(l_shipdate) AS n_nulls,
            |  COUNT(DISTINCT l_shipdate) AS n_distinct,
            |  epoch_us(MIN(l_shipdate))::DOUBLE AS min_num,
            |  epoch_us(MAX(l_shipdate))::DOUBLE AS max_num FROM li""".stripMargin)
      planted + "\n" + selects.mkString("", "\nUNION ALL\n", "\n") +
        "ORDER BY col_name"
    },

    // Snapshot drift: two per-column profiles (1996 vs 1997 orders)
    // joined; shifts are single subtractions on exact doubles
    "q_profile_drift" -> {
      val numCols = Seq("o_orderkey", "o_custkey", "o_totalprice")
      val strCols = Seq("o_orderstatus", "o_orderpriority")
      def prof(src: String) =
        (numCols.map { c =>
          s"""SELECT '$c' AS col_name, COUNT(*) - COUNT($c) AS n_nulls,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  MIN($c)::DOUBLE AS min_num, MAX($c)::DOUBLE AS max_num
             |  FROM $src""".stripMargin
        } ++ strCols.map { c =>
          s"""SELECT '$c' AS col_name, COUNT(*) - COUNT($c) AS n_nulls,
             |  COUNT(DISTINCT $c) AS n_distinct,
             |  NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num
             |  FROM $src""".stripMargin
        } ++ Seq(
          s"""SELECT 'o_orderdate' AS col_name,
             |  COUNT(*) - COUNT(o_orderdate) AS n_nulls,
             |  COUNT(DISTINCT o_orderdate) AS n_distinct,
             |  epoch_us(MIN(o_orderdate))::DOUBLE AS min_num,
             |  epoch_us(MAX(o_orderdate))::DOUBLE AS max_num
             |  FROM $src""".stripMargin))
          .mkString("", "\nUNION ALL\n", "")
      """WITH sa AS (SELECT * FROM orders WHERE year(o_orderdate) = 1996),
        |sb AS (SELECT * FROM orders WHERE year(o_orderdate) = 1997),
        |""".stripMargin +
        "pa AS (" + prof("sa") + "),\npb AS (" + prof("sb") + ")\n" +
        """SELECT col_name,
          |CAST(pa.n_nulls AS BIGINT) AS nulls_a,
          |CAST(pb.n_nulls AS BIGINT) AS nulls_b,
          |CAST(pa.n_distinct AS BIGINT) AS distinct_a,
          |CAST(pb.n_distinct AS BIGINT) AS distinct_b,
          |CAST(pb.n_distinct - pa.n_distinct AS BIGINT) AS distinct_delta,
          |pb.min_num - pa.min_num AS min_shift,
          |pb.max_num - pa.max_num AS max_shift
          |FROM pa JOIN pb USING (col_name) ORDER BY col_name""".stripMargin
    },

    // Synchronous 4-round label propagation, unrolled; per-round argmax
    // with min-label tie-break via QUALIFY row_number — the DuckDB twin
    // of Spark's max(struct(count, -label)).
    "q_graph_label_prop" -> {
      val rounds = 4
      val base =
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem WHERE l_partkey % 4 = 0),
          |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
          |  JOIN op b ON a.o = b.o AND a.p < b.p),
          |s0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
          |l0 AS MATERIALIZED (SELECT u AS node, u AS lab FROM s0 GROUP BY u)""".stripMargin
      val ctes = (1 to rounds).map { k =>
        s"""l$k AS MATERIALIZED (SELECT u AS node, lab FROM (
           |  SELECT s0.u, l.lab, COUNT(*) AS c FROM s0
           |  JOIN l${k - 1} l ON s0.v = l.node GROUP BY s0.u, l.lab)
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY u
           |    ORDER BY c DESC, lab ASC) = 1)""".stripMargin
      }
      (base +: ctes).mkString("", ",\n", "\n") +
        s"""SELECT size, COUNT(*) AS n_communities FROM (
           |  SELECT lab, COUNT(*) AS size FROM l$rounds GROUP BY lab)
           |GROUP BY size ORDER BY size""".stripMargin
    },

    // degree assortativity: exact HUGEINT moments over the symmetric
    // edge list's (deg u, deg v) pairs, then the identical double
    // correlation tree (vx/vy staged exactly as the Spark columns)
    "q_graph_assortativity" ->
      """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,
        |  l_partkey AS p FROM lineitem WHERE l_partkey % 4 = 0),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
        |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p),
        |s0 AS (SELECT u, v FROM e0
        |  UNION ALL SELECT v AS u, u AS v FROM e0),
        |deg AS (SELECT u, COUNT(*) AS dg FROM s0 GROUP BY u),
        |e AS (SELECT CAST(da.dg AS HUGEINT) AS x,
        |  CAST(db.dg AS HUGEINT) AS y FROM s0
        |  JOIN deg da ON s0.u = da.u JOIN deg db ON s0.v = db.u),
        |a AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
        |  SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        |  FROM e),
        |b AS (SELECT n, CAST(n AS DOUBLE) AS dn,
        |  CAST(sx AS DOUBLE) AS dx, CAST(sy AS DOUBLE) AS dy,
        |  CAST(sxy AS DOUBLE) AS dxy, CAST(sxx AS DOUBLE) AS dxx,
        |  CAST(syy AS DOUBLE) AS dyy FROM a),
        |c AS (SELECT n, dn, dx, dy, dxy,
        |  dn * dxx - dx * dx AS vx, dn * dyy - dy * dy AS vy FROM b),
        |nn AS (SELECT COUNT(*) AS n_nodes, SUM(dg) AS sdg FROM deg)
        |SELECT nn.n_nodes, CAST(c.n // 2 AS BIGINT) AS n_edges,
        |ROUND(CAST(nn.sdg AS DOUBLE) / CAST(nn.n_nodes AS DOUBLE), 6)
        |  AS avg_degree,
        |CASE WHEN c.vx > 0 AND c.vy > 0 THEN
        |  ROUND((c.dn * c.dxy - c.dx * c.dy) / sqrt(c.vx * c.vy), 6)
        |END AS assortativity
        |FROM c, nn""".stripMargin,

    // modularity of the SAME 4-round LPA labels: the labelProp CTE
    // chain + three exact-integer aggregates; Q is one shared double
    // expression over exact inputs (HUGEINT/DECIMAL sums), so both
    // engines agree bit-for-bit
    "q_graph_louvain" -> {
      val rounds = 4
      val base =
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem WHERE l_partkey % 4 = 0),
          |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
          |  JOIN op b ON a.o = b.o AND a.p < b.p),
          |s0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
          |deg AS MATERIALIZED (SELECT u, COUNT(*) AS dg FROM s0 GROUP BY u),
          |m AS MATERIALIZED (SELECT COUNT(*) AS m2 FROM s0),
          |l0 AS MATERIALIZED (SELECT u AS node, u AS lab FROM deg)""".stripMargin
      val ctes = (1 to rounds).map { k =>
        s"""ct$k AS (SELECT l.lab AS c, SUM(d.dg) AS tot FROM l${k - 1} l
           |  JOIN deg d ON l.node = d.u GROUP BY 1),
           |cd$k AS (SELECT u, c, MAX(kuc) AS kuc FROM (
           |  SELECT s0.u, l.lab AS c, COUNT(*) AS kuc FROM s0
           |    JOIN l${k - 1} l ON s0.v = l.node GROUP BY 1, 2
           |  UNION ALL SELECT node AS u, lab AS c, 0 AS kuc FROM l${k - 1})
           |  GROUP BY 1, 2),
           |wn$k AS (SELECT u, c AS best FROM (
           |  SELECT cd.u, cd.c,
           |    ROW_NUMBER() OVER (PARTITION BY cd.u ORDER BY
           |      (CAST(m.m2 AS HUGEINT) * cd.kuc
           |       - CAST(d.dg AS HUGEINT)
           |         * (ct.tot - CASE WHEN cd.c = l.lab THEN d.dg ELSE 0 END))
           |        DESC,
           |      CASE WHEN cd.c = l.lab THEN 1 ELSE 0 END DESC,
           |      cd.c ASC) AS rk
           |  FROM cd$k cd JOIN l${k - 1} l ON cd.u = l.node
           |    JOIN ct$k ct ON cd.c = ct.c
           |    JOIN deg d ON cd.u = d.u CROSS JOIN m)
           |  WHERE rk = 1),
           |l$k AS MATERIALIZED (SELECT l.node,
           |  CASE WHEN (l.node // 4) % 2 = ${k % 2} THEN w.best
           |    ELSE l.lab END AS lab
           |  FROM l${k - 1} l JOIN wn$k w ON l.node = w.u)""".stripMargin
      }
      (base +: ctes).mkString("", ",\n", ",\n") +
        s"""dc AS (SELECT l.lab AS lab_u, SUM(d.dg) AS degc FROM deg d
           |  JOIN l$rounds l ON d.u = l.node GROUP BY 1),
           |em AS (SELECT SUM(CASE WHEN a.lab = b.lab THEN 1 ELSE 0 END) AS i2
           |  FROM s0 JOIN l$rounds a ON s0.u = a.node
           |  JOIN l$rounds b ON s0.v = b.node)
           |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           |CAST((SELECT m2 FROM m) // 2 AS BIGINT) AS n_edges,
           |(SELECT COUNT(*) FROM dc) AS n_communities,
           |(SELECT COUNT(*) FROM l$rounds WHERE node <> lab) AS n_moved,
           |ROUND(0.0 - CAST((SELECT SUM(CAST(dg AS HUGEINT) * dg) FROM deg)
           |    AS DOUBLE)
           |  / (CAST((SELECT m2 FROM m) AS DOUBLE) * (SELECT m2 FROM m)), 6)
           |  AS q_start,
           |ROUND(CAST(i2 AS DOUBLE) / (SELECT m2 FROM m)
           |  - CAST((SELECT SUM(CAST(degc AS HUGEINT) * degc) FROM dc)
           |      AS DOUBLE)
           |    / (CAST((SELECT m2 FROM m) AS DOUBLE) * (SELECT m2 FROM m)), 6)
           |  AS q_louvain
           |FROM em""".stripMargin
    },

    // two-level Louvain: the level-1 rounds verbatim, then the
    // weighted-quotient collapse (w(a,b) = inter-community directed
    // edge count; diagonal = 2x intra; sum w = m2) and the SAME move
    // pass re-run with SUM(w) in place of COUNT(*) — every gain term
    // an exact HUGEINT product, composed labels scored on the
    // original graph
    "q_graph_louvain2" -> {
      val rounds = 4
      val base =
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem WHERE l_partkey % 4 = 0),
          |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
          |  JOIN op b ON a.o = b.o AND a.p < b.p),
          |s0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
          |deg AS MATERIALIZED (SELECT u, COUNT(*) AS dg FROM s0 GROUP BY u),
          |m AS MATERIALIZED (SELECT COUNT(*) AS m2 FROM s0),
          |l0 AS MATERIALIZED (SELECT u AS node, u AS lab FROM deg)""".stripMargin
      val l1ctes = (1 to rounds).map { k =>
        s"""ct$k AS (SELECT l.lab AS c, SUM(d.dg) AS tot FROM l${k - 1} l
           |  JOIN deg d ON l.node = d.u GROUP BY 1),
           |cd$k AS (SELECT u, c, MAX(kuc) AS kuc FROM (
           |  SELECT s0.u, l.lab AS c, COUNT(*) AS kuc FROM s0
           |    JOIN l${k - 1} l ON s0.v = l.node GROUP BY 1, 2
           |  UNION ALL SELECT node AS u, lab AS c, 0 AS kuc FROM l${k - 1})
           |  GROUP BY 1, 2),
           |wn$k AS (SELECT u, c AS best FROM (
           |  SELECT cd.u, cd.c,
           |    ROW_NUMBER() OVER (PARTITION BY cd.u ORDER BY
           |      (CAST(m.m2 AS HUGEINT) * cd.kuc
           |       - CAST(d.dg AS HUGEINT)
           |         * (ct.tot - CASE WHEN cd.c = l.lab THEN d.dg ELSE 0 END))
           |        DESC,
           |      CASE WHEN cd.c = l.lab THEN 1 ELSE 0 END DESC,
           |      cd.c ASC) AS rk
           |  FROM cd$k cd JOIN l${k - 1} l ON cd.u = l.node
           |    JOIN ct$k ct ON cd.c = ct.c
           |    JOIN deg d ON cd.u = d.u CROSS JOIN m)
           |  WHERE rk = 1),
           |l$k AS MATERIALIZED (SELECT l.node,
           |  CASE WHEN (l.node // 4) % 2 = ${k % 2} THEN w.best
           |    ELSE l.lab END AS lab
           |  FROM l${k - 1} l JOIN wn$k w ON l.node = w.u)""".stripMargin
      }
      val quotient =
        s"""qs AS MATERIALIZED (SELECT a.lab AS u, b.lab AS v, COUNT(*) AS w
           |  FROM s0 JOIN l$rounds a ON s0.u = a.node
           |  JOIN l$rounds b ON s0.v = b.node GROUP BY 1, 2),
           |qdeg AS MATERIALIZED (SELECT u, SUM(w) AS dg FROM qs GROUP BY u),
           |g0 AS MATERIALIZED (SELECT u AS node, u AS lab FROM qdeg)""".stripMargin
      // mutual-best-merge rounds: best positive-gain partner per
      // community (m2*w_ab - K_a*K_b > 0, ties -> smallest id), merge
      // only when mutual, merged pair takes the smaller label
      val l2ctes = (1 to rounds).map { k =>
        s"""gcw$k AS (SELECT a.lab AS ca, b.lab AS cb, SUM(qs.w) AS wab
           |  FROM qs JOIN g${k - 1} a ON qs.u = a.node
           |  JOIN g${k - 1} b ON qs.v = b.node
           |  WHERE a.lab <> b.lab GROUP BY 1, 2),
           |gck$k AS (SELECT l.lab, SUM(d.dg) AS kc FROM g${k - 1} l
           |  JOIN qdeg d ON l.node = d.u GROUP BY 1),
           |gbs$k AS (SELECT ca, cb FROM (
           |  SELECT cw.ca, cw.cb,
           |    ROW_NUMBER() OVER (PARTITION BY cw.ca ORDER BY
           |      (CAST(m.m2 AS HUGEINT) * cw.wab
           |       - CAST(ka.kc AS HUGEINT) * kb.kc) DESC,
           |      cw.cb ASC) AS rk
           |  FROM gcw$k cw JOIN gck$k ka ON cw.ca = ka.lab
           |    JOIN gck$k kb ON cw.cb = kb.lab CROSS JOIN m
           |  WHERE (CAST(m.m2 AS HUGEINT) * cw.wab
           |    - CAST(ka.kc AS HUGEINT) * kb.kc) > 0)
           |  WHERE rk = 1),
           |gmg$k AS (SELECT x.ca AS mlab, LEAST(x.ca, x.cb) AS newlab
           |  FROM gbs$k x JOIN gbs$k y ON x.ca = y.cb AND x.cb = y.ca),
           |g$k AS MATERIALIZED (SELECT l.node,
           |  COALESCE(mg.newlab, l.lab) AS lab
           |  FROM g${k - 1} l LEFT JOIN gmg$k mg ON l.lab = mg.mlab)""".stripMargin
      }
      ((base +: l1ctes) ++ (quotient +: l2ctes)).mkString("", ",\n", ",\n") +
        s"""lf AS MATERIALIZED (SELECT l.node, g.lab FROM l$rounds l
           |  JOIN g$rounds g ON l.lab = g.node),
           |dc1 AS (SELECT l.lab, SUM(d.dg) AS degc FROM deg d
           |  JOIN l$rounds l ON d.u = l.node GROUP BY 1),
           |em1 AS (SELECT SUM(CASE WHEN a.lab = b.lab THEN 1 ELSE 0 END) AS i2
           |  FROM s0 JOIN l$rounds a ON s0.u = a.node
           |  JOIN l$rounds b ON s0.v = b.node),
           |dc2 AS (SELECT l.lab, SUM(d.dg) AS degc FROM deg d
           |  JOIN lf l ON d.u = l.node GROUP BY 1),
           |em2 AS (SELECT SUM(CASE WHEN a.lab = b.lab THEN 1 ELSE 0 END) AS i2
           |  FROM s0 JOIN lf a ON s0.u = a.node JOIN lf b ON s0.v = b.node)
           |SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           |CAST((SELECT m2 FROM m) // 2 AS BIGINT) AS n_edges,
           |(SELECT COUNT(*) FROM dc1) AS n_super,
           |(SELECT COUNT(*) FROM dc2) AS n_communities,
           |(SELECT COUNT(*) FROM g$rounds WHERE node <> lab) AS n_moved2,
           |ROUND(CAST((SELECT i2 FROM em1) AS DOUBLE) / (SELECT m2 FROM m)
           |  - CAST((SELECT SUM(CAST(degc AS HUGEINT) * degc) FROM dc1)
           |      AS DOUBLE)
           |    / (CAST((SELECT m2 FROM m) AS DOUBLE) * (SELECT m2 FROM m)), 6)
           |  AS q_level1,
           |ROUND(CAST((SELECT i2 FROM em2) AS DOUBLE) / (SELECT m2 FROM m)
           |  - CAST((SELECT SUM(CAST(degc AS HUGEINT) * degc) FROM dc2)
           |      AS DOUBLE)
           |    / (CAST((SELECT m2 FROM m) AS DOUBLE) * (SELECT m2 FROM m)), 6)
           |  AS q_level2""".stripMargin
    },

    "q_graph_modularity" -> {
      val rounds = 4
      val base =
        """WITH op AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
          |  FROM lineitem WHERE l_partkey % 4 = 0),
          |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v FROM op a
          |  JOIN op b ON a.o = b.o AND a.p < b.p),
          |s0 AS MATERIALIZED (SELECT u, v FROM e0 UNION ALL SELECT v AS u, u AS v FROM e0),
          |l0 AS MATERIALIZED (SELECT u AS node, u AS lab FROM s0 GROUP BY u)""".stripMargin
      val ctes = (1 to rounds).map { k =>
        s"""l$k AS MATERIALIZED (SELECT u AS node, lab FROM (
           |  SELECT s0.u, l.lab, COUNT(*) AS c FROM s0
           |  JOIN l${k - 1} l ON s0.v = l.node GROUP BY s0.u, l.lab)
           |  QUALIFY ROW_NUMBER() OVER (PARTITION BY u
           |    ORDER BY c DESC, lab ASC) = 1)""".stripMargin
      }
      (base +: ctes).mkString("", ",\n", ",\n") +
        s"""deg AS (SELECT u, COUNT(*) AS dg FROM s0 GROUP BY u),
           |dc AS (SELECT l.lab, SUM(d.dg) AS degc FROM deg d
           |  JOIN l$rounds l ON d.u = l.node GROUP BY l.lab),
           |em AS (SELECT COUNT(*) AS m2,
           |  SUM(CASE WHEN a.lab = b.lab THEN 1 ELSE 0 END) AS i2
           |  FROM s0 JOIN l$rounds a ON s0.u = a.node
           |  JOIN l$rounds b ON s0.v = b.node)
           |SELECT (SELECT COUNT(*) FROM l$rounds) AS n_nodes,
           |CAST(m2 // 2 AS BIGINT) AS n_edges,
           |(SELECT COUNT(*) FROM dc) AS n_communities,
           |ROUND(CAST(i2 AS DOUBLE) / CAST(m2 AS DOUBLE), 6)
           |  AS intra_share,
           |ROUND(CAST(i2 AS DOUBLE) / CAST(m2 AS DOUBLE)
           |  - CAST((SELECT SUM(degc * degc) FROM dc) AS DOUBLE)
           |    / (CAST(m2 AS DOUBLE) * CAST(m2 AS DOUBLE)), 6)
           |  AS modularity
           |FROM em""".stripMargin
    },

    "q_graph_cc" -> {
      val rounds = 8
      val base =
        """WITH e0 AS MATERIALIZED (SELECT DISTINCT l_orderkey AS a,
          |  l_partkey + 2147483648 AS b FROM lineitem),
          |ue AS MATERIALIZED (SELECT a, b FROM e0
          |  UNION ALL SELECT b AS a, a AS b FROM e0),
          |l0 AS MATERIALIZED (SELECT a AS node, a AS comp FROM ue GROUP BY a)""".stripMargin
      val ctes = (1 to rounds).map { k =>
        s"""t$k AS MATERIALIZED (SELECT ue.a AS node,
           |  MIN(LEAST(la.comp, lb.comp)) AS comp FROM ue
           |  JOIN l${k - 1} la ON ue.a = la.node
           |  JOIN l${k - 1} lb ON ue.b = lb.node GROUP BY ue.a),
           |l$k AS MATERIALIZED (SELECT x.node, LEAST(x.comp, y.comp) AS comp
           |  FROM t$k x JOIN t$k y ON x.comp = y.node)""".stripMargin
      }
      (base +: ctes).mkString("", ",\n", "\n") +
        s"""SELECT size, COUNT(*) AS n_components FROM (
           |  SELECT comp, COUNT(*) AS size FROM l$rounds GROUP BY comp)
           |GROUP BY size ORDER BY size""".stripMargin
    }
  )
}
