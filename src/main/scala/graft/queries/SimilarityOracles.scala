package graft.queries

import SimilarityQueries.{AnnFlips, AnnPlanes, AnnTables, Dims, IvfAssignN,
  IvfIters, IvfK, IvfProbes, PairPlanes, PqIters, PqK, PqRerank, PqSubs,
  SemTau, TargetQueries}

/** DuckDB oracle SQL for [[SimilarityQueries]]: an independent relational
  * formulation of every similarity query, sharing only the index knobs
  * with the engine. Every float op is a sequential fold in a pinned
  * order, so hashes, k-means iterations and PQ codes reproduce the
  * engine's doubles bit-for-bit. */
private[queries] object SimilarityOracles {

  /** SQL mirror of `SimilarityQueries.queryModulus`: corpus_count /
    * TargetQueries, ≥1 (DuckDB `//` is integer division, same as JVM
    * Long division for non-negative operands). */
  private def qModSql: String =
    s"(SELECT greatest(1, count(*) // $TargetQueries) FROM embeddings)"

  /** Sequential-fold dot product (matches Spark's aggregate with 0.0
    * init: 0.0 + x1 == x1 exactly, so list_reduce's x1-init agrees). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(generate_series(1, len($a)), " +
      s"i -> $a[i]::DOUBLE * $b[i]::DOUBLE), (acc, x) -> acc + x)"

  /** Squared L2 distance, mirroring `Similarity.dist2`'s exact
    * left-associated `|a|^2 - 2*(a.b) + |b|^2` expression. */
  private def d2Sql(a: String, b: String): String =
    s"(${dotSql(a, a)} - 2 * ${dotSql(a, b)} + ${dotSql(b, b)})"

  /** Projection onto the ±1 md5-derived hyperplane `p` (i is 1-based in
    * SQL, the plane component uses the 0-based dim index). */
  private def projSql(e: String, p: Int): String =
    s"list_reduce(list_transform(generate_series(1, len($e)), " +
      s"i -> $e[i]::DOUBLE * (CASE WHEN ('0x' || substr(md5('$p,' || (i-1)::VARCHAR), 1, 15))::BIGINT % 2 = 1 " +
      s"THEN 1.0 ELSE -1.0 END)), (acc, x) -> acc + x)"

  private def bucketSql(e: String, planes: Int): String =
    (0 until planes)
      .map(p => s"(CASE WHEN ${projSql(e, p)} >= 0 THEN ${1 << p} ELSE 0 END)")
      .mkString("(", " + ", ")")

  /** Normalized-corpus CTEs: nrm materialized, then unit vectors (same
    * two-step float math as the Spark side). */
  private def preppedCte(planes: Int): String = {
    val bucketCol =
      if (planes > 0) s",\n    ${bucketSql("embedding", planes)} AS bucket"
      else ""
    s"""raw AS (SELECT vec_id, embedding,
       |    sqrt(${dotSql("embedding", "embedding")}) AS nrm$bucketCol
       |  FROM embeddings),
       |e AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE / nrm) AS ne
       |    ${if (planes > 0) ", bucket" else ""}
       |  FROM raw)""".stripMargin
  }

  /** Multi-table multi-probe LSH candidate CTEs, ending in `endName`
    * (q_id, qe, vec_id, ne): the probe hits
    * `SimilarityQueries.lshCandidates` scores. An independent
    * formulation — it dedups the vectors and the tail scores after,
    * where the engine scores before its distinct (the same rows, since
    * vec_id is unique). Generic over
    * (AnnTables, AnnPlanes, AnnFlips): per-table projections, sign
    * buckets, and AnnFlips lowest-rounded-|margin| bit flips per table.
    * The flip chain uses DuckDB lateral aliases: f_k = first position
    * of the list min with positions f_0..f_{k-1} masked to 1e18 — the
    * same (abs, index) total order as the Spark array_sort. */
  private def lshCandCte(endName: String): String = {
    def pjList(t: Int) = (0 until AnnPlanes)
      .map(j => projSql("ne", t * AnnPlanes + j))
      .mkString("[", ",\n      ", "]")
    def bSql(pj: String) = (0 until AnnPlanes)
      .map(j => s"(CASE WHEN $pj[${j + 1}] >= 0 THEN ${1 << j} ELSE 0 END)")
      .mkString("(", " + ", ")")
    val ts = 0 until AnnTables
    val pjCols = ts.map(t => s"${pjList(t)} AS pj$t").mkString(",\n    ")
    val bCols = ts.map(t => s"${bSql(s"pj$t")} AS b$t").mkString(",\n    ")
    val caseB = ts.map(t => s"WHEN $t THEN b$t")
      .mkString("CASE tt.t ", " ", " END")
    val flipCols = ts.flatMap { t =>
      s"list_transform(pj$t, x -> round(abs(x), 6)) AS ap${t}_0" +:
        (0 until AnnFlips).flatMap { k =>
          val f = s"list_position(ap${t}_$k, list_min(ap${t}_$k)) - 1 AS f${t}_$k"
          if (k == AnnFlips - 1) Seq(f)
          else Seq(f, s"list_transform(generate_series(1, $AnnPlanes), " +
            s"i -> CASE WHEN i - 1 = f${t}_$k THEN 1e18 ELSE ap${t}_$k[i] END) " +
            s"AS ap${t}_${k + 1}")
        }
    }.mkString(",\n    ")
    val prbSelects = ts.flatMap { t =>
      s"SELECT q_id, qe, $t AS t, b$t AS bucket FROM qf" +:
        (0 until AnnFlips).map(k =>
          s"SELECT q_id, qe, $t, xor(b$t, 1 << f${t}_$k) FROM qf")
    }.mkString("\n  UNION ALL ")
    s"""px AS (SELECT vec_id, ne, $pjCols FROM e),
       |bx AS (SELECT vec_id, ne, ${ts.map(t => s"pj$t").mkString(", ")},
       |    $bCols FROM px),
       |lidx AS (SELECT vec_id, ne, tt.t, $caseB AS bucket
       |  FROM bx, (VALUES ${ts.map(t => s"($t)").mkString(", ")}) tt(t)),
       |qf AS (SELECT vec_id AS q_id, ne AS qe, ${ts.map(t => s"b$t").mkString(", ")},
       |    $flipCols
       |  FROM bx WHERE vec_id % $qModSql = 0),
       |prb AS ($prbSelects),
       |$endName AS (SELECT DISTINCT p.q_id, p.qe, i.vec_id, i.ne
       |  FROM prb p JOIN lidx i ON p.t = i.t AND p.bucket = i.bucket
       |  WHERE i.vec_id != p.q_id)""".stripMargin
  }

  /** Lloyd-training CTEs shared by the IVF and SemDeDup oracles:
    * `smp`, `c0` … `c<IvfIters>` (the trained centroids), mirroring
    * `Similarity.trainKmeans` with iterations unrolled. */
  private def kmeansTrainCtes: String = {
    def iter(i: Int): String = {
      val prev = s"c${i - 1}"
      s"""a$i AS (SELECT vec_id, ne, c FROM (
         |  SELECT s.vec_id, s.ne, cc.c, row_number() OVER (PARTITION BY s.vec_id
         |      ORDER BY round(${dotSql("s.ne", "cc.ce")}, 6) DESC, cc.c) AS rn
         |  FROM smp s, $prev cc) t WHERE rn = 1),
         |m$i AS (SELECT c, list(ne ORDER BY vec_id) AS vs, count(*) AS cnt
         |  FROM a$i GROUP BY c),
         |s$i AS (SELECT c, cnt, list_reduce(vs,
         |    (a, b) -> list_transform(generate_series(1, $Dims), j -> a[j] + b[j])) AS ssum
         |  FROM m$i),
         |n$i AS (SELECT c, list_transform(ssum, x -> x / cnt) AS mean FROM s$i),
         |w$i AS (SELECT c, mean, sqrt(${dotSql("mean", "mean")}) AS nrm FROM n$i),
         |c$i AS (SELECT p.c, coalesce(list_transform(w.mean, x -> x / w.nrm), p.ce) AS ce
         |  FROM $prev p LEFT JOIN w$i w ON p.c = w.c)""".stripMargin
    }
    s"""smp AS (SELECT vec_id, ne FROM e WHERE vec_id % 2 = 0),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, ne AS ce
       |  FROM smp ORDER BY vec_id LIMIT $IvfK),
       |${(1 to IvfIters).map(iter).mkString(",\n")}""".stripMargin
  }

  /** k-means IVF candidate CTEs, ending in `endName` (q_id, qe, vec_id,
    * ne): the probe hits `SimilarityQueries.ivfCandidates` scores,
    * deduped before the tail scores them (as in [[lshCandCte]]). Every
    * float op is the same sequential fold, so the centroids are
    * bit-identical across engines. */
  private def ivfCandCte(endName: String): String = {
    s"""$kmeansTrainCtes,
       |iidx AS (SELECT vec_id, ne, c AS cell FROM (
       |  SELECT e.vec_id, e.ne, cc.c, row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(${dotSql("e.ne", "cc.ce")}, 6) DESC, cc.c) AS rn
       |  FROM e, c$IvfIters cc) t WHERE rn <= $IvfAssignN),
       |iprb AS (SELECT q_id, qe, cell FROM (
       |  SELECT e.vec_id AS q_id, e.ne AS qe, cc.c AS cell,
       |      row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY round(${dotSql("e.ne", "cc.ce")}, 6) DESC, cc.c) AS rn
       |  FROM e, c$IvfIters cc WHERE e.vec_id % $qModSql = 0) t WHERE rn <= $IvfProbes),
       |$endName AS (SELECT DISTINCT p.q_id, p.qe, i.vec_id, i.ne
       |  FROM iprb p JOIN iidx i ON p.cell = i.cell
       |  WHERE i.vec_id != p.q_id)""".stripMargin
  }

  /** PQ CTEs mirroring `Similarity.trainPq` + the engine's q65 with
    * the per-subspace Lloyd iterations unrolled: subvector rows
    * (m, vec_id, sub) via a VALUES cross join, argmin-[[d2Sql]]
    * assignment with centroid-index tie-break, sequential-fold mean
    * update, then corpus codes (`codesp`: vec_id, cds[m+1]) and query
    * LUTs (`qpv`: q_id, vv[m+1][c+1]) for the fixed-order ADC sum. */
  private def pqCte: String = {
    val subD = Dims / PqSubs
    def sub(v: String) = s"$v[mm.m * $subD + 1 : mm.m * $subD + $subD]"
    def iter(i: Int): String = {
      val prev = s"pc${i - 1}"
      s"""pa$i AS (SELECT m, vec_id, sub, c FROM (
         |  SELECT s.m, s.vec_id, s.sub, cc.c, row_number() OVER (PARTITION BY s.m, s.vec_id
         |      ORDER BY round(${d2Sql("s.sub", "cc.ce")}, 6) ASC, cc.c) AS rn
         |  FROM psub s JOIN $prev cc ON s.m = cc.m) t WHERE rn = 1),
         |pm$i AS (SELECT m, c, list(sub ORDER BY vec_id) AS vs, count(*) AS cnt
         |  FROM pa$i GROUP BY m, c),
         |ps$i AS (SELECT m, c, cnt, list_reduce(vs,
         |    (a, b) -> list_transform(generate_series(1, $subD), j -> a[j] + b[j])) AS ssum
         |  FROM pm$i),
         |pc$i AS (SELECT p.m, p.c, coalesce(list_transform(s.ssum, x -> x / s.cnt), p.ce) AS ce
         |  FROM $prev p LEFT JOIN ps$i s ON p.m = s.m AND p.c = s.c)""".stripMargin
    }
    s"""mm AS (SELECT * FROM (VALUES ${(0 until PqSubs).map(m => s"($m)").mkString(", ")}) t(m)),
       |psmp AS (SELECT vec_id, ne FROM e WHERE vec_id % 2 = 0),
       |psub AS (SELECT mm.m, s.vec_id, ${sub("s.ne")} AS sub FROM psmp s, mm),
       |pc0 AS (SELECT m, rn - 1 AS c, sub AS ce FROM (
       |  SELECT m, sub, row_number() OVER (PARTITION BY m ORDER BY vec_id) AS rn
       |  FROM psub) t WHERE rn <= $PqK),
       |${(1 to PqIters).map(iter).mkString(",\n")},
       |csub AS (SELECT mm.m, e.vec_id, ${sub("e.ne")} AS sub FROM e, mm),
       |pcode AS (SELECT m, vec_id, c AS code FROM (
       |  SELECT s.m, s.vec_id, cc.c, row_number() OVER (PARTITION BY s.m, s.vec_id
       |      ORDER BY round(${d2Sql("s.sub", "cc.ce")}, 6) ASC, cc.c) AS rn
       |  FROM csub s JOIN pc$PqIters cc ON s.m = cc.m) t WHERE rn = 1),
       |codesp AS (SELECT vec_id, list(code ORDER BY m) AS cds FROM pcode GROUP BY vec_id),
       |qs AS (SELECT vec_id AS q_id, ne AS qe FROM e WHERE vec_id % $qModSql = 0),
       |qsub AS (SELECT q.q_id, mm.m, ${sub("q.qe")} AS sub FROM qs q, mm),
       |qlv AS (SELECT q.q_id, q.m, cc.c, ${dotSql("q.sub", "cc.ce")} AS lv
       |  FROM qsub q JOIN pc$PqIters cc ON q.m = cc.m),
       |qlp AS (SELECT q_id, m, list(lv ORDER BY c) AS vals FROM qlv GROUP BY q_id, m),
       |qpv AS (SELECT q_id, list(vals ORDER BY m) AS vv FROM qlp GROUP BY q_id)""".stripMargin
  }

  /** Shared top-3 tail over a candidate CTE named `cand`. */
  private def topKSql(candCtes: String): String =
    s"""WITH ${preppedCte(0)},
       |$candCtes,
       |cc AS (SELECT q_id, vec_id, ${dotSql("qe", "ne")} AS c FROM cand),
       |r AS (SELECT q_id, vec_id, c, row_number() OVER (
       |    PARTITION BY q_id ORDER BY round(c, 6) DESC, vec_id) AS rn FROM cc)
       |SELECT q_id, CAST(rn AS INTEGER) AS rn, vec_id, round(c, 4) AS cos
       |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin

  def oracles: Map[String, String] = {
    val base = baseOracles
    val q57 =
      s"""WITH bf AS (${base("q38_cosine_topk")}),
         |lshq AS (${base("q39_ann_lsh")}),
         |ivfq AS (${base("q50_ann_ivf")}),
         |j AS (SELECT bf.q_id, bf.vec_id,
         |    CASE WHEN l.vec_id IS NOT NULL THEN 1 ELSE 0 END AS lh,
         |    CASE WHEN i.vec_id IS NOT NULL THEN 1 ELSE 0 END AS ih
         |  FROM bf
         |  LEFT JOIN lshq l ON bf.q_id = l.q_id AND bf.vec_id = l.vec_id
         |  LEFT JOIN ivfq i ON bf.q_id = i.q_id AND bf.vec_id = i.vec_id)
         |SELECT count(*) AS n_true,
         |  CAST(sum(lh) AS BIGINT) AS n_lsh, CAST(sum(ih) AS BIGINT) AS n_ivf,
         |  round(sum(lh)::DOUBLE / count(*), 4) AS recall_lsh,
         |  round(sum(ih)::DOUBLE / count(*), 4) AS recall_ivf
         |FROM j""".stripMargin
    val q59 =
      s"""WITH ${preppedCte(0)},
         |${lshCandCte("lcand")},
         |${ivfCandCte("icand")},
         |st AS (SELECT count(*) AS n,
         |    sum(CASE WHEN vec_id % $qModSql = 0 THEN 1 ELSE 0 END) AS nq FROM e),
         |lc AS (SELECT count(*) AS n_lsh FROM lcand),
         |ic AS (SELECT count(*) AS n_ivf FROM icand)
         |SELECT CAST(st.nq * (st.n - 1) AS BIGINT) AS n_bf,
         |  CAST(lc.n_lsh AS BIGINT) AS n_lsh, CAST(ic.n_ivf AS BIGINT) AS n_ivf,
         |  round((st.nq * (st.n - 1))::DOUBLE / lc.n_lsh, 2) AS prune_lsh,
         |  round((st.nq * (st.n - 1))::DOUBLE / ic.n_ivf, 2) AS prune_ivf
         |FROM st, lc, ic""".stripMargin
    val q62 =
      s"""WITH ${preppedCte(0)},
         |sc AS (SELECT vec_id, ne,
         |    list_reduce(list_transform(ne, x -> abs(x)), (a, b) -> greatest(a, b)) AS scale
         |  FROM e),
         |q8x AS (SELECT vec_id, scale,
         |    list_transform(ne, x -> round(x * 127.0 / scale)) AS q8 FROM sc),
         |qs AS (SELECT vec_id AS q_id, q8 AS qq8, scale AS qscale
         |  FROM q8x WHERE vec_id % $qModSql = 0),
         |p AS (SELECT q_id, vec_id,
         |    ${dotSql("qq8", "q8")} * qscale * scale / (127.0 * 127.0) AS cosq
         |  FROM qs, q8x WHERE vec_id != q_id),
         |r AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY round(cosq, 6) DESC, vec_id) AS rn
         |  FROM p) t WHERE rn <= 3),
         |bf AS (${base("q38_cosine_topk")}),
         |j AS (SELECT bf.q_id, bf.vec_id,
         |    CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END AS h
         |  FROM bf LEFT JOIN r ON bf.q_id = r.q_id AND bf.vec_id = r.vec_id)
         |SELECT count(*) AS n_true, CAST(sum(h) AS BIGINT) AS n_hit,
         |  round(sum(h)::DOUBLE / count(*), 4) AS recall_q8 FROM j""".stripMargin
    val q64 =
      s"""WITH ${preppedCte(0)},
         |${ivfCandCte("icand")},
         |sc AS (SELECT vec_id, ne,
         |    list_reduce(list_transform(ne, x -> abs(x)), (a, b) -> greatest(a, b)) AS scale
         |  FROM e),
         |q8x AS (SELECT vec_id, scale,
         |    list_transform(ne, x -> round(x * 127.0 / scale)) AS q8 FROM sc),
         |p AS (SELECT c.q_id, c.vec_id,
         |    ${dotSql("qz.q8", "cz.q8")} * qz.scale * cz.scale / (127.0 * 127.0) AS cosq
         |  FROM icand c JOIN q8x qz ON c.q_id = qz.vec_id
         |    JOIN q8x cz ON c.vec_id = cz.vec_id),
         |r AS (SELECT q_id, vec_id FROM (
         |  SELECT q_id, vec_id, row_number() OVER (
         |      PARTITION BY q_id ORDER BY round(cosq, 6) DESC, vec_id) AS rn
         |  FROM p) t WHERE rn <= 3),
         |bf AS (${base("q38_cosine_topk")}),
         |j AS (SELECT bf.q_id, bf.vec_id,
         |    CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END AS h
         |  FROM bf LEFT JOIN r ON bf.q_id = r.q_id AND bf.vec_id = r.vec_id)
         |SELECT count(*) AS n_true, CAST(sum(h) AS BIGINT) AS n_hit,
         |  round(sum(h)::DOUBLE / count(*), 4) AS recall_ivf_q8 FROM j""".stripMargin
    val adcExpr = (1 to PqSubs).map(m => s"q.vv[$m][c.cds[$m] + 1]").mkString(" + ")
    val q65 =
      s"""WITH ${preppedCte(0)},
         |$pqCte,
         |pp AS (SELECT q.q_id, c.vec_id, $adcExpr AS adc
         |  FROM qpv q, codesp c WHERE c.vec_id != q.q_id),
         |sl AS (SELECT q_id, vec_id, ra FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY round(adc, 6) DESC, vec_id) AS ra FROM pp) t
         |  WHERE ra <= $PqRerank),
         |rrk AS (SELECT s.q_id, s.vec_id, row_number() OVER (PARTITION BY s.q_id
         |      ORDER BY round(${dotSql("qs.qe", "ex.ne")}, 6) DESC, s.vec_id) AS rn
         |  FROM sl s JOIN qs ON s.q_id = qs.q_id JOIN e ex ON s.vec_id = ex.vec_id),
         |t3 AS (SELECT q_id, vec_id FROM rrk WHERE rn <= 3),
         |a3 AS (SELECT q_id, vec_id FROM sl WHERE ra <= 3),
         |bf AS (${base("q38_cosine_topk")}),
         |j AS (SELECT bf.q_id, bf.vec_id,
         |    CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS h,
         |    CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS ah
         |  FROM bf LEFT JOIN t3 t ON bf.q_id = t.q_id AND bf.vec_id = t.vec_id
         |  LEFT JOIN a3 a ON bf.q_id = a.q_id AND bf.vec_id = a.vec_id)
         |SELECT count(*) AS n_true, CAST(sum(ah) AS BIGINT) AS n_adc,
         |  CAST(sum(h) AS BIGINT) AS n_hit,
         |  round(sum(ah)::DOUBLE / count(*), 4) AS recall_adc,
         |  round(sum(h)::DOUBLE / count(*), 4) AS recall_pq FROM j""".stripMargin
    val q69 =
      s"""WITH ${preppedCte(0)},
         |${ivfCandCte("icand")},
         |$pqCte,
         |scq AS (SELECT ic.q_id, ic.vec_id, $adcExpr AS adc
         |  FROM icand ic JOIN qpv q ON ic.q_id = q.q_id
         |    JOIN codesp c ON ic.vec_id = c.vec_id),
         |sl AS (SELECT q_id, vec_id, ra FROM (
         |  SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
         |      ORDER BY round(adc, 6) DESC, vec_id) AS ra FROM scq) t
         |  WHERE ra <= $PqRerank),
         |rrk AS (SELECT s.q_id, s.vec_id, row_number() OVER (PARTITION BY s.q_id
         |      ORDER BY round(${dotSql("qs.qe", "ex.ne")}, 6) DESC, s.vec_id) AS rn
         |  FROM sl s JOIN qs ON s.q_id = qs.q_id JOIN e ex ON s.vec_id = ex.vec_id),
         |rr3 AS (SELECT q_id, vec_id FROM rrk WHERE rn <= 3),
         |ad3 AS (SELECT q_id, vec_id FROM sl WHERE ra <= 3),
         |bf AS (${base("q38_cosine_topk")}),
         |j AS (SELECT bf.q_id, bf.vec_id,
         |    CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS h,
         |    CASE WHEN a.vec_id IS NOT NULL THEN 1 ELSE 0 END AS ah
         |  FROM bf LEFT JOIN rr3 t ON bf.q_id = t.q_id AND bf.vec_id = t.vec_id
         |  LEFT JOIN ad3 a ON bf.q_id = a.q_id AND bf.vec_id = a.vec_id)
         |SELECT count(*) AS n_true, CAST(sum(ah) AS BIGINT) AS n_adc,
         |  CAST(sum(h) AS BIGINT) AS n_hit,
         |  round(sum(ah)::DOUBLE / count(*), 4) AS recall_adc_ivf,
         |  round(sum(h)::DOUBLE / count(*), 4) AS recall_ivfpq FROM j""".stripMargin
    // The streamed index audit: rebuild the same IVF lists (iidx) and
    // PQ codes (codesp) relationally and aggregate the identical
    // per-cell stats — membership and code checksums included, so any
    // divergence between streamed and batch index construction hashes.
    val q73 =
      s"""WITH ${preppedCte(0)},
         |${ivfCandCte("icand")},
         |$pqCte,
         |j AS (SELECT i.cell, i.vec_id, c.cds[1] AS c0
         |  FROM iidx i JOIN codesp c ON i.vec_id = c.vec_id)
         |SELECT CAST(cell AS BIGINT) AS cell, count(*) AS n_vecs,
         |  CAST(sum(c0) AS BIGINT) AS sum_code0,
         |  CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
         |FROM j GROUP BY cell ORDER BY cell ASC NULLS FIRST""".stripMargin
    val q79 =
      s"""WITH ${preppedCte(0)},
         |$kmeansTrainCtes,
         |cells AS (SELECT vec_id, ne, c AS cell FROM (
         |  SELECT e.vec_id, e.ne, cc.c, row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY round(${dotSql("e.ne", "cc.ce")}, 6) DESC, cc.c) AS rn
         |  FROM e, c$IvfIters cc) t WHERE rn = 1),
         |bc AS (SELECT cell FROM cells GROUP BY cell
         |  HAVING count(*) BETWEEN 2 AND ${graft.ext.Dedup.DefaultMaxBucket}),
         |rm AS (SELECT DISTINCT b.vec_id
         |  FROM bc JOIN cells a ON a.cell = bc.cell
         |    JOIN cells b ON b.cell = bc.cell AND a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.ne", "b.ne")} >= $SemTau)
         |SELECT CAST(cells.cell AS INTEGER) AS cell, count(*) AS n_vecs,
         |  CAST(sum(CASE WHEN rm.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_removed
         |FROM cells LEFT JOIN rm ON cells.vec_id = rm.vec_id
         |GROUP BY cells.cell ORDER BY cell ASC NULLS FIRST""".stripMargin
    val q87 =
      s"""WITH ${preppedCte(0)},
         |s0 AS (SELECT e.vec_id, e.ne, d.source
         |  FROM e JOIN documents d ON e.vec_id = d.doc_id
         |  WHERE e.ne IS NOT NULL),
         |g AS (SELECT source, count(*) AS n_vecs,
         |    list(ne ORDER BY vec_id) AS vs FROM s0 GROUP BY source),
         |f AS (SELECT source, n_vecs, list_reduce(vs,
         |    (a, b) -> list_transform(generate_series(1, $Dims), j -> a[j] + b[j]))
         |    AS ssum FROM g),
         |m AS (SELECT source, n_vecs,
         |    list_transform(ssum, x -> x / n_vecs) AS mean FROM f)
         |SELECT source, n_vecs,
         |  round(sqrt(${dotSql("mean", "mean")}), 4) AS coherence,
         |  round(mean[1], 6) AS c0
         |FROM m ORDER BY source ASC NULLS FIRST""".stripMargin
    val q109 =
      s"""WITH ${preppedCte(0)},
         |s0 AS (SELECT e.vec_id, e.ne, d.source
         |  FROM e JOIN documents d ON e.vec_id = d.doc_id
         |  WHERE e.ne IS NOT NULL),
         |g AS (SELECT source, count(*) AS nv,
         |    list(ne ORDER BY vec_id) AS vs FROM s0 GROUP BY source),
         |f AS (SELECT source, nv, list_reduce(vs,
         |    (a, b) -> list_transform(generate_series(1, $Dims), j -> a[j] + b[j]))
         |    AS ssum FROM g),
         |m AS (SELECT source,
         |    list_transform(ssum, x -> x / nv) AS mean FROM f),
         |sc AS (SELECT s0.source,
         |    ${dotSql("s0.ne", "m.mean")} / sqrt(${dotSql("m.mean", "m.mean")})
         |      AS cos
         |  FROM s0 JOIN m ON s0.source = m.source)
         |SELECT source, count(*) AS n_vecs,
         |  CAST(sum(CASE WHEN cos < 0.0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_outliers,
         |  round(min(cos), 4) AS min_cos, round(max(cos), 4) AS max_cos
         |FROM sc GROUP BY source ORDER BY source ASC NULLS FIRST""".stripMargin
    // streaming the queries must return the BATCH index's exact
    // answers — q111's oracle is q50's with the wave column added
    val q111 =
      s"""WITH ${preppedCte(0)},
         |${ivfCandCte("cand")},
         |cc AS (SELECT q_id, vec_id, ${dotSql("qe", "ne")} AS c FROM cand),
         |r AS (SELECT q_id, vec_id, c, row_number() OVER (
         |    PARTITION BY q_id ORDER BY round(c, 6) DESC, vec_id) AS rn FROM cc)
         |SELECT CAST(q_id % 2 AS BIGINT) AS wave, q_id,
         |  CAST(rn AS INTEGER) AS rn, vec_id, round(c, 4) AS cos
         |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin
    base + ("q57_ann_recall" -> q57) + ("q59_ann_candidates" -> q59) +
      ("q62_int8_recall" -> q62) + ("q64_ivf_int8_recall" -> q64) +
      ("q65_pq_recall" -> q65) + ("q69_ivfpq_recall" -> q69) +
      ("q73_stream_index_ingest" -> q73) + ("q79_semdedup" -> q79) +
      ("q87_domain_centroids" -> q87) +
      ("q109_embedding_outliers" -> q109) +
      ("q111_stream_ann_search" -> q111)
  }

  private def baseOracles: Map[String, String] = Map(
    "q38_cosine_topk" ->
      s"""WITH ${preppedCte(0)},
         |q AS (SELECT vec_id AS q_id, ne AS qe FROM e WHERE vec_id % $qModSql = 0),
         |p AS (SELECT q_id, vec_id, ${dotSql("qe", "ne")} AS c
         |  FROM q, e WHERE vec_id != q_id),
         |r AS (SELECT q_id, vec_id, c, row_number() OVER (
         |    PARTITION BY q_id ORDER BY round(c, 6) DESC, vec_id) AS rn FROM p)
         |SELECT q_id, CAST(rn AS INTEGER) AS rn, vec_id, round(c, 4) AS cos
         |FROM r WHERE rn <= 3 ORDER BY q_id, rn""".stripMargin,

    "q39_ann_lsh" -> topKSql(lshCandCte("cand")),

    "q50_ann_ivf" -> topKSql(ivfCandCte("cand")),

    "q40_embedding_pairs" ->
      s"""WITH ${preppedCte(PairPlanes)},
         |bc AS (SELECT bucket FROM e GROUP BY bucket
         |  HAVING count(*) BETWEEN 2 AND ${graft.ext.Dedup.DefaultMaxBucket}),
         |p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${dotSql("a.ne", "b.ne")} AS c
         |  FROM bc JOIN e a ON a.bucket = bc.bucket
         |    JOIN e b ON b.bucket = bc.bucket AND a.vec_id < b.vec_id)
         |SELECT a_id, b_id, round(c, 4) AS cos FROM p
         |WHERE c >= 0.35 ORDER BY a_id, b_id""".stripMargin
  )
}
