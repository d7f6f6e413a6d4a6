package graft.queries

import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions
import graft.operators.Similarity

import QuerySupport._

/** Vector search over the embeddings table: brute-force and LSH
  * top-k, int8 and PQ codes, and the IVF / IVF-PQ serving layouts
  * (build, batch probe, fold, monitor, rebuild, delete).
  */
object AnnQueries extends QueryFamily(Family.Ann) {

  /** Mirrors Similarity.quantizeInt8: CTEs `m` (per-vector maxabs) and
    * `qv` (vec_id, qvec) — shared by q67/q68.
    */
  private val int8QvecCtes =
    """m AS (SELECT vec_id, embedding,
      |   list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
      |   FROM embeddings),
      | qv AS (SELECT vec_id,
      |   CASE WHEN maxabs = 0 THEN list_transform(embedding, x -> CAST(0 AS BIGINT))
      |        ELSE list_transform(embedding,
      |          x -> CAST(floor(CAST(x AS DOUBLE) * 127 / maxabs + 0.5) AS BIGINT)) END AS qvec
      |   FROM m)""".stripMargin.replaceAll("\n", " ")

  /** Mirrors VectorFunctions.hyperplaneBucketQ with the plane constants
    * inlined as literals (same Seq the Spark side uses).
    */
  private def bucketSql(q: String, planes: Seq[Seq[Long]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lit = p.mkString("list_value(", ",", ")")
      s"(CASE WHEN ${qdotSql(q, lit)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  /** [[bucketSql]] masked to the first `kCol` planes — the SQL side of
    * q47's occupancy-adaptive bucket width. The plane list is a
    * prefix-stable superset (16 planes from the same seeded stream the
    * Spark side reads), so masking to K reproduces the Spark buckets
    * exactly for any K ≤ 16.
    */
  private def bucketSqlAdaptive(q: String, planes: Seq[Seq[Long]], kCol: String): String =
    planes.zipWithIndex.map { case (p, i) =>
      val lit = p.mkString("list_value(", ",", ")")
      s"(CASE WHEN $i < $kCol AND ${qdotSql(q, lit)} >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  // the q51 seed-assign machinery with a 5-query batch: per-query
  // probe ranking (cos DESC, cent_id DESC) and per-query top-5
  // windows; rk makes the ORDER BY total
  private[queries] lazy val q107OracleSql: String = {
    def cosSql(dot: String, na: String, nb: String) =
      s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
    s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
       |   ELSE LEAST(65536, GREATEST(4,
       |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
       |   FROM embeddings),
       | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
       |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
       | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
       |   WHERE vec_id < (SELECT c FROM nc)),
       | qs AS (SELECT vec_id AS query_id, q AS qvec, nrm AS qn FROM b WHERE vec_id < 5),
       | asg AS (SELECT vec_id, q, nrm, cent_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY
       |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
       |   FROM b CROSS JOIN c),
       | probes AS (SELECT query_id, cent_id FROM (
       |   SELECT qs.query_id, c.cent_id,
       |     row_number() OVER (PARTITION BY qs.query_id ORDER BY
       |       ${cosSql(qdotSql("c.cvec", "qs.qvec"), "c.cnrm", "qs.qn")} DESC,
       |       c.cent_id DESC) AS pr
       |   FROM c CROSS JOIN qs) WHERE pr <= 4),
       | cand AS (SELECT qs.query_id, a.vec_id,
       |     ${qdotSql("a.q", "qs.qvec")} AS dot, a.nrm, qs.qn
       |   FROM asg a JOIN probes p ON a.cent_id = p.cent_id
       |   JOIN qs ON qs.query_id = p.query_id
       |   WHERE a.rn = 1 AND a.vec_id <> qs.query_id),
       | ranked AS (SELECT query_id, vec_id, dot,
       |   CAST(row_number() OVER (PARTITION BY query_id ORDER BY
       |     ${cosSql("dot", "nrm", "qn")} DESC, vec_id) AS BIGINT) AS rk
       |   FROM cand)
       |SELECT query_id, rk, vec_id, dot FROM ranked WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin.replaceAll("\n", " ")
  }

  // the q51 machinery with the INDEX LINEAGE split: C and the seed
  // centroids derive from the CORPUS alone (vec_id % 10 <> 0 — what
  // ensureIvfIndex saw), while the assignment covers corpus ∪ batch
  // (what the folded layout holds). Query = vec 0, a BATCH member:
  // green requires the folded vectors to be both indexed and
  // servable, and the fold to equal this from-scratch rebuild.
  private[queries] lazy val q111OracleSql: String = {
    def cosSql(dot: String, na: String, nb: String) =
      s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
    s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
       |   ELSE LEAST(65536, GREATEST(4,
       |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
       |   FROM embeddings WHERE vec_id % 10 <> 0),
       | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
       |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
       | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
       |   WHERE vec_id % 10 <> 0 AND vec_id < (SELECT c FROM nc)),
       | qq AS (SELECT q AS qvec, nrm AS qn FROM b WHERE vec_id = 0),
       | asg AS (SELECT vec_id, q, nrm, cent_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY
       |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
       |   FROM b CROSS JOIN c),
       | probes AS (SELECT cent_id FROM c CROSS JOIN qq
       |   ORDER BY ${cosSql(qdotSql("cvec", "qvec"), "cnrm", "qn")} DESC, cent_id DESC
       |   LIMIT 4),
       | cand AS (SELECT a.vec_id, ${qdotSql("a.q", "qq.qvec")} AS dot, a.nrm, qq.qn
       |          FROM asg a JOIN probes USING (cent_id) CROSS JOIN qq
       |          WHERE a.rn = 1 AND a.vec_id <> 0)
       |SELECT vec_id, dot FROM cand
       |ORDER BY ${cosSql("dot", "nrm", "qn")} DESC, vec_id
       |LIMIT 10""".stripMargin.replaceAll("\n", " ")
  }

  // the fresh-build IVF probe over the full table: nc mirrors
  // Similarity.nCentroidsForCorpus(count) in exact integer arithmetic
  // (C = clamp(2^((bitLength(n-1)+1)//2), 4, 65536)); shared by q51
  // (build-from-source) and q115 (rebuild-from-index ≡ it)
  private lazy val q51OracleSql: String = {
    def cosSql(dot: String, na: String, nb: String) =
      s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
    s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
       |   ELSE LEAST(65536, GREATEST(4,
       |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
       |   FROM embeddings),
       | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
       |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
       | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
       |   WHERE vec_id < (SELECT c FROM nc)),
       | qq AS (SELECT q AS qvec, nrm AS qn FROM b WHERE vec_id = 0),
       | asg AS (SELECT vec_id, q, nrm, cent_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY
       |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
       |   FROM b CROSS JOIN c),
       | probes AS (SELECT cent_id FROM c CROSS JOIN qq
       |   ORDER BY ${cosSql(qdotSql("cvec", "qvec"), "cnrm", "qn")} DESC, cent_id DESC
       |   LIMIT 4),
       | cand AS (SELECT a.vec_id, ${qdotSql("a.q", "qq.qvec")} AS dot, a.nrm, qq.qn
       |          FROM asg a JOIN probes USING (cent_id) CROSS JOIN qq
       |          WHERE a.rn = 1 AND a.vec_id <> 0)
       |SELECT vec_id, dot FROM cand
       |ORDER BY ${cosSql("dot", "nrm", "qn")} DESC, vec_id
       |LIMIT 10""".stripMargin.replaceAll("\n", " ")
  }

  // q113's occupancy chain reduced to the one-row advisor: skew =
  // max_cell/(n/C) and new-mass = folded/n, both in integer permille
  // (div truncates identically on both engines), thresholds mirrored
  // from Similarity.ivfRebuildAdvice defaults
  private lazy val q114OracleSql: String = {
    def cosSql(dot: String, na: String, nb: String) =
      s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
    s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
       |   ELSE LEAST(65536, GREATEST(4,
       |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
       |   FROM embeddings WHERE vec_id % 10 <> 0),
       | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
       |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
       | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
       |   WHERE vec_id % 10 <> 0 AND vec_id < (SELECT c FROM nc)),
       | asg AS (SELECT vec_id, cent_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY
       |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
       |   FROM b CROSS JOIN c),
       | occ AS (SELECT cent_id, COUNT(*) AS n FROM asg WHERE rn = 1
       |   GROUP BY cent_id),
       | m AS (SELECT
       |   (SELECT COUNT(*) FROM embeddings) AS n_vecs,
       |   (SELECT COUNT(*) FROM occ) AS n_cells,
       |   (SELECT COUNT(*) FROM c) AS c,
       |   (SELECT MAX(n) FROM occ) AS max_cell,
       |   (SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 <> 0) AS n_corpus)
       |SELECT n_vecs, n_cells, c, max_cell,
       |  (max_cell * c * 1000) // n_vecs AS skew_permille,
       |  ((n_vecs - n_corpus) * 1000) // n_vecs AS new_mass_permille,
       |  CAST(CASE WHEN (max_cell * c * 1000) // n_vecs >= 2000
       |    OR ((n_vecs - n_corpus) * 1000) // n_vecs >= 500
       |    THEN 1 ELSE 0 END AS BIGINT) AS rebuild
       |FROM m""".stripMargin.replaceAll("\n", " ")
  }

  // shared PQ CTE chain (q116/q117/q118/q119/q120): 4×16-dim slices
  // of the fixed-point quantization, codebooks seeded from the first
  // ks=256 vec_ids OF THE SEED POPULATION (`seedCond` — the full table
  // for the one-shot queries, the standing corpus for the maintained
  // q120 index), argmin by exact integer squared L2
  // (na + nb - 2·dot), ties → smaller code_id — mirrors
  // Similarity.pqAssignments / the fold's standing-codebook encode
  private def pqAsgCtes(seedCond: String = ""): String =
    s"""b AS (SELECT vec_id, $qvecSql AS q FROM embeddings),
       | sv AS (SELECT vec_id, s.sub,
       |   list_slice(q, s.sub*16 + 1, s.sub*16 + 16) AS sq
       |   FROM b, (SELECT unnest(generate_series(0, 3)) AS sub) s),
       | sv2 AS (SELECT vec_id, sub, sq, ${qdotSql("sq", "sq")} AS snrm
       |   FROM sv),
       | cb AS (SELECT sub, vec_id AS code_id, sq AS cvec, snrm AS cnrm
       |   FROM sv2 WHERE ${seedCond}vec_id < 256),
       | asg AS (SELECT v.vec_id, v.sub,
       |   (min(struct_pack(
       |     l := (v.snrm + cb.cnrm - 2*${qdotSql("v.sq", "cb.cvec")}),
       |     c := cb.code_id))).c AS code_id, 1 AS rn
       |   FROM sv2 v JOIN cb USING (sub) GROUP BY v.vec_id, v.sub)""".stripMargin

  private lazy val q116OracleSql: String =
    s"""WITH ${pqAsgCtes()}
       |SELECT vec_id,
       |  MAX(CASE WHEN sub = 0 THEN code_id END) AS c0,
       |  MAX(CASE WHEN sub = 1 THEN code_id END) AS c1,
       |  MAX(CASE WHEN sub = 2 THEN code_id END) AS c2,
       |  MAX(CASE WHEN sub = 3 THEN code_id END) AS c3
       |FROM asg WHERE rn = 1 GROUP BY vec_id ORDER BY vec_id"""
      .stripMargin.replaceAll("\n", " ")

  private lazy val q117OracleSql: String =
    s"""WITH ${pqAsgCtes()},
       | qs AS (SELECT sub, sq AS qv, snrm AS qn FROM sv2 WHERE vec_id = 0),
       | lut AS (SELECT cb.sub, cb.code_id,
       |   (qs.qn + cb.cnrm - 2*${qdotSql("qs.qv", "cb.cvec")}) AS pd
       |   FROM cb JOIN qs USING (sub)),
       | ad AS (SELECT a.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adist
       |   FROM asg a JOIN lut l ON a.sub = l.sub AND a.code_id = l.code_id
       |   WHERE a.rn = 1 AND a.vec_id <> 0 GROUP BY a.vec_id)
       |SELECT vec_id, adist FROM ad ORDER BY adist, vec_id LIMIT 10"""
      .stripMargin.replaceAll("\n", " ")

  // IVF pruning (q51's chain) composed with PQ codes (pqAsgCtes) and
  // the ADC lookup-table sum: candidates = vectors whose cell is
  // probed, ranked by Σ_sub lut[sub][code]. `seedCond` picks the
  // seed population: the full table for the one-shot q118/q119, the
  // standing corpus for the maintained q120 index.
  private def ivfPqCtes(seedCond: String = ""): String = {
    def cosSql(dot: String, na: String, nb: String) =
      s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
    val where = if (seedCond.isEmpty) "" else s" WHERE ${seedCond}TRUE"
    s"""${pqAsgCtes(seedCond)},
       | nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
       |   ELSE LEAST(65536, GREATEST(4,
       |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
       |   FROM embeddings$where),
       | b2 AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm FROM b),
       | ic AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b2
       |   WHERE ${seedCond}vec_id < (SELECT c FROM nc)),
       | qq AS (SELECT q AS qvec, nrm AS qn FROM b2 WHERE vec_id = 0),
       | iasg AS (SELECT vec_id, cent_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY
       |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
       |   FROM b2 CROSS JOIN ic),
       | probes AS (SELECT cent_id FROM ic CROSS JOIN qq
       |   ORDER BY ${cosSql(qdotSql("cvec", "qvec"), "cnrm", "qn")} DESC, cent_id DESC
       |   LIMIT 4),
       | qs AS (SELECT sub, sq AS qv, snrm AS qn2 FROM sv2 WHERE vec_id = 0),
       | lut AS (SELECT cb.sub, cb.code_id,
       |   (qs.qn2 + cb.cnrm - 2*${qdotSql("qs.qv", "cb.cvec")}) AS pd
       |   FROM cb JOIN qs USING (sub)),
       | ad AS (SELECT a.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adist
       |   FROM asg a JOIN lut l ON a.sub = l.sub AND a.code_id = l.code_id
       |   WHERE a.rn = 1 GROUP BY a.vec_id)""".stripMargin
  }

  private lazy val q122OracleSql: String = {
    def cosSql(dot: String, na: String, nb: String) =
      s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
    s"""WITH ${pqAsgCtes()},
       | nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
       |   ELSE LEAST(65536, GREATEST(4,
       |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
       |   FROM embeddings),
       | b2 AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm FROM b),
       | ic AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b2
       |   WHERE vec_id < (SELECT c FROM nc)),
       | qs AS (SELECT vec_id AS query_id, q AS qvec, nrm AS qn FROM b2
       |   WHERE vec_id < 5),
       | iasg AS (SELECT vec_id, cent_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY
       |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
       |   FROM b2 CROSS JOIN ic),
       | probes AS (SELECT query_id, cent_id FROM (
       |   SELECT qs.query_id, ic.cent_id,
       |     row_number() OVER (PARTITION BY qs.query_id ORDER BY
       |       ${cosSql(qdotSql("ic.cvec", "qs.qvec"), "ic.cnrm", "qs.qn")} DESC,
       |       ic.cent_id DESC) AS pr
       |   FROM ic CROSS JOIN qs) WHERE pr <= 4),
       | qsub AS (SELECT vec_id AS query_id, sub, sq, snrm FROM sv2
       |   WHERE vec_id < 5),
       | lut AS (SELECT qsub.query_id, cb.sub, cb.code_id,
       |   (qsub.snrm + cb.cnrm - 2*${qdotSql("qsub.sq", "cb.cvec")}) AS pd
       |   FROM cb JOIN qsub USING (sub)),
       | ad AS (SELECT l.query_id, a.vec_id, CAST(SUM(l.pd) AS BIGINT) AS adist
       |   FROM asg a JOIN lut l ON a.sub = l.sub AND a.code_id = l.code_id
       |   WHERE a.rn = 1 GROUP BY l.query_id, a.vec_id),
       | cand AS (SELECT p.query_id, i.vec_id, ad.adist
       |   FROM iasg i JOIN probes p ON i.cent_id = p.cent_id
       |   JOIN ad ON ad.query_id = p.query_id AND ad.vec_id = i.vec_id
       |   WHERE i.rn = 1 AND i.vec_id <> p.query_id),
       | ranked AS (SELECT query_id, vec_id, adist,
       |   CAST(row_number() OVER (PARTITION BY query_id
       |     ORDER BY adist, vec_id) AS BIGINT) AS rk FROM cand)
       |SELECT query_id, rk, vec_id, adist FROM ranked WHERE rk <= 5
       |ORDER BY query_id, rk""".stripMargin.replaceAll("\n", " ")
  }

  private[queries] lazy val q120OracleSql: String =
    s"""WITH ${ivfPqCtes("vec_id % 10 <> 0 AND ")}
       |SELECT i.vec_id, ad.adist FROM iasg i
       |JOIN probes USING (cent_id) JOIN ad ON ad.vec_id = i.vec_id
       |WHERE i.rn = 1 AND i.vec_id <> 0
       |ORDER BY ad.adist, i.vec_id LIMIT 10"""
      .stripMargin.replaceAll("\n", " ")

  private lazy val q118OracleSql: String =
    s"""WITH ${ivfPqCtes()}
       |SELECT i.vec_id, ad.adist FROM iasg i
       |JOIN probes USING (cent_id) JOIN ad ON ad.vec_id = i.vec_id
       |WHERE i.rn = 1 AND i.vec_id <> 0
       |ORDER BY ad.adist, i.vec_id LIMIT 10"""
      .stripMargin.replaceAll("\n", " ")

  private lazy val q119OracleSql: String = {
    def cosSql(dot: String, na: String, nb: String) =
      s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
    s"""WITH ${ivfPqCtes()},
       | cand AS (SELECT i.vec_id FROM iasg i
       |   JOIN probes USING (cent_id) JOIN ad ON ad.vec_id = i.vec_id
       |   WHERE i.rn = 1 AND i.vec_id <> 0
       |   ORDER BY ad.adist, i.vec_id LIMIT 100),
       | rer AS (SELECT b2.vec_id, ${qdotSql("b2.q", "qq.qvec")} AS dot,
       |   b2.nrm, qq.qn FROM b2 JOIN cand USING (vec_id) CROSS JOIN qq)
       |SELECT vec_id, dot FROM rer
       |ORDER BY ${cosSql("dot", "nrm", "qn")} DESC, vec_id LIMIT 10"""
      .stripMargin.replaceAll("\n", " ")
  }

  // q113's occupancy chain over the REMAINDER: corpus-derived C and
  // seeds, union assignment, deleted slice excluded — every count
  // shifts if a tombstone is dropped or over-applied
  private[queries] lazy val q126OracleSql: String = {
    def cosSql(dot: String, na: String, nb: String) =
      s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
    s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
       |   ELSE LEAST(65536, GREATEST(4,
       |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
       |   FROM embeddings WHERE vec_id % 10 <> 0),
       | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
       |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
       | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
       |   WHERE vec_id % 10 <> 0 AND vec_id < (SELECT c FROM nc)),
       | asg AS (SELECT vec_id, cent_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY
       |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
       |   FROM b CROSS JOIN c WHERE vec_id % 20 <> 10)
       |SELECT cent_id, COUNT(*) AS n_vecs FROM asg WHERE rn = 1
       |GROUP BY cent_id ORDER BY cent_id""".stripMargin.replaceAll("\n", " ")
  }

  // the full live content of the maintained IVF-PQ layout over the
  // remainder: corpus-seeded books and centroids, union encode, the
  // deleted slice excluded — (vec_id, cell, all m codes) hash-gated
  private lazy val q127OracleSql: String =
    s"""WITH ${ivfPqCtes("vec_id % 10 <> 0 AND ")}
       |SELECT i.vec_id, i.cent_id,
       |  MAX(CASE WHEN a.sub = 0 THEN a.code_id END) AS c0,
       |  MAX(CASE WHEN a.sub = 1 THEN a.code_id END) AS c1,
       |  MAX(CASE WHEN a.sub = 2 THEN a.code_id END) AS c2,
       |  MAX(CASE WHEN a.sub = 3 THEN a.code_id END) AS c3
       |FROM iasg i JOIN asg a ON a.vec_id = i.vec_id
       |WHERE i.rn = 1 AND a.rn = 1 AND i.vec_id % 20 <> 10
       |GROUP BY i.vec_id, i.cent_id ORDER BY i.vec_id"""
      .stripMargin.replaceAll("\n", " ")

  // q111's lineage split (corpus-derived C and seeds, union
  // assignment), aggregated to per-cell occupancy instead of probed
  private lazy val q113OracleSql: String = {
    def cosSql(dot: String, na: String, nb: String) =
      s"CAST($dot AS DOUBLE)/sqrt(CAST($na AS DOUBLE)*CAST($nb AS DOUBLE))"
    s"""WITH nc AS (SELECT CASE WHEN COUNT(*) <= 1 THEN 4
       |   ELSE LEAST(65536, GREATEST(4,
       |     CAST(1 AS BIGINT) << ((length(bin(COUNT(*) - 1)) + 1) // 2))) END AS c
       |   FROM embeddings WHERE vec_id % 10 <> 0),
       | b AS (SELECT vec_id, q, ${qdotSql("q", "q")} AS nrm
       |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
       | c AS (SELECT vec_id AS cent_id, q AS cvec, nrm AS cnrm FROM b
       |   WHERE vec_id % 10 <> 0 AND vec_id < (SELECT c FROM nc)),
       | asg AS (SELECT vec_id, cent_id,
       |   row_number() OVER (PARTITION BY vec_id ORDER BY
       |     ${cosSql(qdotSql("q", "cvec"), "nrm", "cnrm")} DESC, cent_id DESC) AS rn
       |   FROM b CROSS JOIN c)
       |SELECT cent_id, COUNT(*) AS n_vecs FROM asg WHERE rn = 1
       |GROUP BY cent_id ORDER BY cent_id""".stripMargin.replaceAll("\n", " ")
  }

  query("q22_cosine_topk", oracle =
      """WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
        |scored AS (
        |  SELECT vec_id,
        |    list_sum(list_transform(list_zip(embedding, qe),
        |      x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) /
        |    (sqrt(list_sum(list_transform(embedding, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE)))) *
        |     sqrt(list_sum(list_transform(qe, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))) AS cos
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT vec_id FROM scored ORDER BY cos DESC, vec_id LIMIT 20"""
        .stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Similarity.bruteForceTopK(t(s, d, "embeddings"), queryId = 0L, k = 20)
      .select(col("vec_id"))
  }

  query("q25_lsh_ann", oracle = {
      val planes = VectorFunctions.quantPlanes(42L, 64, 4)
      val probeList = "list_value(qb, xor(qb,1), xor(qb,2), xor(qb,4), xor(qb,8))"
      s"""WITH b AS (SELECT vec_id, q, ${bucketSql("q", planes)} AS bucket,
         |   ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings)),
         | qq AS (SELECT q AS qvec, bucket AS qb, nrm AS qn FROM b WHERE vec_id = 0),
         | probes AS (SELECT DISTINCT unnest($probeList) AS bucket FROM qq),
         | cand AS (SELECT b.vec_id, ${qdotSql("b.q", "qq.qvec")} AS dot, b.nrm, qq.qn
         |          FROM b JOIN probes USING (bucket) CROSS JOIN qq WHERE b.vec_id <> 0)
         |SELECT vec_id, dot FROM cand
         |ORDER BY CAST(dot AS DOUBLE)/sqrt(CAST(nrm AS DOUBLE)*CAST(qn AS DOUBLE)) DESC, vec_id
         |LIMIT 10""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    Similarity.lshTopKPortable(t(s, d, "embeddings"), queryId = 0L, k = 10)
  }

  /** Embedding-cosine near-duplicate pairs via LSH buckets — fixed-point
    * quantized variant so the threshold is exact integer arithmetic and
    * the DuckDB oracle reproduces the pair set bit-for-bit.
    *
    * The bucket width is OCCUPANCY-ADAPTIVE: K =
    * [[Similarity.nBitsForOccupancy]](count) rather than a constant.
    * With K fixed, bucket occupancy grows linearly in the corpus and
    * the candidate join quadratically — the sf10 scale point measured
    * 196× wall at 100× data for fixed K=6; adaptive K holds occupancy
    * at ~32 so candidates stay linear. The derivation is exact integer
    * arithmetic (ceil-div + bit length) that the oracle SQL mirrors
    * verbatim from COUNT(*) (`length(bin(M-1))`), and the 16 inlined
    * oracle planes are a prefix-stable superset of the K the Spark
    * side draws (both sides read the same seeded stream) — so the two
    * engines agree on K, buckets and the pair set at EVERY scale
    * factor, not just the verify one.
    */
  query("q47_cosine_neardup", oracle = {
      val planes     = VectorFunctions.quantPlanes(42L, 64, 16)
      val (num, den) = Similarity.cosThresholdFraction(400)
      // kb mirrors Similarity.nBitsForOccupancy(count, 32) in exact
      // integer arithmetic: M = ceil(c/32); K = clamp(bitLength(M-1), 1, 16)
      s"""WITH kb AS (SELECT CASE WHEN ((COUNT(*) + 31) // 32) <= 1 THEN 1
         |   ELSE LEAST(16, length(bin(((COUNT(*) + 31) // 32) - 1))) END AS k
         |   FROM embeddings),
         | b AS (SELECT vec_id, q, ${bucketSqlAdaptive("q", planes, "k")} AS bucket,
         |   ${qdotSql("q", "q")} AS nrm
         |   FROM (SELECT vec_id, $qvecSql AS q FROM embeddings), kb),
         | pairs AS (SELECT l.vec_id AS vec_a, r.vec_id AS vec_b,
         |   ${qdotSql("l.q", "r.q")} AS dot, l.nrm AS na, r.nrm AS nb
         |   FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id)
         |SELECT vec_a, vec_b, dot FROM pairs
         |WHERE dot > 0 AND dot*dot*$den >= $num*na*nb
         |ORDER BY vec_a, vec_b""".stripMargin.replaceAll("\n", " ")
    }) { (s, d) =>
    val emb = t(s, d, "embeddings")
    // corpus count from the STAGED stats sidecar (one count at ingest,
    // a metadata read ever after) — ANN planning must not cost a
    // per-invocation count() job over the corpus
    val k = Similarity.nBitsForOccupancy(
      Similarity.ensureCorpusStats(emb, srcTag = d), targetOccupancy = 32)
    Similarity.cosineNearDupPairsPortable(emb, minCosineMilli = 400, nBits = k)
      .orderBy("vec_a", "vec_b")
  }

  /** IVF ANN over the embeddings: data-adaptive inverted-file cells
    * (vs q25's data-oblivious LSH planes). Quantized integer dots keep
    * cell assignment + ranking bit-identical in the DuckDB oracle.
    *
    * Serves from the PAY-ONCE layout ([[Similarity.ensureIvfIndex]],
    * warmed by [[graft.SparkEntry.prepareLayouts]], the q75/q84 ingest
    * contract) with an OCCUPANCY-ADAPTIVE cell count C = [[Similarity.nCentroidsForCorpus]]
    * (count) ≈ √n — with C frozen at 32, probe cost was a constant 1/8
    * of the corpus (21.5× wall at the 100× scale point); with C ≈ √n
    * both query legs (rank C centroids, scan nProbe cells of ≈√n rows)
    * are sublinear, and the O(n·C) assignment moved to ingest. The
    * oracle derives the same C from COUNT(*) in exact integer
    * arithmetic and replays seed-assign-probe-rank over the raw table,
    * so the gate proves the staged layout serves bit-identical answers.
    * The 1-row query-vector lookup stands in for the user-supplied
    * query vector of a real serving call.
    */
  query("q51_ivf_ann", layouts = Seq(Layouts.ivfCorpus), oracle = q51OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val (path, _) = Layouts.ivfCorpus(s, d)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding")
      .head().getSeq[Float](0)
    Similarity.ivfProbe(s, path, qv, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** Int8 scalar quantization of the embedding store
    * ([[graft.operators.Similarity.quantizeInt8]]) — the quantized
    * vectors are deterministic integers (float→double widening is
    * exact; one multiply, one divide, one floor(·+½)), so the oracle
    * hash-checks the quantization itself via per-vector integer
    * summaries, not a tolerance band.
    */
  // identical double arithmetic: widen float exactly, x*127/maxabs,
  // floor(+0.5) — then integer summaries of the quantized vector
  query("q67_quantize_int8", oracle =
      s"""WITH $int8QvecCtes
        |SELECT vec_id, list_min(qvec) AS q_min, list_max(qvec) AS q_max,
        | CAST(list_sum(qvec) AS BIGINT) AS q_sum,
        | CAST(list_sum(list_transform(qvec, x -> x * x)) AS BIGINT) AS q_norm2
        |FROM qv ORDER BY vec_id""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Similarity.quantizeInt8(t(s, d, "embeddings"))
      .select(col("vec_id"),
        array_min(col("qvec")).as("q_min"),
        array_max(col("qvec")).as("q_max"),
        aggregate(col("qvec"), lit(0L), (acc, x) => acc + x).as("q_sum"),
        aggregate(col("qvec"), lit(0L), (acc, x) => acc + x * x).as("q_norm2"))
      .orderBy("vec_id")
  }

  /** The int8 serving path end-to-end: top-k by quantized cosine with
    * integer dot products ([[graft.operators.Similarity.bruteForceTopKInt8]]),
    * hash-checked including the exact integer dot values.
    */
  // same quantization, then the q51 ordering pattern over integer dots
  query("q68_ann_int8", oracle =
      s"""WITH $int8QvecCtes,
        | b AS (SELECT vec_id, qvec, ${qdotSql("qvec", "qvec")} AS nrm FROM qv),
        | qq AS (SELECT qvec AS qu, nrm AS qn FROM b WHERE vec_id = 0)
        |SELECT vec_id, ${qdotSql("qvec", "qu")} AS dot
        |FROM b CROSS JOIN qq WHERE vec_id <> 0 AND nrm > 0
        |ORDER BY CAST(${qdotSql("qvec", "qu")} AS DOUBLE) /
        |  sqrt(CAST(nrm AS DOUBLE) * CAST(qn AS DOUBLE)) DESC, vec_id
        |LIMIT 10""".stripMargin.replaceAll("\n", " ")) { (s, d) =>
    Similarity.bruteForceTopKInt8(t(s, d, "embeddings"), queryId = 0L, k = 10)
  }

  /** Batched IVF serving ([[Similarity.ivfProbeBatch]]): five query
    * vectors answered by ONE partition-pruned scan of the staged q51
    * index — the serving-throughput shape (per-query probe cost paid
    * once per batch, candidate shuffle bounded by batch·nProbe·cell,
    * never the corpus). The 5-row query collect stands in for a
    * user-supplied query batch. Oracle replays seed-assign, per-query
    * probe ranking and the per-query top-k windows from the raw table.
    */
  query("q107_ivf_batch", layouts = Seq(Layouts.ivfCorpus), oracle = q107OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val (path, _) = Layouts.ivfCorpus(s, d)
    val qs = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    Similarity.ivfProbeBatch(s, path, qs, k = 5, nProbe = 4)
      .orderBy("query_id", "rk")
  }

  /** The CLOSED serving-index loop (the q109 fold contract, vector
    * side): build the IVF layout on the standing corpus (every 10th
    * vec_id held out), FOLD the held-out batch into it
    * ([[graft.operators.Similarity.foldIntoIvfIndex]] — new vectors
    * assigned to the STANDING centroids, O(batch) appended cell files,
    * corpus cells untouched, idempotent per batch tag), then probe the
    * folded index with a BATCH vector's embedding. The oracle rebuilds
    * the assignment from scratch over corpus ∪ batch against the
    * corpus-seeded centroids, so the gate proves fold ≡ rebuild AND
    * that folded vectors are immediately servable — the "index that is
    * never rebuilt, only maintained" contract for ANN serving.
    */
  // fold ≡ rebuild for the SERVING index: probe of the folded IVF
  // layout vs a from-scratch assignment of corpus ∪ batch to the
  // corpus-seeded centroids (C and seeds from the corpus alone —
  // folding never moves centroids)
  query("q111_ivf_fold", layouts = Seq(Layouts.q111Ivf), oracle = q111OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val batch     = emb.filter(col("vec_id") % 10 === 0)
    val (path, _) = Layouts.q111Ivf(s, d)
    Similarity.foldIntoIvfIndex(batch, path, batchTag = s"$d#vbatch0")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** Cell-occupancy telemetry over the MAINTAINED q111 index (corpus
    * built, batch folded): per-cell vector counts — the rebuild
    * advisor a fold-only ingestion tier watches, since folds never
    * move centroids and drift shows up as occupancy skew. The oracle
    * re-derives the counts from a from-scratch assignment of corpus ∪
    * batch to the corpus-seeded centroids, so green also re-proves the
    * folded index's cell membership, not just its probe results.
    */
  // occupancy of the maintained index ≡ group-by of the from-scratch
  // union assignment — re-proves cell MEMBERSHIP, not just probes
  query("q113_ivf_cell_stats", layouts = Seq(Layouts.q111Ivf), oracle = q113OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Layouts.q111Ivf(s, d)
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#vbatch0")
    Similarity.ivfCellStats(s, path)
  }

  /** The rebuild DECISION over the maintained q111 index: q113's
    * occupancy reduced to one row of integer drift metrics (skew =
    * max-cell/mean occupancy, new-mass = folded fraction) plus the
    * thresholded verdict — what an ingestion tier evaluates after each
    * fold to choose between folding on and a [[q115]] rebuild. The
    * oracle re-derives every metric from a from-scratch union
    * assignment, so the decision itself is hash-gated.
    */
  // drift metrics + rebuild verdict re-derived from the same union
  // assignment — the DECISION is hash-gated, not just the telemetry
  query("q114_ivf_advisor", layouts = Seq(Layouts.q111Ivf), oracle = q114OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Layouts.q111Ivf(s, d)
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#vbatch0")
    val n = Similarity.ensureCorpusStats(corpus, s"$d#q111")
    Similarity.ivfRebuildAdvice(s, path, corpusN = n)
  }

  /** The rebuild ACT: [[graft.operators.Similarity.rebuildIvfIndex]]
    * regenerates the layout FROM THE MAINTAINED INDEX ITSELF (re-seeded
    * centroids from the union, C re-derived from the union count,
    * fold small-files compacted for free), then probes it. The oracle
    * is q51's fresh-build probe over the raw table VERBATIM — green
    * means rebuild-from-index ≡ build-from-source, closing the index
    * lifecycle: build (q51) → fold (q111) → monitor (q113/q114) →
    * rebuild (q115).
    */
  // rebuild-from-index ≡ build-from-source: q51's fresh-build probe
  // over the raw table, verbatim
  query("q115_ivf_rebuild", layouts = Seq(Layouts.q111Ivf), oracle = q51OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Layouts.q111Ivf(s, d)
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#vbatch0")
    val rebuilt = Similarity.rebuildIvfIndex(s, path, s"$path-rebuilt")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfProbe(s, rebuilt, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** Product-quantization encoding ([[graft.operators.Similarity
    * .pqEncode]]): every embedding compressed to 4 codeword ids (4
    * subspaces × 16-entry codebooks over the fixed-point quantization,
    * exact integer squared-L2 assignment). The oracle replays the
    * slicing, seeding and argmin in DuckDB — codes are deterministic
    * integers, so the whole compressed corpus is hash-gated.
    */
  query("q116_pq_codes", oracle = q116OracleSql) { (s, d) =>
    Similarity.pqEncode(t(s, d, "embeddings"))
  }

  /** Asymmetric-distance top-k over the PQ codes ([[graft.operators
    * .Similarity.pqAdcTopK]]): the query keeps exact subvectors, each
    * corpus vector is m table lookups — the scan reads CODES, never
    * vectors. All-BIGINT distances, ties by vec_id.
    */
  query("q117_pq_adc", oracle = q117OracleSql) { (s, d) =>
    Similarity.pqAdcTopK(t(s, d, "embeddings"), queryId = 0L, k = 10)
  }

  /** The COMPOSED serving layout ([[graft.operators.Similarity
    * .ensureIvfPqIndex]]): IVF partition pruning over cells that store
    * PQ CODES instead of vectors — a probe is the q51 centroid ranking
    * plus a map-only ADC expression (m inlined-literal table lookups
    * per row) over nProbe pruned partitions of ~2-byte payloads. The
    * standard 100 TB ANN design; oracle replays cell membership, code
    * assignment and the lookup-table sum end to end.
    */
  // cell membership (q51's IVF chain) x code assignment (the PQ
  // chain) x the ADC lookup-table sum, composed end to end
  query("q118_ivfpq", layouts = Seq(Layouts.q118IvfPq), oracle = q118OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val (path, _) = Layouts.q118IvfPq(s, d)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfPqProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** IVF-PQ with exact re-rank ([[graft.operators.Similarity
    * .ivfPqProbeRerank]]): the compressed index nominates the ADC
    * top-100, whose exact vectors are point-looked-up from the source
    * (an `IN`-pushdown scan of ≤100 rows) and re-ranked by the
    * portable cosine — the recipe that buys PQ's footprint without
    * surrendering exactness on the final k.
    */
  // ADC top-100 candidates re-ranked by the exact portable cosine
  query("q119_ivfpq_rerank", layouts = Seq(Layouts.q118IvfPq), oracle = q119OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val (path, _) = Layouts.q118IvfPq(s, d)
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfPqProbeRerank(s, path, emb, q, k = 10, kAdc = 100,
      nProbe = 4, exclude = Some(0L))
  }

  /** The MAINTAINED IVF-PQ index (q111's closed loop for the composed
    * layout): build on the standing corpus, fold the held-out batch
    * ([[graft.operators.Similarity.foldIntoIvfPqIndex]] — encoded
    * against the STANDING codebooks and centroids, O(batch) appended
    * code rows, corpus cells untouched, idempotent per batch tag),
    * probe with a batch vector's embedding. The oracle re-derives
    * books, centroids and every code from scratch with corpus-only
    * seeding over the union — fold ≡ rebuild for the compressed
    * serving tier.
    */
  // maintained composed index ≡ from-scratch corpus-seeded rebuild
  // over the union — fold ≡ rebuild for the compressed serving tier
  query("q120_ivfpq_fold", layouts = Seq(Layouts.q120IvfPq), oracle = q120OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Layouts.q120IvfPq(s, d)
    Similarity.foldIntoIvfPqIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#pqb0")
    val q = emb.filter(col("vec_id") === 0).select("embedding")
      .collect().head.getSeq[Float](0)
    Similarity.ivfPqProbe(s, path, q, k = 10, nProbe = 4, exclude = Some(0L))
  }

  /** Batched serving over the COMPRESSED index ([[graft.operators
    * .Similarity.ivfPqProbeBatch]]): five queries answered by ONE
    * partition-pruned scan of code rows — distributed centroid
    * ranking, a broadcast (query_id, sub, code, dist) lookup-table
    * frame, map-side ADC aggregation, per-query top-k window. q107's
    * serving-throughput shape at PQ footprint.
    */
  // q107's batched-serving shape at PQ footprint: per-query probes x
  // the per-query ADC lookup-table sum
  query("q122_ivfpq_batch", layouts = Seq(Layouts.q118IvfPq), oracle = q122OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val (path, _) = Layouts.q118IvfPq(s, d)
    val qs = emb.filter(col("vec_id") < 5).select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq.sortBy(_._1)
    Similarity.ivfPqProbeBatch(s, path, qs, k = 5, nProbe = 4)
      .orderBy("query_id", "rk")
  }

  /** DELETION from the maintained IVF index
    * ([[graft.operators.Similarity.deleteFromIvfIndex]]): build on the
    * standing corpus, fold the held-out batch (the q111 loop), then
    * tombstone-DELETE half the folded batch (vec_id ≡ 10 mod 20) and
    * emit the per-cell LIVE occupancy. The oracle re-derives the
    * counts from a from-scratch assignment of (corpus ∪ batch) minus
    * the deleted slice to the corpus-seeded centroids — every count
    * shifts if a delete is dropped or over-applied, so the gate pins
    * the tombstone-filtered view exactly (probe parity and the
    * compaction purge are pinned by SimilaritySpec).
    */
  query("q126_ivf_delete", layouts = Seq(Layouts.q126Ivf), oracle = q126OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Layouts.q126Ivf(s, d)
    Similarity.foldIntoIvfIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#db0")
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 20 === 10).select("vec_id"),
      path, delTag = s"$d#del0")
    Similarity.ivfCellStats(s, path)
  }

  /** DELETION from the maintained IVF-PQ index (the q126 contract for
    * the COMPRESSED tier): build on the corpus, fold the batch
    * (encoded against standing books/centroids), tombstone-delete half
    * the batch, and emit the ENTIRE live index content — (vec_id,
    * cell, all m codes) per surviving vector. The oracle re-derives
    * books, centroids, cell membership and every code from scratch
    * with corpus-only seeding over the remainder, so one hash gates
    * the full compressed-index state under maintenance.
    */
  query("q127_ivfpq_delete", layouts = Seq(Layouts.q127IvfPq), oracle = q127OracleSql) { (s, d) =>
    val emb       = t(s, d, "embeddings")
    val corpus    = emb.filter(col("vec_id") % 10 =!= 0)
    val (path, _) = Layouts.q127IvfPq(s, d)
    Similarity.foldIntoIvfPqIndex(emb.filter(col("vec_id") % 10 === 0),
      path, batchTag = s"$d#pqd0")
    Similarity.deleteFromIvfIndex(
      emb.filter(col("vec_id") % 20 === 10).select("vec_id"),
      path, delTag = s"$d#del0")
    Similarity.liveCells(s, path)
      .select(col("vec_id"), col("cent_id").cast("long").as("cent_id"),
        col("codes").getItem(0).as("c0"), col("codes").getItem(1).as("c1"),
        col("codes").getItem(2).as("c2"), col("codes").getItem(3).as("c3"))
      .orderBy("vec_id")
  }

  // Probe shapes (ShuffleProbe, Explain; never gated): the IVF-fold
  // twins (q111's scale claim) — the fold's distributed work for the
  // full 10% vector batch vs a tenth of it, against the SAME standing
  // corpus index: shuffle must track |batch| and the corpus cells must
  // never ride an exchange
  probe("p03_ivf_fold_uncapped") { (s, d) =>
    val emb = t(s, d, "embeddings")
    val (path, _) = Similarity.ensureIvfIndex(
      emb.filter(col("vec_id") % 10 =!= 0), srcTag = s"$d#p03")
    Similarity.foldAssignment(emb.filter(col("vec_id") % 10 === 0), path)
  }

  probe("p04_ivf_fold_tenthbatch") { (s, d) =>
    val emb = t(s, d, "embeddings")
    val (path, _) = Similarity.ensureIvfIndex(
      emb.filter(col("vec_id") % 10 =!= 0), srcTag = s"$d#p03")
    Similarity.foldAssignment(emb.filter(col("vec_id") % 100 === 0), path)
  }

  // the IVF-PQ fold's distributed half (q120/q121 run it inside a
  // write): standing-centroid assignment AND standing-book PQ
  // encoding fused into one map-only projection — zero exchanges
  probe("p05_ivfpq_fold_encode") { (s, d) =>
    val emb = t(s, d, "embeddings")
    val (path, _) = Similarity.ensureIvfPqIndex(
      emb.filter(col("vec_id") % 10 =!= 0), srcTag = s"$d#p05")
    Similarity.pqFoldEncoding(emb.filter(col("vec_id") % 10 === 0), path)
  }
}
