package graft.graph

import org.apache.spark.sql.functions.{col, lit, round, sum}

import graft.Q
import graft.gen.RMat

/** Oracle-checked graph capabilities. The edge table is derived
  * deterministically from lineitem (vertices = keys mod 1000) so DuckDB can
  * replay the exact same graph; see GraphOps.edgesFromLineitem. */
object GraphQueries {

  /** Golden pagerank digraph: 8 vertices, every out-degree a power of two
    * (1, 2 or 4) and alpha = 0.5, so every rank stays an exact dyadic
    * rational — addition order cannot perturb a single bit, and DuckDB
    * replaying the same damped updates matches bitwise. Vertex 6 is
    * dangling, exercising the dangling-mass redistribution path of
    * `oinkdoc/pagerank.txt`. */
  val prGoldenEdges: Seq[(Long, Long)] = Seq(
    (0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L), (2L, 3L), (2L, 4L), (2L, 5L),
    (3L, 4L), (3L, 5L), (4L, 6L), (5L, 6L), (5L, 7L), (7L, 0L))

  /** Golden Luby graph: 16-cycle plus (i, i+4) chords — enough structure
    * that the MIS is non-trivial but small enough to hand-replay. With a
    * fixed seed the hashed priorities make the MIS fully deterministic
    * (Luby with strictly-minimal priorities ≡ sequential greedy by
    * priority order; GraphSpec cross-checks that equivalence). */
  val lubyGoldenEdges: Seq[(Long, Long)] =
    (0L until 16L).map(i => (i, (i + 1) % 16)) ++
      (0L until 8L).map(i => (i, i + 4))

  val lubyGoldenSeed = 7L

  /** DuckDB replay of [[Iterative.pagerank]] on the golden graph: `iters`
    * damped iterations unrolled as chained CTEs (r0 → r`iters`), each the
    * exact formula of the Spark loop. All literals are dyadic and cast to
    * DOUBLE so both engines compute identical bits. */
  private def pagerankGoldenSql(iters: Int): String = {
    val vals = prGoldenEdges.map { case (a, b) => s"($a, $b)" }.mkString(", ")
    val steps = (1 to iters).map { k =>
      s"""r$k AS (
         SELECT verts.v,
                CAST(0.0625 AS DOUBLE) + CAST(0.5 AS DOUBLE) *
                  (coalesce(c.s, CAST(0.0 AS DOUBLE)) + d.m / CAST(8.0 AS DOUBLE))
                  AS "rank"
         FROM verts
         LEFT JOIN (SELECT w.dst AS v, sum(r."rank" * w.w) AS s
                    FROM r${k - 1} r JOIN w ON w.src = r.v GROUP BY w.dst) c
           ON c.v = verts.v
         CROSS JOIN (SELECT coalesce(sum("rank"), CAST(0.0 AS DOUBLE)) AS m
                     FROM r${k - 1}
                     WHERE v NOT IN (SELECT src FROM g)) d)"""
    }.mkString(",\n")
    s"""WITH g(src, dst) AS (VALUES $vals),
        verts AS (SELECT DISTINCT v FROM
          (SELECT src AS v FROM g UNION ALL SELECT dst FROM g)),
        w AS (SELECT src, dst,
                     CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY src) AS w
              FROM g),
        r0 AS (SELECT v, CAST(0.125 AS DOUBLE) AS "rank" FROM verts),
        $steps
        SELECT CAST(v AS BIGINT) AS v, "rank" FROM r$iters"""
  }

  /** DuckDB replay of [[Iterative.pagerank]] over the lineitem-derived
    * graph: `iters` damped iterations unrolled as chained CTEs — the same
    * unroll as [[pagerankGoldenSql]] but over a data-derived graph at
    * alpha = 0.85, where accumulation order costs ~1e-15 relative noise,
    * absorbed by rounding both engines to 6dp. Every step CTE is
    * MATERIALIZED: each r_k references r_{k-1} twice, and DuckDB's
    * default CTE inlining would make the plan tree 2^iters. */
  private def pagerankLineitemSql(iters: Int): String = {
    val steps = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         SELECT verts.v,
                (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
                  + CAST(0.85 AS DOUBLE) *
                    (coalesce(c.s, CAST(0.0 AS DOUBLE)) + d.m / nn.n)
                  AS "rank"
         FROM verts
         CROSS JOIN nn
         LEFT JOIN (SELECT w.dst AS v, sum(r."rank" * w.w) AS s
                    FROM r${k - 1} r JOIN w ON w.src = r.v GROUP BY w.dst) c
           ON c.v = verts.v
         CROSS JOIN (SELECT coalesce(sum("rank"), CAST(0.0 AS DOUBLE)) AS m
                     FROM r${k - 1}
                     WHERE v NOT IN (SELECT src FROM g)) d)"""
    }.mkString(",\n")
    s"""WITH $e,
        g AS MATERIALIZED (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        verts AS MATERIALIZED (SELECT DISTINCT v FROM
          (SELECT src AS v FROM g UNION ALL SELECT dst FROM g)),
        nn AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
        w AS MATERIALIZED (SELECT src, dst,
                     CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY src) AS w
              FROM g),
        r0 AS MATERIALIZED (SELECT v, CAST(1.0 AS DOUBLE) / nn.n AS "rank"
               FROM verts CROSS JOIN nn),
        $steps
        SELECT v, round("rank", 6) AS "rank" FROM r$iters"""
  }

  /** DuckDB replay of [[Iterative.maximalMatching]] on the sparse
    * graph: `rounds` nomination rounds unrolled (per round each vertex's
    * minimum (prio, src, dst) incident edge via row_number; edges chosen
    * at BOTH endpoints match; matched endpoints deactivate). Matching
    * growth is monotone and the globally minimal edge always matches, so
    * rounds ≥ the convergence depth (probed: 3 at sf0.01; 6 gives
    * margin) land on the identical set. */
  private def matchingSql(seed: Long, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""b$i AS MATERIALIZED (
            SELECT v, src, dst FROM (
              SELECT v, src, dst,
                     row_number() OVER (PARTITION BY v
                       ORDER BY prio, src, dst) AS rn
              FROM (SELECT src AS v, prio, src, dst FROM a${i - 1}
                    UNION ALL SELECT dst, prio, src, dst FROM a${i - 1}))
            WHERE rn = 1),
          m$i AS MATERIALIZED (
            SELECT a.src, a.dst FROM a${i - 1} a
            JOIN b$i bs ON bs.v = a.src AND bs.src = a.src AND bs.dst = a.dst
            JOIN b$i bd ON bd.v = a.dst AND bd.src = a.src AND bd.dst = a.dst),
          mv$i AS (SELECT src AS v FROM m$i UNION SELECT dst FROM m$i),
          a$i AS MATERIALIZED (
            SELECT src, dst, prio FROM a${i - 1}
            WHERE src NOT IN (SELECT v FROM mv$i)
              AND dst NOT IN (SELECT v FROM mv$i))"""
    }.mkString(",\n")
    s"""WITH $se,
        $su,
        a0 AS MATERIALIZED (
          SELECT src, dst,
                 (((src % 1000000007) * 100003 + dst) % 1000000007
                   * 2654435761 + ${seed * 40503L}) % 1000000007 AS prio
          FROM u),
        $steps
        SELECT src, dst FROM (${
      (1 to rounds).map(i => s"SELECT src, dst FROM m$i").mkString(
        " UNION ALL ")})"""
  }

  /** DuckDB replay of [[Triangles.kTruss]] on the mid-density graph:
    * `rounds` synchronous peel rounds unrolled (each recomputes triangle
    * support on the surviving canonical edges and keeps support ≥ k−2),
    * then the final support on the converged set. Peeling is monotone,
    * so any `rounds` ≥ the convergence depth lands on the identical
    * fixpoint — the q_kcore oracle discipline (probed: 2 rounds at
    * sf0.01/sf0.001 for k=3; 4 gives margin). On canonical src < dst
    * edges each triangle (a<b<c) enumerates exactly once as
    * (t1=(a,b), t2=(b,c), t3=(a,c)). */
  private def kTrussSql(k: Int, rounds: Int): String = {
    def triSup(i: Int): String =
      s"""tri$i AS MATERIALIZED (
            SELECT t1.src AS a, t1.dst AS b, t2.dst AS c
            FROM u${i - 1} t1
            JOIN u${i - 1} t2 ON t1.dst = t2.src
            JOIN u${i - 1} t3 ON t1.src = t3.src AND t2.dst = t3.dst),
          sup$i AS MATERIALIZED (
            SELECT src, dst, CAST(count(*) AS BIGINT) AS s FROM (
              SELECT a AS src, b AS dst FROM tri$i
              UNION ALL SELECT b, c FROM tri$i
              UNION ALL SELECT a, c FROM tri$i)
            GROUP BY 1, 2)"""
    val steps = (1 to rounds).map { i =>
      s"""${triSup(i)},
          u$i AS MATERIALIZED (
            SELECT u.src, u.dst FROM u${i - 1} u
            JOIN sup$i s ON u.src = s.src AND u.dst = s.dst
              AND s.s >= ${k - 2})"""
    }.mkString(",\n")
    s"""WITH $me,
        $su,
        u0 AS MATERIALIZED (SELECT src, dst FROM u),
        $steps,
        ${triSup(rounds + 1)}
        SELECT u.src, u.dst, coalesce(s.s, CAST(0 AS BIGINT)) AS support
        FROM u$rounds u
        LEFT JOIN sup${rounds + 1} s ON u.src = s.src AND u.dst = s.dst"""
  }

  /** DuckDB replay of [[Iterative.personalizedPagerank]] on the mod-1000
    * lineitem graph: same unrolled chain as [[pagerankLineitemSql]], but
    * teleport + dangling mass return to the source set only. The CASE
    * mirrors the per-vertex rank arithmetic of the Spark rounds term for
    * term; contribution sums and the dangling mass (1 − Σcontrib there, a
    * sum of dangling ranks here) differ only in accumulation order, ~1e-15
    * noise absorbed by the shared 6dp rounding, as in q_pagerank. */
  private def pprLineitemSql(iters: Int, sources: Seq[Long]): String = {
    val sList = sources.mkString(", ")
    val sN = s"CAST(${sources.size}.0 AS DOUBLE)"
    val steps = (1 to iters).map { k =>
      s"""r$k AS MATERIALIZED (
         SELECT verts.v,
                CASE WHEN verts.v IN ($sList)
                  THEN (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / $sN
                       + CAST(0.85 AS DOUBLE) * d.m / $sN
                  ELSE CAST(0.0 AS DOUBLE) END
                + CAST(0.85 AS DOUBLE) * coalesce(c.s, CAST(0.0 AS DOUBLE))
                  AS "rank"
         FROM verts
         LEFT JOIN (SELECT w.dst AS v, sum(r."rank" * w.w) AS s
                    FROM r${k - 1} r JOIN w ON w.src = r.v GROUP BY w.dst) c
           ON c.v = verts.v
         CROSS JOIN (SELECT coalesce(sum("rank"), CAST(0.0 AS DOUBLE)) AS m
                     FROM r${k - 1}
                     WHERE v NOT IN (SELECT src FROM g)) d)"""
    }.mkString(",\n")
    s"""WITH $e,
        g AS MATERIALIZED (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
        verts AS MATERIALIZED (SELECT DISTINCT v FROM
          (SELECT src AS v FROM g UNION ALL SELECT dst FROM g)),
        w AS MATERIALIZED (SELECT src, dst,
                     CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY src) AS w
              FROM g),
        r0 AS MATERIALIZED (SELECT v,
               CASE WHEN v IN ($sList) THEN CAST(1.0 AS DOUBLE) / $sN
                    ELSE CAST(0.0 AS DOUBLE) END AS "rank"
               FROM verts),
        $steps
        SELECT v, round("rank", 6) AS "rank" FROM r$iters"""
  }

  /** Shared CTE prefix: directed edges + canonical undirected edges. */
  private val e =
    "e AS (SELECT l_orderkey % 1000 AS src, l_partkey % 1000 AS dst FROM lineitem)"
  private val u =
    """u AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
            FROM e WHERE src <> dst)"""

  /** Sparse variant (see GraphOps.sparseEdgesFromLineitem). */
  private val se =
    """e AS (SELECT l_orderkey % 10000 AS src, l_partkey % 10000 AS dst
            FROM lineitem WHERE l_quantity <= 2)"""

  /** Mid-density variant (see GraphOps.midEdgesFromLineitem). */
  private val me =
    """e AS (SELECT l_orderkey % 2000 AS src, l_partkey % 2000 AS dst
            FROM lineitem WHERE l_quantity <= 5)"""
  private val su =
    """u AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
            FROM e WHERE src <> dst)"""

  /** DuckDB replay of [[Iterative.lubyMis]] over the sparse
    * lineitem-derived graph: `rounds` Luby rounds unrolled as chained
    * CTEs. Each round k: winners w_k = active vertices whose (prio, v) is
    * strictly minimal over their active neighborhood; the next active set
    * a_{k+1} drops winners and their neighbors. Priorities are the
    * portable mixer of [[Iterative.lubyPriority]] — pure int64 arithmetic
    * both engines compute identically. Every CTE is MATERIALIZED (each is
    * referenced more than once; default inlining would blow up the plan —
    * the pagerank lesson). */
  private def lubySql(rounds: Int, seed: Long): String = {
    val steps = (0 until rounds).map { k =>
      s"""w$k AS MATERIALIZED (
         SELECT t.v FROM a$k t WHERE NOT EXISTS (
           SELECT 1 FROM adj JOIN a$k n ON adj.nbr = n.v
           WHERE adj.v = t.v
             AND (n.prio < t.prio OR (n.prio = t.prio AND n.v < t.v)))),
         a${k + 1} AS MATERIALIZED (
         SELECT a.v, a.prio FROM a$k a
         WHERE a.v NOT IN (SELECT v FROM w$k)
           AND a.v NOT IN (SELECT adj.v FROM adj JOIN w$k ON adj.nbr = w$k.v))"""
    }.mkString(",\n")
    val un = (0 until rounds).map(k => s"SELECT v FROM w$k").mkString(" UNION ALL ")
    s"""WITH $se, $su,
        adj AS MATERIALIZED (SELECT src AS v, dst AS nbr FROM u
                             UNION ALL SELECT dst, src FROM u),
        a0 AS MATERIALIZED (
          SELECT v, ((v % 1000000007) * 2654435761 + ${seed * 40503L}) % 1000000007 AS prio
          FROM (SELECT DISTINCT v FROM adj)),
        $steps
        $un"""
  }

  /** DuckDB replay of [[Iterative.ssspMulti]]: `rounds` Bellman-Ford
    * rounds unrolled as chained CTEs, all sources carried side by side in
    * one (source, v, dist) table — d_k = min over {d_{k-1}} ∪ {d_{k-1}(u)
    * + w(u,v)}. Bitwise-equal to the frontier formulation: frontier
    * pruning only drops candidates that already lost an earlier min, and
    * every path sum accumulates left-to-right identically in both
    * engines. 20 rounds vs 17 max observed shortest-path hops through
    * sf0.1 — under-unrolling shows up as distance mismatches, never a
    * silent pass, because Spark runs to fixpoint. */
  private def ssspMultiSql(rounds: Int, nSources: Int): String = {
    val steps = (1 to rounds).map { k =>
      s"""d$k AS MATERIALIZED (
         SELECT source, v, min(dist) AS dist FROM (
           SELECT source, v, dist FROM d${k - 1}
           UNION ALL
           SELECT d.source, w.dst AS v, d.dist + w.w AS dist
           FROM d${k - 1} d JOIN w ON w.src = d.v)
         GROUP BY source, v)"""
    }.mkString(",\n")
    s"""WITH $se,
        e2 AS (SELECT src, dst FROM e WHERE src <> dst),
        sym AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
          SELECT src, dst FROM e2 UNION ALL SELECT dst, src FROM e2)),
        w AS MATERIALIZED (SELECT src, dst,
               CAST(1.0 AS DOUBLE)
                 + ((src * 31 + dst) % 100) / CAST(100.0 AS DOUBLE) AS w
             FROM sym),
        srcs AS (SELECT src AS v FROM sym GROUP BY src
                 ORDER BY count(*) DESC, src ASC LIMIT $nSources),
        d0 AS MATERIALIZED (
          SELECT v AS source, v, CAST(0.0 AS DOUBLE) AS dist FROM srcs),
        $steps
        SELECT source, v, dist FROM d$rounds"""
  }

  /** DuckDB replay of [[Iterative.kCore]]: `rounds` peel rounds unrolled
    * as chained CTEs. Peeling is idempotent at fixpoint, so any round
    * budget ≥ the convergence depth is EXACT (measured depth 7 at sf0.01
    * for k=4 on the mid graph; 10 leaves margin). NOTE the sf coupling:
    * peel depth grows with graph density, so running this oracle at a
    * LARGER scale factor can exceed the 10-round budget — the mismatch
    * fails LOUD (Spark runs to fixpoint, the oracle stops early, rows
    * differ), never silently; raise `rounds` in the q_kcore registration
    * when moving the verify sf (the ssspMulti 20-vs-17 margin-note
    * pattern). The per-round CTEs are
    * MATERIALIZED: DuckDB inlines plain CTEs at every reference, and with
    * each round referencing the previous ~3×, inlining re-scans the
    * parquet 3^rounds times (observed as fd exhaustion at 10 rounds). */
  private def kCoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""k$i AS MATERIALIZED (
            SELECT v FROM g${i - 1} GROUP BY v HAVING count(*) >= $k),
          g$i AS MATERIALIZED (
            SELECT g.v, g.nbr FROM g${i - 1} g
            JOIN k$i x ON g.v = x.v JOIN k$i y ON g.nbr = y.v)"""
    }.mkString(",\n")
    s"""WITH $me,
        $su,
        g0 AS MATERIALIZED (
          SELECT src AS v, dst AS nbr FROM u
          UNION ALL SELECT dst AS v, src AS nbr FROM u),
        $steps
        SELECT v, CAST(count(*) AS BIGINT) AS deg
        FROM g$rounds GROUP BY v"""
  }

  /** DuckDB replay of [[Iterative.labelPropagation]]: `rounds` synchronous
    * LPA rounds unrolled (argmax per vertex = row_number over (cnt DESC,
    * label) — the same winner as Spark's min(struct(-cnt, label))).
    * MATERIALIZED for the same inlining reason as [[kCoreSql]]. */
  private def labelPropSql(rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""c$i AS MATERIALIZED (
            SELECT g.v, l.label, count(*) AS cnt
            FROM g0 g JOIN l${i - 1} l ON g.nbr = l.v
            GROUP BY 1, 2),
          l$i AS MATERIALIZED (
            SELECT v, label FROM (
              SELECT v, label, row_number() OVER (PARTITION BY v
                ORDER BY cnt DESC, label) AS rn
              FROM c$i) WHERE rn = 1)"""
    }.mkString(",\n")
    s"""WITH $se,
        $su,
        g0 AS MATERIALIZED (
          SELECT src AS v, dst AS nbr FROM u
          UNION ALL SELECT dst AS v, src AS nbr FROM u),
        l0 AS MATERIALIZED (
          SELECT DISTINCT v, v AS label FROM g0),
        $steps
        SELECT v, label FROM l$rounds"""
  }

  val all: Seq[Q] = Seq(

    // label-propagation communities over the sparse graph, 3 fixed
    // synchronous rounds (LPA can 2-cycle, so a fixed budget IS the
    // operator's spec — and what the oracle unrolls)
    Q("q_label_prop",
      (s, d) => Iterative.labelPropagation(
        GraphOps.sparseEdgesFromLineitem(s, d), rounds = 3),
      Some(labelPropSql(3))),

    // k-core decomposition at k=4 over the mid-density graph: iterative
    // peeling to fixpoint, oracle-unrolled (rounds are idempotent past
    // convergence)
    Q("q_kcore",
      (s, d) => Iterative.kCore(GraphOps.midEdgesFromLineitem(s, d), k = 4),
      Some(kCoreSql(4, 10))),

    Q("q_edge_upper",
      (s, d) => GraphOps.edgeUpper(GraphOps.edgesFromLineitem(s, d)),
      Some(s"WITH $e, $u SELECT src, dst FROM u")),

    Q("q_vertex_extract",
      (s, d) => GraphOps.vertexExtract(GraphOps.edgesFromLineitem(s, d)),
      Some(s"""WITH $e
               SELECT DISTINCT v FROM (
                 SELECT src AS v FROM e UNION ALL SELECT dst AS v FROM e)""")),

    Q("q_degree",
      (s, d) => GraphOps.degree(GraphOps.edgeUpper(GraphOps.edgesFromLineitem(s, d))),
      Some(s"""WITH $e, $u
               SELECT v, count(*) AS degree FROM (
                 SELECT src AS v FROM u UNION ALL SELECT dst AS v FROM u)
               GROUP BY v""")),

    Q("q_degree_stats",
      (s, d) => GraphOps.degreeStats(GraphOps.edgeUpper(GraphOps.edgesFromLineitem(s, d))),
      Some(s"""WITH $e, $u, dgr AS (
                 SELECT v, count(*) AS degree FROM (
                   SELECT src AS v FROM u UNION ALL SELECT dst AS v FROM u)
                 GROUP BY v)
               SELECT degree, count(*) AS n_vertices FROM dgr GROUP BY degree""")),

    Q("q_degree_weight",
      (s, d) => GraphOps.degreeWeight(
        GraphOps.edgesFromLineitem(s, d).filter("src <> dst").distinct()),
      Some(s"""WITH $e, e2 AS (SELECT DISTINCT src, dst FROM e WHERE src <> dst),
               dgr AS (SELECT src, count(*) AS outdeg FROM e2 GROUP BY src)
               SELECT e2.src, e2.dst, round(1.0 / outdeg, 6) AS w
               FROM e2 JOIN dgr USING (src)""")),

    Q("q_neighbor",
      (s, d) => GraphOps.neighbor(GraphOps.edgeUpper(GraphOps.edgesFromLineitem(s, d))),
      Some(s"""WITH $e, $u, adj AS (
                 SELECT src AS v, dst AS nbr FROM u
                 UNION ALL SELECT dst AS v, src AS nbr FROM u)
               SELECT v, count(*) AS n_nbrs,
                      string_agg(CAST(nbr AS VARCHAR), ',' ORDER BY nbr) AS nbrs
               FROM adj GROUP BY v""")),

    // histo over component-sized keys: orders-per-week histogram shape on
    // the graph side — frequency of vertex frequencies in the raw edges
    Q("q_graph_histo",
      (s, d) => GraphOps.histo(
        GraphOps.edgesFromLineitem(s, d).selectExpr("src AS v"), "v"),
      Some(s"""WITH $e, freq AS (SELECT src AS v, count(*) AS n FROM e GROUP BY src)
               SELECT n, count(*) AS n_keys FROM freq GROUP BY n""")),

    // tri_find (`oink/tri_find.cpp`): triangle count, low-degree-wedge
    // oriented; DuckDB replays with an id-ordered 3-way self-join. The
    // vertex-space modulus scales with row count (constant density).
    Q("q_triangle_count",
      (s, d) => Triangles.triangleCount(GraphOps.scaledEdgesFromLineitem(s, d)),
      Some("""WITH mm AS (SELECT greatest(count(*) // 60, 1) AS m FROM lineitem),
              e AS (SELECT l_orderkey % m AS src, l_partkey % m AS dst
                    FROM lineitem, mm),
              u AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
                    FROM e WHERE src <> dst)
              SELECT count(*) AS n_triangles
              FROM u t1
              JOIN u t2 ON t1.dst = t2.src
              JOIN u t3 ON t1.src = t3.src AND t2.dst = t3.dst""")),

    // neigh_tri (`oink/neigh_tri.cpp`): per-vertex neighbors + triangles
    Q("q_neigh_tri",
      (s, d) => Triangles.neighTri(GraphOps.scaledEdgesFromLineitem(s, d)),
      Some("""WITH mm AS (SELECT greatest(count(*) // 60, 1) AS m FROM lineitem),
              e AS (SELECT l_orderkey % m AS src, l_partkey % m AS dst
                    FROM lineitem, mm),
              u AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
                    FROM e WHERE src <> dst),
              tri AS (SELECT t1.src AS a, t1.dst AS b, t2.dst AS c
                      FROM u t1
                      JOIN u t2 ON t1.dst = t2.src
                      JOIN u t3 ON t1.src = t3.src AND t2.dst = t3.dst),
              tv AS (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri),
              tc AS (SELECT v, count(*) AS n_triangles FROM tv GROUP BY v),
              deg AS (SELECT v, count(*) AS n_nbrs FROM (
                        SELECT src AS v FROM u UNION ALL SELECT dst AS v FROM u)
                      GROUP BY v)
              SELECT deg.v, n_nbrs, coalesce(n_triangles, 0) AS n_triangles
              FROM deg LEFT JOIN tc ON deg.v = tc.v""")),

    // neigh_tri full fidelity (`oink/neigh_tri.cpp:124-160`): the actual
    // per-vertex edge lists — first-neighbor edges plus each triangle's
    // opposite edge — not just counts; edges canonicalized ea <= eb. Runs
    // on the mid-density graph: edge lists are per-vertex OUTPUT (unlike
    // the count summaries), so the harness graph keeps the materialized
    // result bounded while still containing triangles at every sf; the
    // operator itself is graph-agnostic.
    Q("q_neigh_tri_edges",
      (s, d) => Triangles.neighTriEdges(GraphOps.midEdgesFromLineitem(s, d)),
      Some(s"""WITH $me, $su,
              tri AS (SELECT t1.src AS a, t1.dst AS b, t2.dst AS c
                      FROM u t1
                      JOIN u t2 ON t1.dst = t2.src
                      JOIN u t3 ON t1.src = t3.src AND t2.dst = t3.dst)
              SELECT src AS v, src AS ea, dst AS eb FROM u
              UNION ALL SELECT dst, src, dst FROM u
              UNION ALL SELECT a, least(b, c), greatest(b, c) FROM tri
              UNION ALL SELECT b, least(a, c), greatest(a, c) FROM tri
              UNION ALL SELECT c, least(a, b), greatest(a, b) FROM tri""")),

    // cc_find (`oink/cc_find.cpp`): component label = min vertex id;
    // DuckDB replays via recursive transitive closure on the sparse graph
    Q("q_cc_labels",
      (s, d) => Iterative.ccFind(GraphOps.sparseEdgesFromLineitem(s, d)),
      Some(s"""WITH RECURSIVE $se, $su,
               adj AS (SELECT src AS v, dst AS nbr FROM u
                       UNION ALL SELECT dst, src FROM u),
               reach(v, r) AS (
                 SELECT v, v FROM (SELECT DISTINCT v FROM adj)
                 UNION
                 SELECT adj.v, reach.r FROM adj JOIN reach ON adj.nbr = reach.v)
               SELECT v, min(r) AS label FROM reach GROUP BY v""")),

    // cc_stats (`oink/cc_stats.cpp`): #components per size
    Q("q_cc_stats",
      (s, d) => Iterative.ccStats(Iterative.ccFind(GraphOps.sparseEdgesFromLineitem(s, d))),
      Some(s"""WITH RECURSIVE $se, $su,
               adj AS (SELECT src AS v, dst AS nbr FROM u
                       UNION ALL SELECT dst, src FROM u),
               reach(v, r) AS (
                 SELECT v, v FROM (SELECT DISTINCT v FROM adj)
                 UNION
                 SELECT adj.v, reach.r FROM adj JOIN reach ON adj.nbr = reach.v),
               labels AS (SELECT v, min(r) AS label FROM reach GROUP BY v),
               sizes AS (SELECT label, count(*) AS csize FROM labels GROUP BY label)
               SELECT csize, count(*) AS n_components FROM sizes GROUP BY csize""")),

    // luby_find (`oink/luby_find.cpp`): maximal independent set on the
    // real sparse graph — oracle-checked since round 4: priorities come
    // from the portable integer mixer (Iterative.lubyPriority), so DuckDB
    // replays the EXACT per-round winner rule as unrolled CTE rounds
    // (8 unrolled vs ≤4 observed through sf0.1 — under-unrolling surfaces
    // as missing rows, never a silent pass, because Spark runs to
    // fixpoint). GraphSpec independently proves Luby ≡ sequential greedy
    // by (prio, v).
    Q("q_luby_mis",
      (s, d) => Iterative.lubyMis(GraphOps.sparseEdgesFromLineitem(s, d)),
      Some(lubySql(rounds = 8, seed = 12345L))),

    // luby_find on a fixed golden graph with a fixed seed: the mixer
    // priorities make the MIS fully deterministic, so the expected vertex
    // set is a VALUES oracle (the q_rmat_count precedent). GraphSpec
    // independently cross-checks the set against a sequential greedy MIS
    // over the same priorities. (Re-derived in round 4 when priorities
    // moved from xxhash64 to the portable mixer.)
    Q("q_luby_golden",
      (s, d) => {
        import s.implicits._
        Iterative.lubyMis(lubyGoldenEdges.toDF("src", "dst"),
          seed = lubyGoldenSeed)
      },
      Some("""SELECT CAST(v AS BIGINT) AS v
              FROM (VALUES (0), (2), (5), (8), (11), (14)) t(v)""")),

    // sssp (`oink/sssp.cpp`): shortest paths over deterministic weights.
    // DuckDB replays it by enumerating bounded-depth walks from the same
    // source (the q_sssp_golden technique, viable on the real data because
    // the source's component is small): with positive weights a shortest
    // path is simple, so depth < 8 covers any component up to 9 vertices,
    // and relaxation sums follow the same add order along each path —
    // distances match bitwise.
    Q("q_sssp",
      (s, d) => {
        val e = GraphOps.sparseEdgesFromLineitem(s, d).where("src <> dst")
        val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
        val w = GraphOps.withWeights(sym)
        // deterministic source: highest-degree vertex (min id tiebreak) —
        // lands in the largest component so the frontier actually spreads
        val src0 = sym.groupBy("src").count()
          .orderBy(col("count").desc, col("src").asc).head().getLong(0)
        Iterative.sssp(w, src0)
      },
      Some(s"""WITH RECURSIVE $se,
               e2 AS (SELECT src, dst FROM e WHERE src <> dst),
               sym AS (SELECT DISTINCT src, dst FROM (
                 SELECT src, dst FROM e2
                 UNION ALL SELECT dst AS src, src AS dst FROM e2)),
               w AS (SELECT src, dst,
                       CAST(1.0 AS DOUBLE)
                         + ((src * 31 + dst) % 100) / CAST(100.0 AS DOUBLE) AS w
                     FROM sym),
               s0 AS (SELECT src AS v FROM sym
                      GROUP BY src ORDER BY count(*) DESC, src ASC LIMIT 1),
               walk(v, dist, depth) AS (
                 SELECT v, CAST(0.0 AS DOUBLE), 0 FROM s0
                 UNION ALL
                 SELECT w.dst, walk.dist + w.w, depth + 1
                 FROM walk JOIN w ON w.src = walk.v WHERE depth < 8)
               SELECT v, min(dist) AS dist FROM walk GROUP BY v""")),

    // multi-source sssp (`oink/sssp.cpp:88-160`: ncnt sources run
    // SEQUENTIALLY over the once-aggregated edges; source selection per
    // get_good_sources, deterministically as top-degree). DuckDB replays
    // all three runs as one unrolled Bellman-Ford over (source, v).
    Q("q_sssp_multi",
      (s, d) => {
        val e = GraphOps.sparseEdgesFromLineitem(s, d).where("src <> dst")
        // checkpointed once (r19, guide §1.2 step 1 — don't scan twice):
        // goodSources' collect and ssspMulti's persisted weighted edges
        // both consumed the scan+union+distinct subtree independently;
        // materializing the distinct edge set once halves the derivation
        // (rows unchanged — same edges, same weights, same sources)
        val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
          .distinct().localCheckpoint()
        val w = GraphOps.withWeights(sym)
        val out = Iterative.ssspMulti(w, Iterative.goodSources(sym, 3))
        // sym is dead once ssspMulti returns (every round is its own
        // checkpoint; the persisted edges are already unpersisted) —
        // release its blocks instead of leaking them until GC
        graft.core.Checkpoints.release(sym)
        out
      },
      Some(ssspMultiSql(rounds = 20, nSources = 3))),

    // sssp on a fixed golden graph — upgrades the capability from
    // rows-only to oracle-checked: DuckDB enumerates bounded-depth walks
    // recursively and takes the min; the relaxation sums follow the same
    // add order along each path, so distances match bitwise
    Q("q_sssp_golden",
      (s, d) => {
        import s.implicits._
        val g = Seq(
          (0L, 1L, 1.0), (1L, 2L, 1.0), (0L, 2L, 5.0),
          (2L, 3L, 1.0), (3L, 0L, 1.0), (1L, 4L, 10.0), (3L, 4L, 2.5))
          .toDF("src", "dst", "w")
        Iterative.sssp(g, 0L)
      },
      Some("""WITH RECURSIVE g(src, dst, w) AS (
                SELECT src, dst, CAST(w AS DOUBLE) FROM (
                  VALUES (0, 1, 1.0), (1, 2, 1.0), (0, 2, 5.0),
                         (2, 3, 1.0), (3, 0, 1.0), (1, 4, 10.0), (3, 4, 2.5))
                  t(src, dst, w)),
              walk(v, dist, depth) AS (
                SELECT 0, CAST(0.0 AS DOUBLE), 0
                UNION ALL
                SELECT g.dst, walk.dist + g.w, depth + 1
                FROM walk JOIN g ON g.src = walk.v WHERE depth < 8)
              SELECT CAST(v AS BIGINT) AS v, min(dist) AS dist
              FROM walk GROUP BY v""")),

    // pagerank (completed from the reference's stub) on the full
    // lineitem-derived graph: 5 fixed damped iterations (tol=0 skips the
    // per-round convergence job) so DuckDB can unroll the identical
    // recurrence; both engines round to 6dp, absorbing the ~1e-15
    // accumulation-order noise of alpha=0.85 sums. Upgraded from rows-only
    // in round 3 — all ranks emitted (no top-k cut whose boundary ties
    // could differ pre-rounding). Five rounds exercises the full
    // recurrence (contrib, dangling mass, damping) and is already past
    // where tol=1e-6 converges on this near-regular graph; production
    // callers use the tol-based mode of [[Iterative.pagerank]].
    Q("q_pagerank",
      (s, d) => Iterative.pagerank(GraphOps.edgesFromLineitem(s, d),
        alpha = 0.85, tol = 0.0, maxIter = 5)
        .select(col("v"), round(col("rank"), 6).as("rank")),
      Some(pagerankLineitemSql(5))),

    // pagerank on a fixed golden graph with dyadic-exact arithmetic
    // (alpha=0.5, power-of-two out-degrees, n=8): DuckDB unrolls the same
    // 5 damped iterations and the ranks match bitwise — upgrades pagerank
    // from rows-only to oracle-checked (the q_sssp_golden pattern)
    Q("q_pagerank_golden",
      (s, d) => {
        import s.implicits._
        Iterative.pagerank(prGoldenEdges.toDF("src", "dst"),
          alpha = 0.5, tol = 0.0, maxIter = 5)
      },
      Some(pagerankGoldenSql(5))),

    // connected components via large/small-star rewrites (O(log n) rounds —
    // the high-diameter scale path) on the same sparse graph and against
    // the same recursive-CTE oracle as q_cc_labels: both CC formulations
    // carry a hard correctness signal and a bench entry
    Q("q_cc_labels_star",
      (s, d) => Iterative.ccFindStar(GraphOps.sparseEdgesFromLineitem(s, d)),
      Some(s"""WITH RECURSIVE $se, $su,
               adj AS (SELECT src AS v, dst AS nbr FROM u
                       UNION ALL SELECT dst, src FROM u),
               reach(v, r) AS (
                 SELECT v, v FROM (SELECT DISTINCT v FROM adj)
                 UNION
                 SELECT adj.v, reach.r FROM adj JOIN reach ON adj.nbr = reach.v)
               SELECT v, min(r) AS label FROM reach GROUP BY v""")),

    // rmat exact-count contract (`oink/rmat.cpp:50-70` loops until exactly
    // nnonzero·2^nlevels unique edges): the count is a constant the
    // oracle can state outright
    Q("q_rmat_count",
      (s, d) => RMat.generate(
        s, RMat.Params(10, 8, 0.45, 0.25, 0.15, 0.15, 0.0, 42L), numTasks = 16)
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n_edges")),
      Some("SELECT CAST(8192 AS BIGINT) AS n_edges")),

    // rmat generation (`oink/rmat.cpp`): deterministic seeded generator;
    // degree histogram like examples/rmat.cpp:155-163. The generator is a
    // pure function of (params, seed, numTasks=16) — independent of sf and
    // partition layout (GraphSpec proves run-to-run determinism and the
    // same edge set under 1, 3 and 8 shuffle partitions) — so the
    // histogram is a constant the oracle can state outright, like
    // q_rmat_count. NOTE: this pin is a determinism/regression check, not
    // an independent derivation — any intentional change to the generator
    // or its parameters requires re-deriving these rows (last: round 3,
    // exact-deficit batches). Cheap independent invariant, asserted in
    // GraphSpec: sum(degree * n_vertices) = 8192 = nnonzero * 2^nlevels.
    Q("q_rmat_degree_stats",
      (s, d) => RMat.degreeStats(RMat.generate(
        s, RMat.Params(10, 8, 0.45, 0.25, 0.15, 0.15, 0.0, 42L), numTasks = 16)),
      Some("""SELECT CAST(degree AS BIGINT) AS degree,
                     CAST(n_vertices AS BIGINT) AS n_vertices
              FROM (VALUES
                (1, 129), (2, 116), (3, 87), (4, 64), (5, 65), (6, 43),
                (7, 37), (8, 34), (9, 28), (10, 22), (11, 21), (12, 13),
                (13, 9), (14, 6), (15, 12), (16, 10), (17, 14), (18, 9),
                (19, 10), (20, 11), (21, 14), (22, 8), (23, 6), (24, 1),
                (25, 7), (26, 3), (27, 2), (29, 3), (30, 3), (31, 3),
                (33, 1), (35, 2), (36, 2), (37, 4), (38, 4), (39, 2),
                (40, 4), (41, 2), (42, 2), (43, 4), (44, 2), (45, 3),
                (46, 1), (47, 5), (48, 2), (57, 1), (81, 1), (83, 1),
                (84, 1), (85, 2), (87, 2), (90, 1), (100, 1), (103, 1),
                (188, 1))
                t(degree, n_vertices)""")),

    // approximate neighborhood function (ANF/HyperBall class): per-vertex
    // |N(v, 2)| estimated with a bounded KMV sketch — the oracle computes
    // the EXACT 2-hop closure, hashes it with the same portable mixer,
    // and applies the identical k-th-smallest estimator, so the
    // approximation itself is replayed bit for bit
    Q("q_anf_reach",
      (s, d) => Anf.neighborhoodEstimate(
        GraphOps.sparseEdgesFromLineitem(s, d), rounds = 2, k = 32),
      Some(s"""WITH $se, $su,
               adj AS (SELECT src AS v, dst AS nbr FROM u
                       UNION ALL SELECT dst, src FROM u),
               r1 AS (SELECT v, v AS w FROM (SELECT DISTINCT v FROM adj)
                      UNION
                      SELECT v, nbr AS w FROM adj),
               r2 AS (SELECT DISTINCT a.v, b.w
                      FROM r1 a JOIN r1 b ON a.w = b.v)
               ${anfEstimateSql("r2")}""")),

    // the neighborhood function itself — total estimated reach per
    // radius r = 1..3, the curve whose saturation point is the
    // effective diameter (ANF's headline use case); each radius reuses
    // the same sketch machinery, the oracle replays each radius's exact
    // closure through the identical estimator
    Q("q_anf_profile",
      (s, d) => Anf.neighborhoodProfile(
        GraphOps.sparseEdgesFromLineitem(s, d), rounds = 3, k = 32),
      Some(s"""WITH $se, $su,
               adj AS (SELECT src AS v, dst AS nbr FROM u
                       UNION ALL SELECT dst, src FROM u),
               r1 AS (SELECT v, v AS w FROM (SELECT DISTINCT v FROM adj)
                      UNION
                      SELECT v, nbr AS w FROM adj),
               r2 AS (SELECT DISTINCT a.v, b.w
                      FROM r1 a JOIN r1 b ON a.w = b.v),
               r3 AS (SELECT DISTINCT a.v, b.w
                      FROM r2 a JOIN r1 b ON a.w = b.v),
               est1 AS (${anfEstimateSql("r1")}),
               est2 AS (${anfEstimateSql("r2")}),
               est3 AS (${anfEstimateSql("r3")})
               SELECT CAST(1 AS BIGINT) AS r,
                      CAST(sum(est_reach) AS BIGINT) AS total_reach FROM est1
               UNION ALL
               SELECT CAST(2 AS BIGINT),
                      CAST(sum(est_reach) AS BIGINT) FROM est2
               UNION ALL
               SELECT CAST(3 AS BIGINT),
                      CAST(sum(est_reach) AS BIGINT) FROM est3""")),

    // effective diameter read off the neighborhood function: smallest
    // probed radius covering >= 0.9 of the terminal radius's total
    // reach — the profile's headline readout, replayed through the
    // identical estimates and the same double threshold
    Q("q_anf_diameter",
      (s, d) => Anf.effectiveDiameter(
        GraphOps.sparseEdgesFromLineitem(s, d), rounds = 3, k = 32),
      Some(s"""WITH $se, $su,
               adj AS (SELECT src AS v, dst AS nbr FROM u
                       UNION ALL SELECT dst, src FROM u),
               r1 AS (SELECT v, v AS w FROM (SELECT DISTINCT v FROM adj)
                      UNION
                      SELECT v, nbr AS w FROM adj),
               r2 AS (SELECT DISTINCT a.v, b.w
                      FROM r1 a JOIN r1 b ON a.w = b.v),
               r3 AS (SELECT DISTINCT a.v, b.w
                      FROM r2 a JOIN r1 b ON a.w = b.v),
               est1 AS (${anfEstimateSql("r1")}),
               est2 AS (${anfEstimateSql("r2")}),
               est3 AS (${anfEstimateSql("r3")}),
               prof AS (
                 SELECT CAST(1 AS BIGINT) AS r,
                        CAST(sum(est_reach) AS BIGINT) AS total_reach FROM est1
                 UNION ALL
                 SELECT CAST(2 AS BIGINT),
                        CAST(sum(est_reach) AS BIGINT) FROM est2
                 UNION ALL
                 SELECT CAST(3 AS BIGINT),
                        CAST(sum(est_reach) AS BIGINT) FROM est3),
               tot AS (SELECT total_reach AS total_r FROM prof WHERE r = 3)
               SELECT r AS r_eff,
                      round(CAST(total_reach AS DOUBLE) / total_r, 6)
                        AS coverage
               FROM prof, tot
               WHERE total_reach >= CAST(0.9 AS DOUBLE) * total_r
               ORDER BY r LIMIT 1""")),

    // truncated harmonic centrality (Boldi–Vigna) from the SAME
    // incremental sketch pass: the per-radius reach increments are the
    // vertex counts at exactly distance r, weighted 1/r — HyperBall's
    // headline application, one more oracle-replayable query from the
    // pass that already serves q_anf_reach/q_anf_profile. The oracle
    // computes each radius's exact closure through the identical KMV
    // estimator, then the same double weighted sum (6dp parity)
    Q("q_anf_centrality",
      (s, d) => Anf.harmonicCentrality(
        GraphOps.sparseEdgesFromLineitem(s, d), rounds = 3, k = 32),
      Some(s"""WITH $se, $su,
               adj AS (SELECT src AS v, dst AS nbr FROM u
                       UNION ALL SELECT dst, src FROM u),
               r1 AS (SELECT v, v AS w FROM (SELECT DISTINCT v FROM adj)
                      UNION
                      SELECT v, nbr AS w FROM adj),
               r2 AS (SELECT DISTINCT a.v, b.w
                      FROM r1 a JOIN r1 b ON a.w = b.v),
               r3 AS (SELECT DISTINCT a.v, b.w
                      FROM r2 a JOIN r1 b ON a.w = b.v),
               est1 AS (${anfEstimateSql("r1")}),
               est2 AS (${anfEstimateSql("r2")}),
               est3 AS (${anfEstimateSql("r3")})
               SELECT e1.v,
                      round((e1.est_reach - 1) / CAST(1 AS DOUBLE)
                          + (e2.est_reach - e1.est_reach) / CAST(2 AS DOUBLE)
                          + (e3.est_reach - e2.est_reach) / CAST(3 AS DOUBLE),
                        6) AS harmonic
               FROM est1 e1
               JOIN est2 e2 ON e1.v = e2.v
               JOIN est3 e3 ON e1.v = e3.v""")),

    // greedy maximal matching: both-endpoint nomination rounds on mixer
    // edge priorities; the oracle unrolls 12 rounds (monotone, fixpoint
    // identical — probed at 3 rounds on the base graph, 9 on the ×10
    // densified rehearsal graph, so 12 covers the rehearsal scale with
    // margin; r12 verdict #7 un-SKIPped the 10× row this way)
    Q("q_matching",
      (s, d) => {
        // convergence depth is data-dependent (O(log n)), so fail
        // LOUDLY if the margin is breached instead of surfacing an
        // opaque hash diff (r10 ADVICE)
        val (m, rounds) = Iterative.maximalMatchingWithRounds(
          GraphOps.sparseEdgesFromLineitem(s, d), seed = 7L)
        require(rounds <= 12,
          s"maximalMatching converged in $rounds rounds but the oracle " +
            "unrolls 12 — re-probe (tools/R10MatchProbe) and widen the " +
            "unroll margin for this data scale")
        m
      },
      Some(matchingSql(seed = 7L, rounds = 12))),

    // Adamic–Adar link prediction: top-100 distance-2 pairs by summed
    // 1/ln(deg) over common neighbors; existing edges anti-joined away
    Q("q_link_prediction",
      (s, d) => GraphOps.linkPrediction(
        GraphOps.sparseEdgesFromLineitem(s, d), topK = 100),
      Some(s"""WITH $se, $su,
              adj AS (SELECT src AS z, dst AS n FROM u
                      UNION ALL SELECT dst, src FROM u),
              deg AS (SELECT z AS v, CAST(count(*) AS BIGINT) AS degree
                      FROM adj GROUP BY 1),
              w AS (SELECT a1.z, a1.n AS a, a2.n AS b
                    FROM adj a1 JOIN adj a2 ON a1.z = a2.z
                    WHERE a1.n < a2.n),
              cand AS (SELECT z, a, b FROM w
                       WHERE NOT EXISTS (SELECT 1 FROM u
                         WHERE u.src = w.a AND u.dst = w.b)),
              sc AS (SELECT a, b, CAST(count(*) AS BIGINT) AS n_common,
                            round(sum(1.0 / ln(degree)), 6) AS score
                     FROM cand JOIN deg ON cand.z = deg.v GROUP BY 1, 2)
              SELECT a, b, n_common, score FROM sc
              ORDER BY score DESC, a, b LIMIT 100""")),

    // k-truss: cohesive-community cleaning one notch above k-core —
    // synchronous support peeling to a fixpoint on the mid graph; the
    // oracle unrolls 4 rounds (monotone, fixpoint identical)
    Q("q_ktruss",
      (s, d) => {
        // the oracle unrolls 4 peel rounds; same margin discipline as
        // q_matching — a depth breach fails with a message, not a hash
        val (t, rounds) = Triangles.kTrussWithRounds(
          GraphOps.midEdgesFromLineitem(s, d), k = 3)
        require(rounds <= 4,
          s"kTruss converged in $rounds peel rounds but the oracle " +
            "unrolls 4 — re-probe (tools/R10TrussProbe) and widen the " +
            "unroll margin for this data scale")
        t
      },
      Some(kTrussSql(3, 4))),

    // personalized pagerank: teleport + dangling mass return to the seed
    // set {0, 7, 42}; 5 fixed rounds, the oracle unrolls the same chain
    // with the CASE mirroring the per-vertex rank arithmetic term for term
    Q("q_ppr",
      (s, d) => Iterative.personalizedPagerank(
        GraphOps.edgesFromLineitem(s, d), Seq(0L, 7L, 42L),
        alpha = 0.85, tol = 0.0, maxIter = 5)
        .select(col("v"), round(col("rank"), 6).as("rank")),
      Some(pprLineitemSql(5, Seq(0L, 7L, 42L)))),

    // local clustering coefficient: closed-wedge fraction per vertex on
    // the neigh_tri counts (same oriented triangle enumeration; the
    // ratio is one exact IEEE division of the two integer counts)
    Q("q_clustering_coeff",
      (s, d) => Triangles.clusteringCoefficient(
        GraphOps.scaledEdgesFromLineitem(s, d)),
      Some("""WITH mm AS (SELECT greatest(count(*) // 60, 1) AS m FROM lineitem),
              e AS (SELECT l_orderkey % m AS src, l_partkey % m AS dst
                    FROM lineitem, mm),
              u AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
                    FROM e WHERE src <> dst),
              tri AS (SELECT t1.src AS a, t1.dst AS b, t2.dst AS c
                      FROM u t1
                      JOIN u t2 ON t1.dst = t2.src
                      JOIN u t3 ON t1.src = t3.src AND t2.dst = t3.dst),
              tv AS (SELECT a AS v FROM tri UNION ALL SELECT b FROM tri
                     UNION ALL SELECT c FROM tri),
              tc AS (SELECT v, count(*) AS n_triangles FROM tv GROUP BY v),
              deg AS (SELECT v, count(*) AS n_nbrs FROM (
                        SELECT src AS v FROM u UNION ALL SELECT dst AS v FROM u)
                      GROUP BY v)
              SELECT deg.v, n_nbrs,
                     coalesce(n_triangles, 0) AS n_triangles,
                     CASE WHEN n_nbrs >= 2
                       THEN round(2.0 * coalesce(n_triangles, 0)
                              / (n_nbrs * (n_nbrs - 1)), 6)
                       ELSE 0.0 END AS clustering
              FROM deg LEFT JOIN tc ON deg.v = tc.v""")),

    // degree assortativity: Pearson correlation of endpoint degrees over
    // both orientations of the canonical edge set — one scalar row, six
    // exact integer moments, one floating ratio at shared 6dp
    Q("q_assortativity",
      (s, d) => GraphOps.degreeAssortativity(
        GraphOps.scaledEdgesFromLineitem(s, d)),
      Some("""WITH mm AS (SELECT greatest(count(*) // 60, 1) AS m FROM lineitem),
              e AS (SELECT l_orderkey % m AS src, l_partkey % m AS dst
                    FROM lineitem, mm),
              u AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst
                    FROM e WHERE src <> dst),
              deg AS (SELECT v, count(*) AS d FROM (
                        SELECT src AS v FROM u UNION ALL SELECT dst AS v FROM u)
                      GROUP BY v),
              p0 AS (SELECT d1.d AS x, d2.d AS y
                     FROM u JOIN deg d1 ON u.src = d1.v
                            JOIN deg d2 ON u.dst = d2.v),
              p AS (SELECT x, y FROM p0 UNION ALL SELECT y AS x, x AS y FROM p0),
              s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                           CAST(sum(x) AS BIGINT) AS sx,
                           CAST(sum(y) AS BIGINT) AS sy,
                           CAST(sum(x * y) AS BIGINT) AS sxy,
                           CAST(sum(x * x) AS BIGINT) AS sxx,
                           CAST(sum(y * y) AS BIGINT) AS syy
                    FROM p)
              SELECT n AS n_endpoint_pairs,
                     round((n * CAST(sxy AS DOUBLE) -
                            CAST(sx AS DOUBLE) * sy) /
                       (sqrt(n * CAST(sxx AS DOUBLE) -
                          CAST(sx AS DOUBLE) * sx) *
                        sqrt(n * CAST(syy AS DOUBLE) -
                          CAST(sy AS DOUBLE) * sy)), 6) AS assortativity
              FROM s"""))
  )

  /** DuckDB replay of the per-vertex KMV reach estimate over an exact
    * closure CTE `src` (columns v, w): mixer hash, k-th smallest,
    * [[graft.operators.KmvDistinct]]'s estimator at k = 32. */
  private def anfEstimateSql(src: String): String =
    s"""SELECT v, CAST(CASE WHEN nd < 32 THEN nd
                            ELSE (31 * 1000000008) // (hv + 1)
                       END AS BIGINT) AS est_reach
        FROM (SELECT v, hv,
                row_number() OVER (PARTITION BY v ORDER BY hv) AS rn,
                count(*) OVER (PARTITION BY v) AS nd
              FROM (SELECT DISTINCT v,
                      ((w % 1000000007) * 2654435761 + 283521)
                        % 1000000007 AS hv
                    FROM $src))
        WHERE rn = least(nd, 32)"""
}
