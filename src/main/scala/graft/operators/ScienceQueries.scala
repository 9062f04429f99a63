package graft.operators

import graft.catalog.QueryDef
import graft.tables.Tables
import graft.textops.TextAnalysis
import org.apache.spark.sql.functions._

/** Statistical-inference, sketch, and spatial operators (q288+).
  *
  * Four families a 100 TB curation pipeline leans on that the catalog
  * did not yet cover:
  *
  *  - closed-form multiple regression from one aggregation pass
  *    (normal equations + Cramer — no iterative solver, no collect of
  *    data rows, only the 3×3 moment matrix reaches the driver-free
  *    final select);
  *  - Misra-Gries heavy hitters: bounded per-partition state (the
  *    classic mergeable summary) as a CANDIDATE pass, then an exact
  *    broadcast-semi-join verify — the two-pass shape that finds
  *    frequent tokens without ever materializing the full
  *    high-cardinality group-by;
  *  - grid-bucketed spatial nearest neighbor: cell-size ≥ radius ⇒ the
  *    3×3 neighbor-cell join provably contains every within-radius
  *    candidate, so the plan is a hash join on cell ids instead of a
  *    cross product;
  *  - ANF/Flajolet-Martin neighborhood function: per-node constant-size
  *    bit sketches propagated h hops (bit_or is idempotent ⇒ exactly
  *    the semiring ANF needs), estimating |reachable ≤ h| without the
  *    O(n²) transitive closure.
  *
  * Everything crossing the DuckDB oracle follows the house rule: all
  * aggregation is exact integer (order-free), and any final double
  * arithmetic is ONE shared expression string evaluated by both engines
  * over identical integer inputs (IEEE ±×÷, pow of 2, and round are
  * bit-identical given identical inputs and operation order).
  */
object ScienceQueries {

  private val toksSql = OracleSql.wsTokens()

  // ---------- q288 helpers: shared Cramer spellings ----------

  private def dbl(x: String) = s"CAST($x AS DOUBLE)"

  /** 3×3 determinant by cofactor expansion along the first row — the
    * ONE operation order both engines evaluate. */
  private def det3(
      a: String, b: String, c: String,
      d: String, e: String, f: String,
      g: String, h: String, i: String): String = {
    val Seq(ad, bd, cd, dd, ed, fd, gd, hd, id) =
      Seq(a, b, c, d, e, f, g, h, i).map(dbl)
    s"($ad * ($ed * $id - $fd * $hd) - $bd * ($dd * $id - $fd * $gd)" +
      s" + $cd * ($dd * $hd - $ed * $gd))"
  }

  private val detSql = det3("n", "s1", "s2", "s1", "s11", "s12", "s2", "s12", "s22")
  private val det0Sql = det3("sy", "s1", "s2", "s1y", "s11", "s12", "s2y", "s12", "s22")
  private val det1Sql = det3("n", "sy", "s2", "s1", "s1y", "s12", "s2", "s2y", "s22")
  private val det2Sql = det3("n", "s1", "sy", "s1", "s11", "s1y", "s2", "s12", "s2y")

  private def betaMicroSql(dj: String) = s"CAST(round(1000000 * $dj / d) AS BIGINT)"

  /** R² in ppm from the moment row + the three Cramer numerators:
    * SSE = syy − (d0·sy + d1·s1y + d2·s2y)/d, SST = syy − sy²/n. */
  private val r2PpmSql =
    s"""CAST(round(1000000 * (1 - (CAST(syy AS DOUBLE)
       | - (d0 * CAST(sy AS DOUBLE) + d1 * CAST(s1y AS DOUBLE)
       |    + d2 * CAST(s2y AS DOUBLE)) / d)
       | / (CAST(syy AS DOUBLE)
       |    - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))))
       | AS BIGINT)""".stripMargin.replaceAll("\n", "")

  // ---------- q291 helpers: shared FM-sketch spellings ----------

  /** Lowest-zero-bit position of register `s` as BIGINT: isolate the bit
    * with (~s)&(s+1) (a power of two ≥ 1 — registers never exceed bit
    * 52, so s+1 cannot overflow), then ln/ln2. The quotient is r ± ~1e-15
    * (libm ln is ≤1 ulp either engine), so round() lands on the exact
    * integer on both sides — never near a .5 boundary. */
  private def rBitSql(s: String): String =
    s"CAST(round(ln(CAST(((~$s) & ($s + 1)) AS DOUBLE)) / ln(2.0)) AS BIGINT)"

  /** Per-node reach estimate in milli-units from the 4 trial registers:
    * 2^(mean r)/0.77351. mean r is an exact multiple of ¼, and
    * 2^(k+q) = pow(2,k)·c_q with pow-of-2 exact and c_q a literal double
    * constant, so both engines compute identical bits before the single
    * final round. */
  private val reachMilliSql: String = {
    val rsum =
      s"(${rBitSql("s0")} + ${rBitSql("s1")} + ${rBitSql("s2")} + ${rBitSql("s3")})"
    s"""CAST(round(1000 * (pow(2.0, ($rsum - ($rsum % 4)) / 4)
       | * (CASE $rsum % 4 WHEN 0 THEN 1.0 WHEN 1 THEN 1.189207115002721
       |    WHEN 2 THEN 1.4142135623730951 ELSE 1.681792830507429 END))
       | / 0.77351) AS BIGINT)""".stripMargin.replaceAll("\n", "")
  }

  /** 52-bit md5 draw for trial t (md5Long >> 8), +2^52 so the value is
    * never zero (the added bit 52 sits above every 52-bit draw, so
    * trailing-zero counts < 52 are untouched). Spark spelling. */
  private def sparkG(t: Int): org.apache.spark.sql.Column =
    shiftright(TextAnalysis.md5Long(
      concat(col("id").cast("string"), lit(s"|anf$t"))), 8) + lit(4503599627370496L)

  /** DuckDB spelling of [[sparkG]]. */
  private def duckG(t: Int): String =
    s"(${OracleSql.md5Long(s"CAST(id AS STRING) || '|anf$t'")} >> 8) + 4503599627370496"

  // ---------- q290 helpers: deterministic planar coordinates ----------

  /** Integer coordinate in [0, 1e6) from the md5 of key+salt — the
    * engine's portable-hash discipline (q287), reused so the oracle can
    * derive the identical point set. */
  private def coordCol(k: org.apache.spark.sql.Column, salt: String) =
    pmod(TextAnalysis.md5Long(concat(k.cast("string"), lit(salt))), lit(1000000L))

  private def coordSql(k: String, salt: String): String =
    s"${OracleSql.md5Long(s"CAST($k AS STRING) || '$salt'")} % 1000000"

  // ---------- q292 helpers: shared Kruskal-Wallis spellings ----------

  /** Per-group H term R_g²/n_g from the half-unit rank sum r2 (= 2R_g):
    * r2²/(4·n_g), one shared double expression per group row. */
  private val kwTermSql =
    "CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / (4 * CAST(ng AS DOUBLE))"

  /** H = 12·S/(n(n+1)) − 3(n+1) in micro, from the index-ordered fold
    * S (srs) and the exact total n. */
  private val kwHSql =
    "(12 * srs / (CAST(n AS DOUBLE) * (n + 1)) - 3 * (n + 1))"

  private val kwHMicroSql = s"CAST(round(1000000 * $kwHSql) AS BIGINT)"

  /** Tie-corrected H: divide by 1 − Σ(t³−t)/(n³−n); the t³ products and
    * their sum run through 128-bit integer space on both sides (Spark
    * DECIMAL(38,0), DuckDB HUGEINT — the q322 discipline; a BIGINT t³
    * silently wraps in Spark but raises in DuckDB past t ≈ 2e6, so the
    * old Long spelling was a latent engine split). The correction
    * consumes the wide value through DOUBLE; the displayed tie_sum
    * column stays BIGINT (its value needs >9e18 — a single n_chars
    * value duplicated 2e6+ times — before the display cast matters). */
  private val kwHCorrMicroSql =
    s"""CAST(round(1000000 * $kwHSql / (1 - CAST(tie_sum AS DOUBLE)
       | / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
       |    - CAST(n AS DOUBLE)))) AS BIGINT)""".stripMargin.replaceAll("\n", "")

  // ---------- q293 helpers: shared difference-in-differences spellings ----------

  private def meanMilliSql(sc: String, nn: String): String =
    s"CAST(round(1000 * CAST($sc AS DOUBLE) / CAST($nn AS DOUBLE)) AS BIGINT)"

  private val didMilliSql =
    s"""CAST(round(1000 * ((CAST(s_t_post AS DOUBLE) / CAST(n_t_post AS DOUBLE)
       |  - CAST(s_t_pre AS DOUBLE) / CAST(n_t_pre AS DOUBLE))
       | - (CAST(s_c_post AS DOUBLE) / CAST(n_c_post AS DOUBLE)
       |  - CAST(s_c_pre AS DOUBLE) / CAST(n_c_pre AS DOUBLE)))) AS BIGINT)"""
      .stripMargin.replaceAll("\n", "")

  def defs: Seq[QueryDef] = Seq(

    // ---- multiple linear regression (q288): o_totalprice (whole
    //      dollars) ~ intercept + n_items + total_qty per order, solved
    //      in closed form. ONE aggregation collapses the data to a
    //      10-field moment row (n, Σx, ΣxᵀX, Σxy, Σy²); Cramer's rule on
    //      the 3×3 normal equations is then a pure expression — no
    //      iterative descent, no per-row driver traffic, so the plan is
    //      scan → partial agg → final agg regardless of row count.
    //      The y-product moments (Σx·y, Σy²) run through 128-bit integer
    //      space on both sides (Spark DECIMAL(38,0), DuckDB HUGEINT —
    //      the q322 discipline): exact at any physical sf, not just to
    //      the old Long bound of sf≈30. Cramer's determinants consume
    //      the moments through a shared DOUBLE spelling either way. ----
    QueryDef(
      "q288_ols_multi",
      s"""WITH li AS (
         |  SELECT l_orderkey AS okey, CAST(count(*) AS BIGINT) AS x1,
         |         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS x2
         |  FROM lineitem GROUP BY l_orderkey),
         |r AS (
         |  SELECT CAST(round(o_totalprice) AS BIGINT) AS y, x1, x2
         |  FROM orders JOIN li ON o_orderkey = okey),
         |sums AS (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |         CAST(sum(x1) AS BIGINT) AS s1, CAST(sum(x2) AS BIGINT) AS s2,
         |         CAST(sum(x1 * x1) AS BIGINT) AS s11,
         |         CAST(sum(x1 * x2) AS BIGINT) AS s12,
         |         CAST(sum(x2 * x2) AS BIGINT) AS s22,
         |         CAST(sum(y) AS BIGINT) AS sy,
         |         CAST(sum(CAST(x1 AS HUGEINT) * y) AS HUGEINT) AS s1y,
         |         CAST(sum(CAST(x2 AS HUGEINT) * y) AS HUGEINT) AS s2y,
         |         CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
         |  FROM r),
         |dets AS (
         |  SELECT n, sy, s1y, s2y, syy,
         |         $detSql AS d, $det0Sql AS d0, $det1Sql AS d1, $det2Sql AS d2
         |  FROM sums)
         |SELECT n, ${betaMicroSql("d0")} AS beta0_micro,
         |       ${betaMicroSql("d1")} AS beta1_micro,
         |       ${betaMicroSql("d2")} AS beta2_micro,
         |       $r2PpmSql AS r2_ppm
         |FROM dets""".stripMargin) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey").as("okey"))
        .agg(count(lit(1)).as("x1"),
          sum(round(col("l_quantity")).cast("long")).as("x2"))
      val rows = Tables.orders(s, dir)
        .select(col("o_orderkey").as("okey"),
          round(col("o_totalprice")).cast("long").as("y"))
        .join(li, "okey")
      rows
        .agg(
          count(lit(1)).as("n"),
          sum("x1").as("s1"), sum("x2").as("s2"),
          sum(expr("x1 * x1")).as("s11"),
          sum(expr("x1 * x2")).as("s12"),
          sum(expr("x2 * x2")).as("s22"),
          sum("y").as("sy"),
          sum(expr("CAST(x1 AS DECIMAL(38,0)) * y")).as("s1y"),
          sum(expr("CAST(x2 AS DECIMAL(38,0)) * y")).as("s2y"),
          sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .selectExpr("n", "sy", "s1y", "s2y", "syy",
          s"$detSql AS d", s"$det0Sql AS d0", s"$det1Sql AS d1", s"$det2Sql AS d2")
        .selectExpr("n",
          s"${betaMicroSql("d0")} AS beta0_micro",
          s"${betaMicroSql("d1")} AS beta1_micro",
          s"${betaMicroSql("d2")} AS beta2_micro",
          s"$r2PpmSql AS r2_ppm")
    },

    // ---- Misra-Gries heavy hitters (q289): tokens with frequency
    //      > n/200. Pass 1 keeps a 200-counter MG summary PER PARTITION
    //      (mapPartitions — the one shape an Expression can't hold
    //      cross-row state in): any token with partition count
    //      > n_p/200 provably survives its partition summary, so the
    //      union of survivors is a superset of every global heavy
    //      hitter (pigeonhole over partitions). Pass 2 exact-counts
    //      ONLY the ≤ parts·200 candidates via a broadcast semi-join —
    //      the full token group-by (the thing that hurts at 100 TB
    //      vocabulary cardinality) never materializes, yet the output
    //      is bitwise the exact answer the oracle computes naively. ----
    QueryDef(
      "q289_heavy_hitters",
      s"""WITH tk AS (SELECT unnest($toksSql) AS tok FROM documents),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS total FROM tk)
         |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |FROM tk CROSS JOIN tot
         |GROUP BY tok, total
         |HAVING CAST(count(*) AS BIGINT) * 200 > total
         |ORDER BY cnt DESC, tok""".stripMargin) { (s, dir) =>
      import s.implicits._
      val K = 200
      val toksArr = Tables.documents(s, dir)
        .select(TextAnalysis.wsTokens(col("text")).as("toks"))
      val cands = toksArr.as[Seq[String]]
        .mapPartitions { it =>
          val m = scala.collection.mutable.HashMap.empty[String, Long]
          it.foreach(_.foreach { t =>
            m.get(t) match {
              case Some(v) => m(t) = v + 1L
              case None if m.size < K => m(t) = 1L
              case None =>
                // decrement-all: each decrement cancels one prior
                // increment, so the loop is amortized O(1) per token
                val dead = List.newBuilder[String]
                m.foreach { case (k, v) =>
                  if (v == 1L) dead += k else m(k) = v - 1L
                }
                dead.result().foreach(m.remove)
            }
          })
          m.keysIterator
        }
        .toDF("tok").distinct()
      val tk = toksArr.select(explode(col("toks")).as("tok"))
      val tot = tk.agg(count(lit(1)).as("total"))
      tk.join(broadcast(cands), "tok")
        .groupBy("tok").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * K > col("total"))
        .select(col("tok"), col("cnt"))
        .orderBy(desc("cnt"), col("tok"))
    },

    // ---- grid-bucketed nearest supplier (q290): customers and
    //      suppliers get deterministic planar coordinates (md5 → [0,1e6)²,
    //      so the oracle derives the identical points); find each
    //      customer's nearest supplier within radius R = 100 000. Cell
    //      size = R ⇒ every within-R candidate lies in the supplier's
    //      3×3 neighbor cells, so the engine joins on cell ids (the 9×
    //      explode rides the SMALL side) — a hash join, never the
    //      customer×supplier product the oracle is allowed to brute-
    //      force. Distances are exact integer squares; ties break to
    //      the lower suppkey via min(struct). ----
    QueryDef(
      "q290_grid_knn",
      s"""WITH c AS (
         |  SELECT c_custkey,
         |         ${coordSql("c_custkey", "|gx")} AS cu,
         |         ${coordSql("c_custkey", "|gy")} AS cv
         |  FROM customer),
         |sp AS (
         |  SELECT s_suppkey,
         |         ${coordSql("s_suppkey", "|gx")} AS su,
         |         ${coordSql("s_suppkey", "|gy")} AS sv
         |  FROM supplier),
         |p AS (
         |  SELECT c_custkey, s_suppkey,
         |         (cu - su) * (cu - su) + (cv - sv) * (cv - sv) AS d2
         |  FROM c CROSS JOIN sp),
         |m AS (
         |  SELECT c_custkey, min(struct_pack(d2 := d2, sk := s_suppkey)) AS nn
         |  FROM p WHERE d2 <= 10000000000 GROUP BY c_custkey)
         |SELECT c_custkey, nn.sk AS nn_suppkey, nn.d2 AS d2
         |FROM m ORDER BY c_custkey""".stripMargin) { (s, dir) =>
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey"),
          coordCol(col("c_custkey"), "|gx").as("cu"),
          coordCol(col("c_custkey"), "|gy").as("cv"))
        .withColumn("cell", expr("(cu div 100000) * 1000 + (cv div 100000)"))
      val sup9 = Tables.supplier(s, dir)
        .select(col("s_suppkey"),
          coordCol(col("s_suppkey"), "|gx").as("su"),
          coordCol(col("s_suppkey"), "|gy").as("sv"))
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("cell",
          expr("((su div 100000) + dx) * 1000 + ((sv div 100000) + dy)"))
        .select("cell", "s_suppkey", "su", "sv")
      cust.join(broadcast(sup9), "cell")
        .withColumn("d2", expr("(cu - su) * (cu - su) + (cv - sv) * (cv - sv)"))
        .filter(col("d2") <= lit(10000000000L))
        .groupBy("c_custkey")
        .agg(min(struct(col("d2").as("d2"), col("s_suppkey").as("sk"))).as("nn"))
        .select(col("c_custkey"), col("nn.sk").as("nn_suppkey"), col("nn.d2").as("d2"))
        .orderBy("c_custkey")
    },

    // ---- ANF neighborhood function (q291): |reachable within h hops|
    //      per node on the q92 supplier↔customer graph, estimated with
    //      4 Flajolet-Martin bit registers per node. One bit_or
    //      aggregate per hop propagates sketches along edges (OR is
    //      idempotent — re-delivery along parallel paths is free), so
    //      h hops cost h shuffles with 32 bytes of state per node; the
    //      exact alternative is the O(n²) transitive closure. The
    //      oracle unrolls the 3 hops as CTEs (the q92 discipline) over
    //      the same md5-seeded registers, so both engines hold
    //      identical bit patterns and the single shared estimate
    //      expression rounds identically. ----
    QueryDef(
      "q291_anf_reach", {
        def iter(prev: String, idx: Int): String = {
          val bs = (0 to 3).map(t => s"bit_or(p.s$t) AS b$t").mkString(", ")
          val os = (0 to 3).map(t => s"n.s$t | coalesce(i.b$t, 0) AS s$t").mkString(", ")
          s"""i$idx AS (
             |  SELECT e.dst AS id, $bs
             |  FROM edges e JOIN $prev p ON p.id = e.src GROUP BY e.dst),
             |k$idx AS (
             |  SELECT n.id, $os
             |  FROM $prev n LEFT JOIN i$idx i ON n.id = i.id)""".stripMargin
        }
        val g = (0 to 3).map(t => s"${duckG(t)} AS g$t").mkString(", ")
        val s0 = (0 to 3).map(t => s"(g$t & (-g$t)) AS s$t").mkString(", ")
        val ests = (0 to 3).map(h =>
          s"SELECT $h AS hop, $reachMilliSql AS reach_milli FROM k$h")
          .mkString(" UNION ALL ")
        s"""WITH ${OracleSql.coPurchaseCtes},
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |k0 AS (SELECT id, $s0 FROM (SELECT id, $g FROM nodes)),
           |${iter("k0", 1)},
           |${iter("k1", 2)},
           |${iter("k2", 3)},
           |est AS ($ests)
           |SELECT hop, CAST(count(*) AS BIGINT) AS n_nodes,
           |       CAST(sum(reach_milli) AS BIGINT) AS reach_milli_total
           |FROM est GROUP BY hop ORDER BY hop""".stripMargin
      }) { (s, dir) =>
      // pinned: both union branches of the edge list re-derive the
      // fact⋈fact join otherwise (q255's pattern)
      val pairs = Tables.coPurchasePairs(s, dir).localCheckpoint()
      val edges = Tables.bothWays(pairs).localCheckpoint()
      val nodes = edges.select(col("src").as("id"))
        .union(edges.select(col("dst").as("id"))).distinct()
      def estimate(sk: org.apache.spark.sql.DataFrame, h: Int) =
        sk.selectExpr(s"$reachMilliSql AS reach_milli")
          .agg(count(lit(1)).as("n_nodes"), sum("reach_milli").as("reach_milli_total"))
          .select(lit(h).as("hop"), col("n_nodes"), col("reach_milli_total"))
      var sk = nodes
        .select(col("id") +: (0 to 3).map(t => sparkG(t).as(s"g$t")): _*)
        .selectExpr("id" +: (0 to 3).map(t => s"(g$t & (-g$t)) AS s$t"): _*)
        .localCheckpoint()
      val perHop = scala.collection.mutable.ArrayBuffer(estimate(sk, 0))
      (1 to 3).foreach { h =>
        val inbox = edges
          .join(sk.withColumnRenamed("id", "src"), "src")
          .groupBy(col("dst").as("id"))
          .agg(expr("bit_or(s0)").as("b0"), expr("bit_or(s1)").as("b1"),
            expr("bit_or(s2)").as("b2"), expr("bit_or(s3)").as("b3"))
        sk = sk.join(inbox, Seq("id"), "left_outer")
          .selectExpr("id" +:
            (0 to 3).map(t => s"s$t | coalesce(b$t, 0) AS s$t"): _*)
          .localCheckpoint()
        perHop += estimate(sk, h)
      }
      perHop.reduce(_ unionByName _).orderBy("hop")
    }.copy(headline = true), // slowest new-family query (3 iterative hops)

    // ---- Kruskal-Wallis rank test (q292): does document length differ
    //      across sources beyond chance — the nonparametric ANOVA every
    //      mixture audit wants when lengths are anything but normal.
    //      Midranks come from per-DISTINCT-VALUE counts + ONE
    //      Scale.scan pass (2·cum − c + 1 in half-units — all
    //      integer, no per-row rank, NO single-partition window); group
    //      rank sums are exact BIGINT joins on the value key. The only
    //      float work is the k-term Σ R²/n fold, done index-ordered
    //      over the ≤k group rows (the q171 list_reduce discipline), so
    //      both engines add in the same order. Tie correction exact
    //      from Σ(t³−t). ----
    QueryDef(
      "q292_kruskal_wallis",
      s"""WITH d AS (SELECT source, n_chars AS v FROM documents),
         |vc AS (SELECT v, CAST(count(*) AS BIGINT) AS c FROM d GROUP BY v),
         |mr AS (SELECT v, c,
         |         2 * sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
         |           - c + 1 AS mr2
         |       FROM vc),
         |gv AS (SELECT source, v, CAST(count(*) AS BIGINT) AS ngv
         |       FROM d GROUP BY source, v),
         |g AS (SELECT source, CAST(sum(ngv) AS BIGINT) AS ng,
         |        CAST(sum(ngv * mr2) AS BIGINT) AS r2
         |      FROM gv JOIN mr USING (v) GROUP BY source),
         |gt AS (SELECT source, ng, r2, $kwTermSql AS t FROM g),
         |f AS (SELECT CAST(count(*) AS BIGINT) AS k,
         |        list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |          list(t ORDER BY source)), (acc, x) -> acc + x) AS srs
         |      FROM gt),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n,
         |          CAST(sum(CAST(c AS HUGEINT) * c * c - c) AS HUGEINT) AS tie_sum
         |        FROM vc)
         |SELECT n, k, CAST(tie_sum AS BIGINT) AS tie_sum, $kwHMicroSql AS h_micro,
         |       $kwHCorrMicroSql AS h_corr_micro
         |FROM f CROSS JOIN tot""".stripMargin) { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("source"), col("n_chars").as("v"))
      val vc = docs.groupBy("v").agg(count(lit(1)).as("c")).localCheckpoint()
      val mr = Scale.scan(vc, Seq("v"), Scale.Sum("c", "cum"))._1
        .selectExpr("v", "2 * cum - c + 1 AS mr2")
      val groups = docs.groupBy("source", "v").agg(count(lit(1)).as("ngv"))
        .join(mr, "v")
        .groupBy("source")
        .agg(sum("ngv").as("ng"), sum(expr("ngv * mr2")).as("r2"))
        .withColumn("t", expr(kwTermSql))
      val folded = groups.agg(
        count(lit(1)).as("k"),
        expr("""aggregate(
          transform(sort_array(collect_list(struct(source, t))), g -> g.t),
          CAST(0 AS DOUBLE), (acc, x) -> acc + x)""").as("srs"))
      val tot = vc.agg(sum("c").as("n"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c * c - c")).as("tie_sum"))
      folded.crossJoin(broadcast(tot))
        .selectExpr("n", "k", "CAST(tie_sum AS BIGINT) AS tie_sum",
          s"$kwHMicroSql AS h_micro", s"$kwHCorrMicroSql AS h_corr_micro")
    },

    // ---- difference-in-differences (q293): the canonical pre/post ×
    //      treat/control causal estimator (the q282 CUPED sibling) over
    //      event spend. Treatment is the engine's md5 split of user_id
    //      (q104 discipline — re-derivable by any engine), the period
    //      boundary is the integer midpoint of the observed µs range,
    //      and every cell is an exact (count, cent-sum) pair from ONE
    //      conditional aggregate — so the plan is scan → agg no matter
    //      the event volume, and the four means + DiD are shared
    //      double expressions over identical integers. ----
    QueryDef(
      "q293_did",
      s"""WITH ev AS (
         |  SELECT user_id, epoch_us(ts) AS tus,
         |         CAST(round(value * 100) AS BIGINT) AS cents
         |  FROM events),
         |b AS (SELECT min(tus) + ((max(tus) - min(tus)) // 2) AS bd FROM ev),
         |c AS (
         |  SELECT ${OracleSql.md5Long("CAST(user_id AS STRING) || '|did'")} % 2 AS treat,
         |         CASE WHEN tus >= bd THEN 1 ELSE 0 END AS post, cents
         |  FROM ev CROSS JOIN b),
         |p AS (
         |  SELECT
         |    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_pre,
         |    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c_post,
         |    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_pre,
         |    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t_post,
         |    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_c_pre,
         |    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_c_post,
         |    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN cents ELSE 0 END) AS BIGINT) AS s_t_pre,
         |    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN cents ELSE 0 END) AS BIGINT) AS s_t_post
         |  FROM c)
         |SELECT n_c_pre, n_c_post, n_t_pre, n_t_post,
         |       ${meanMilliSql("s_c_pre", "n_c_pre")} AS mean_c_pre_milli,
         |       ${meanMilliSql("s_c_post", "n_c_post")} AS mean_c_post_milli,
         |       ${meanMilliSql("s_t_pre", "n_t_pre")} AS mean_t_pre_milli,
         |       ${meanMilliSql("s_t_post", "n_t_post")} AS mean_t_post_milli,
         |       $didMilliSql AS did_cents_milli
         |FROM p""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).selectExpr(
        "user_id", "ts div 1000 AS tus",
        "CAST(round(value * 100) AS BIGINT) AS cents")
      val bounds = ev.agg(min("tus").as("lo"), max("tus").as("hi"))
        .selectExpr("lo + ((hi - lo) div 2) AS bd")
      val cells = ev.crossJoin(broadcast(bounds))
        .select(
          pmod(TextAnalysis.md5Long(concat(col("user_id").cast("string"), lit("|did"))),
            lit(2L)).as("treat"),
          when(col("tus") >= col("bd"), 1).otherwise(0).as("post"),
          col("cents"))
      def cell(t: Int, p: Int, v: org.apache.spark.sql.Column) =
        sum(when(col("treat") === t && col("post") === p, v).otherwise(0L))
      cells.agg(
        cell(0, 0, lit(1L)).as("n_c_pre"), cell(0, 1, lit(1L)).as("n_c_post"),
        cell(1, 0, lit(1L)).as("n_t_pre"), cell(1, 1, lit(1L)).as("n_t_post"),
        cell(0, 0, col("cents")).as("s_c_pre"), cell(0, 1, col("cents")).as("s_c_post"),
        cell(1, 0, col("cents")).as("s_t_pre"), cell(1, 1, col("cents")).as("s_t_post"))
        .selectExpr("n_c_pre", "n_c_post", "n_t_pre", "n_t_post",
          s"${meanMilliSql("s_c_pre", "n_c_pre")} AS mean_c_pre_milli",
          s"${meanMilliSql("s_c_post", "n_c_post")} AS mean_c_post_milli",
          s"${meanMilliSql("s_t_pre", "n_t_pre")} AS mean_t_pre_milli",
          s"${meanMilliSql("s_t_post", "n_t_post")} AS mean_t_post_milli",
          s"$didMilliSql AS did_cents_milli")
    },

    // ---- winnowing fingerprints (q294): the MOSS local-fingerprint
    //      scheme (Schleimer SIGMOD'03) — per doc, hash every 3-gram in
    //      ORDER (the q34 native kernel), then keep the min hash of
    //      each sliding window of 4: any shared substring of ≥ w+k−1
    //      tokens is GUARANTEED to share a fingerprint, unlike q34's
    //      single global min (whole-doc) or q31's probabilistic MinHash.
    //      Matching is a df-capped equi-join on fingerprints (the q134
    //      containment discipline: Σ df² bounded, common-window grams
    //      dropped loudly by the cap, never corpus²). ----
    QueryDef(
      "q294_winnowing",
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
         |${OracleSql.winnowCtes}
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       CAST(count(*) AS BIGINT) AS shared_fps
         |FROM ff a JOIN ff b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2
         |HAVING count(*) >= 2
         |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
      val fps = Tables.documents(s, dir).select(col("doc_id"),
        explode(graft.functions.WinnowFunctions.graftWinnow(
          graft.functions.GramHashFunctions
            .graftGramMd5(TextAnalysis.wsTokens(col("text")), 3), 4)).as("fp"))
      val capped = fps.join(
        fps.groupBy("fp").agg(count(lit(1)).as("df")).filter(col("df") <= 50)
          .select("fp"),
        "fp")
        .localCheckpoint() // both self-join sides read it
      capped.as("a").join(capped.as("b"), Seq("fp"))
        .filter(col("a.doc_id") < col("b.doc_id"))
        .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .agg(count(lit(1)).as("shared_fps"))
        .filter(col("shared_fps") >= 2)
        .orderBy("doc_a", "doc_b")
    }.copy(headline = true), // native winnow kernel showcase (was 13 s composed)

    // ---- SAX symbolization + motif discovery (q295): each user's
    //      daily event-count series → 8-segment PAA → 4-symbol SAX word
    //      (Lin/Keogh DMKD'07), then users sharing a word = a motif.
    //      Everything before the symbol CASE is exact integer: segment
    //      day-spans from the closed-form ceil split of the global
    //      calendar (missing days are true zeros — the gapfill is a
    //      users×8 generate, never a calendar explode), PAA in milli by
    //      floor-div, per-user moments as BIGINT sums. The z-vs-
    //      breakpoint comparison is cross-multiplied to `8·paa − sp  vs
    //      b·√(8·spp − sp²)` — one IEEE sqrt/mult per side over
    //      identical integers, so the branch both engines take is
    //      bit-determined. Motif cardinality ≤ 4⁸ by construction →
    //      the word-count join broadcasts at any scale. ----
    QueryDef(
      "q295_sax_motifs", {
        val sym =
          """CASE WHEN 8 * spp - sp * sp = 0 THEN 'b'
            |     WHEN CAST(8 * paa - sp AS DOUBLE)
            |          < -0.6745 * sqrt(CAST(8 * spp - sp * sp AS DOUBLE)) THEN 'a'
            |     WHEN 8 * paa - sp < 0 THEN 'b'
            |     WHEN CAST(8 * paa - sp AS DOUBLE)
            |          < 0.6745 * sqrt(CAST(8 * spp - sp * sp AS DOUBLE)) THEN 'c'
            |     ELSE 'd' END""".stripMargin
        s"""WITH ev AS (
           |  SELECT user_id, CAST(ts AS DATE) AS day FROM events),
           |span AS (SELECT min(day) AS d0,
           |           date_diff('day', min(day), max(day)) + 1 AS dd FROM ev),
           |daily AS (SELECT user_id, day, CAST(count(*) AS BIGINT) AS c
           |          FROM ev GROUP BY 1, 2),
           |segd AS (SELECT user_id,
           |           CAST(date_diff('day', d0, day) * 8 // dd AS BIGINT) AS seg,
           |           c FROM daily CROSS JOIN span),
           |segc AS (SELECT user_id, seg, CAST(sum(c) AS BIGINT) AS sc
           |         FROM segd GROUP BY 1, 2),
           |grid AS (SELECT u.user_id, s.seg,
           |           CAST(((s.seg + 1) * dd + 7) // 8 - (s.seg * dd + 7) // 8
           |             AS BIGINT) AS segdays
           |         FROM (SELECT DISTINCT user_id FROM ev) u
           |         CROSS JOIN (SELECT unnest(range(0, 8)) AS seg) s
           |         CROSS JOIN span),
           |paa AS (SELECT g.user_id, g.seg,
           |          CAST(1000 * coalesce(sc, 0) // greatest(g.segdays, 1)
           |            AS BIGINT) AS paa
           |        FROM grid g LEFT JOIN segc c
           |          ON g.user_id = c.user_id AND g.seg = c.seg),
           |mom AS (SELECT user_id, CAST(sum(paa) AS BIGINT) AS sp,
           |          CAST(sum(paa * paa) AS BIGINT) AS spp
           |        FROM paa GROUP BY 1),
           |sym AS (SELECT p.user_id, p.seg, $sym AS sym
           |        FROM paa p JOIN mom m ON p.user_id = m.user_id),
           |words AS (SELECT user_id, string_agg(sym, '' ORDER BY seg) AS sax_word
           |          FROM sym GROUP BY 1),
           |motif AS (SELECT sax_word, CAST(count(*) AS BIGINT) AS motif_n
           |          FROM words GROUP BY 1)
           |SELECT user_id, sax_word, motif_n
           |FROM words JOIN motif USING (sax_word)
           |ORDER BY user_id""".stripMargin
      }) { (s, dir) =>
      val symSql =
        """CASE WHEN 8 * spp - sp * sp = 0 THEN 'b'
          |     WHEN CAST(8 * paa - sp AS DOUBLE)
          |          < -0.6745 * sqrt(CAST(8 * spp - sp * sp AS DOUBLE)) THEN 'a'
          |     WHEN 8 * paa - sp < 0 THEN 'b'
          |     WHEN CAST(8 * paa - sp AS DOUBLE)
          |          < 0.6745 * sqrt(CAST(8 * spp - sp * sp AS DOUBLE)) THEN 'c'
          |     ELSE 'd' END""".stripMargin
      val ev = Tables.eventsTs(s, dir).select(col("user_id"), to_date(col("ts")).as("day"))
      val span = ev.agg(min("day").as("d0"),
        (datediff(max(col("day")), min(col("day"))) + 1).cast("long").as("dd"))
      val daily = ev.groupBy("user_id", "day").agg(count(lit(1)).as("c"))
      val segc = daily.crossJoin(broadcast(span))
        .selectExpr("user_id",
          "CAST(datediff(day, d0) * 8 div dd AS BIGINT) AS seg", "c")
        .groupBy("user_id", "seg").agg(sum("c").as("sc"))
      val grid = ev.select("user_id").distinct()
        .crossJoin(broadcast(s.range(0, 8).select(col("id").as("seg"))))
        .crossJoin(broadcast(span))
        .selectExpr("user_id", "seg",
          "CAST(((seg + 1) * dd + 7) div 8 - (seg * dd + 7) div 8 AS BIGINT) AS segdays")
      val paa = grid.join(segc, Seq("user_id", "seg"), "left_outer")
        .selectExpr("user_id", "seg",
          "CAST(1000 * coalesce(sc, 0L) div greatest(segdays, 1L) AS BIGINT) AS paa")
      val mom = paa.groupBy("user_id")
        .agg(sum("paa").as("sp"), sum(expr("paa * paa")).as("spp"))
      val words = paa.join(mom, "user_id")
        .selectExpr("user_id", "seg", s"$symSql AS sym")
        .groupBy("user_id")
        .agg(expr(
          "array_join(transform(sort_array(collect_list(struct(seg, sym))), x -> x.sym), '')")
          .as("sax_word"))
      val motif = words.groupBy("sax_word").agg(count(lit(1)).as("motif_n"))
      words.join(broadcast(motif), "sax_word")
        .select("user_id", "sax_word", "motif_n")
        .orderBy("user_id")
    },

    // ---- SPRT sequential test (q296): Wald's sequential probability
    //      ratio test on the click rate — H0 p=0.15 vs H1 p=0.25,
    //      α=β=0.05. Per-event log-likelihood increments are FIXED
    //      integer milli constants (511 = ⌊1000·ln(25/15)⌉, −125 =
    //      ⌊1000·ln(75/85)⌉ — hardcoded, so no libm enters the data
    //      path), the running sum is ONE Scale.scan pass over
    //      (time, event_id) — no single-partition window — and the
    //      verdict is the first boundary crossing (±2944 = ±⌊1000·
    //      ln 19⌉) picked by min(struct). The shape every online
    //      experiment monitor needs: stop as soon as the evidence
    //      clears the Wald boundaries, in one linear pass. ----
    QueryDef(
      "q296_sprt",
      """WITH ev AS (
        |  SELECT event_id, epoch_us(ts) AS tus,
        |         CASE WHEN event_type = 'click' THEN 511 ELSE -125 END AS llr
        |  FROM events),
        |c AS (SELECT event_id, tus,
        |        sum(llr) OVER (ORDER BY tus, event_id ROWS UNBOUNDED PRECEDING) AS cum
        |      FROM ev),
        |x AS (SELECT min(struct_pack(tus := tus, eid := event_id, cum := cum)) AS x
        |      FROM c WHERE cum >= 2944 OR cum <= -2944),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
        |        CAST(sum(llr) AS BIGINT) AS final_llr_milli FROM ev)
        |SELECT n_events, final_llr_milli,
        |       CASE WHEN x IS NULL THEN 'none'
        |            WHEN x.cum >= 2944 THEN 'h1' ELSE 'h0' END AS decision,
        |       x.eid AS cross_event_id,
        |       CAST(x.cum AS BIGINT) AS cum_at_cross
        |FROM t CROSS JOIN x""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir).selectExpr("event_id", "ts div 1000 AS tus",
        "CASE WHEN event_type = 'click' THEN 511L ELSE -125L END AS llr")
      val cum = Scale.scan(ev, Seq("tus", "event_id"), Scale.Sum("llr", "cum"))._1
      val crossing = cum
        .filter(col("cum") >= 2944L || col("cum") <= -2944L)
        .agg(min(struct(col("tus").as("tus"), col("event_id").as("eid"),
          col("cum").as("cum"))).as("x"))
      val totals = ev.agg(count(lit(1)).as("n_events"), sum("llr").as("final_llr_milli"))
      totals.crossJoin(broadcast(crossing))
        .selectExpr("n_events", "final_llr_milli",
          """CASE WHEN x IS NULL THEN 'none'
            |     WHEN x.cum >= 2944 THEN 'h1' ELSE 'h0' END AS decision""".stripMargin,
          "x.eid AS cross_event_id", "x.cum AS cum_at_cross")
    },

    // ---- 1-D Gaussian mixture EM (q297): two-component soft
    //      clustering of document length — the classic "is this corpus
    //      bimodal" question answered with TWO unrolled EM iterations.
    //      Init is mean ± std from exact integer moments; σ² stays at
    //      the global variance (soft k-means form) so each iteration
    //      needs only (Σr, Σr·x): responsibilities are micro-quantized
    //      per row (the q259 discipline — libm exp differs ≤1 ulp, far
    //      below the quantum), sums are exact BIGINT, and the new means
    //      are integer floor-divs. Complement counts derive from the
    //      totals (Σ(1−r) = 1e6·n − Σr), so an iteration is ONE
    //      aggregate over the scan — EM at 100 TB is h linear passes,
    //      no driver-side rows. The big moment sums (Σx², Σr·x, and the
    //      1e6·Σx term) run through 128-bit integer space on both sides
    //      (Spark DECIMAL(38,0), DuckDB HUGEINT — the q322 discipline),
    //      so the iterate is exact at any sf; displayed means are
    //      BIGINT-small by construction. ----
    QueryDef(
      "q297_gmm_em", {
        val varSql =
          """(CAST(n AS DOUBLE) * CAST(sxmm AS DOUBLE)
            | - CAST(sxm AS DOUBLE) * CAST(sxm AS DOUBLE))
            | / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))""".stripMargin.replaceAll("\n", "")
        val respSql =
          """CAST(round(1000000 / (1 + exp(
            |  (CAST(xm - mu1 AS DOUBLE) * (xm - mu1)
            |   - CAST(xm - mu2 AS DOUBLE) * (xm - mu2)) / (2 * s2))))
            | AS BIGINT)""".stripMargin.replaceAll("\n", "")
        s"""WITH base AS (SELECT 1000 * n_chars AS xm FROM documents),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |          CAST(sum(xm) AS BIGINT) AS sxm,
           |          CAST(sum(CAST(xm AS HUGEINT) * xm) AS HUGEINT) AS sxmm FROM base),
           |p0 AS (SELECT n, sxm,
           |         CAST(round(CAST(sxm AS DOUBLE) / n - sqrt($varSql)) AS BIGINT) AS mu1,
           |         CAST(round(CAST(sxm AS DOUBLE) / n + sqrt($varSql)) AS BIGINT) AS mu2,
           |         $varSql AS s2
           |       FROM tot),
           |e1 AS (SELECT n, sxm, s2,
           |         CAST(sum($respSql) AS BIGINT) AS n1,
           |         CAST(sum(CAST(($respSql) AS HUGEINT) * xm) AS HUGEINT) AS sxr1
           |       FROM base CROSS JOIN p0 GROUP BY n, sxm, s2),
           |p1 AS (SELECT n, sxm, s2, CAST(sxr1 // n1 AS BIGINT) AS mu1,
           |         CAST((CAST(1000000 AS HUGEINT) * sxm - sxr1)
           |              // (1000000 * n - n1) AS BIGINT) AS mu2
           |       FROM e1),
           |e2 AS (SELECT n, sxm, s2,
           |         CAST(sum($respSql) AS BIGINT) AS n1,
           |         CAST(sum(CAST(($respSql) AS HUGEINT) * xm) AS HUGEINT) AS sxr1
           |       FROM base CROSS JOIN p1 GROUP BY n, sxm, s2),
           |p2 AS (SELECT n, CAST(sxr1 // n1 AS BIGINT) AS mu1,
           |         CAST((CAST(1000000 AS HUGEINT) * sxm - sxr1)
           |              // (1000000 * n - n1) AS BIGINT) AS mu2,
           |         CAST(n1 // n AS BIGINT) AS pi1_ppm
           |       FROM e2)
           |SELECT p2.n, p0.mu1 AS mu1_init_milli, p0.mu2 AS mu2_init_milli,
           |       p2.mu1 AS mu1_milli, p2.mu2 AS mu2_milli, pi1_ppm
           |FROM p2 CROSS JOIN p0""".stripMargin
      }) { (s, dir) =>
      val varSql =
        """(CAST(n AS DOUBLE) * CAST(sxmm AS DOUBLE)
          | - CAST(sxm AS DOUBLE) * CAST(sxm AS DOUBLE))
          | / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))""".stripMargin.replaceAll("\n", "")
      val respSql =
        """CAST(round(1000000 / (1 + exp(
          |  (CAST(xm - mu1 AS DOUBLE) * (xm - mu1)
          |   - CAST(xm - mu2 AS DOUBLE) * (xm - mu2)) / (2 * s2))))
          | AS BIGINT)""".stripMargin.replaceAll("\n", "")
      val base = Tables.documents(s, dir).selectExpr("1000 * n_chars AS xm")
      val tot = base.agg(count(lit(1)).as("n"), sum("xm").as("sxm"),
        sum(expr("CAST(xm AS DECIMAL(38,0)) * xm")).as("sxmm"))
      val p0 = tot.selectExpr("n", "sxm",
        s"CAST(round(CAST(sxm AS DOUBLE) / n - sqrt($varSql)) AS BIGINT) AS mu1",
        s"CAST(round(CAST(sxm AS DOUBLE) / n + sqrt($varSql)) AS BIGINT) AS mu2",
        s"$varSql AS s2").localCheckpoint()
      def estep(p: org.apache.spark.sql.DataFrame) = base.crossJoin(broadcast(p))
        .selectExpr("n", "sxm", "s2", s"$respSql AS r1", "xm")
        .groupBy("n", "sxm", "s2")
        .agg(sum("r1").as("n1"),
          sum(expr("CAST(r1 AS DECIMAL(38,0)) * xm")).as("sxr1"))
        .selectExpr("n", "sxm", "s2",
          "sxr1 div n1 AS mu1",
          "(CAST(1000000 AS DECIMAL(38,0)) * sxm - sxr1) div (1000000 * n - n1) AS mu2",
          "n1")
      val p1 = estep(p0).localCheckpoint()
      val p2 = estep(p1)
      p2.crossJoin(broadcast(
        p0.selectExpr("mu1 AS mu1_init_milli", "mu2 AS mu2_init_milli")))
        .selectExpr("n", "mu1_init_milli", "mu2_init_milli",
          "CAST(mu1 AS BIGINT) AS mu1_milli", "CAST(mu2 AS BIGINT) AS mu2_milli",
          "CAST(n1 div n AS BIGINT) AS pi1_ppm")
    },

    // ---- uplift deciles + Qini (q298): the offline evaluation of a
    //      targeting model — rank users by an engagement score, split
    //      into 10 equal-depth deciles via globalRank (NO
    //      single-partition window), and per decile compare purchase
    //      conversion between the md5 treatment arms (the q293 split).
    //      Cumulative Qini — the incremental-conversions curve — comes
    //      from a bounded 10×10 triangle self-join on decile ids (exact
    //      integer cumulants, no window, no fold). Everything before
    //      the two final shared divisions is exact integer. ----
    QueryDef(
      "q298_uplift_qini", {
        val upliftSql =
          """CASE WHEN nt = 0 OR nc = 0 THEN NULL
            | ELSE CAST(round(1000 * (CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)
            | - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))) AS BIGINT) END"""
            .stripMargin.replaceAll("\n", "")
        val qiniSql =
          """CASE WHEN nc_cum = 0 THEN NULL
            | ELSE CAST(round(1000 * (CAST(ct_cum AS DOUBLE)
            | - CAST(cc_cum AS DOUBLE) * CAST(nt_cum AS DOUBLE)
            |   / CAST(nc_cum AS DOUBLE))) AS BIGINT) END"""
            .stripMargin.replaceAll("\n", "")
        s"""WITH u AS (
           |  SELECT user_id, CAST(count(*) AS BIGINT) AS score,
           |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
           |         ${OracleSql.md5Long("CAST(user_id AS STRING) || '|did'")} % 2 AS treat
           |  FROM events GROUP BY user_id),
           |r AS (SELECT *, row_number() OVER (ORDER BY score DESC, user_id) AS rnk,
           |        count(*) OVER () AS nu FROM u),
           |d AS (SELECT ((rnk - 1) * 10) // nu AS decile, treat, conv FROM r),
           |g AS (SELECT decile,
           |        CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           |        CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           |        CAST(sum(CASE WHEN treat = 1 THEN conv ELSE 0 END) AS BIGINT) AS ct,
           |        CAST(sum(CASE WHEN treat = 0 THEN conv ELSE 0 END) AS BIGINT) AS cc
           |      FROM d GROUP BY decile),
           |c AS (SELECT a.decile, CAST(sum(b.nt) AS BIGINT) AS nt_cum,
           |        CAST(sum(b.nc) AS BIGINT) AS nc_cum,
           |        CAST(sum(b.ct) AS BIGINT) AS ct_cum,
           |        CAST(sum(b.cc) AS BIGINT) AS cc_cum
           |      FROM g a JOIN g b ON b.decile <= a.decile GROUP BY a.decile)
           |SELECT g.decile, nt, nc, ct, cc,
           |       $upliftSql AS uplift_milli, $qiniSql AS qini_milli
           |FROM g JOIN c ON g.decile = c.decile
           |ORDER BY g.decile""".stripMargin
      }) { (s, dir) =>
      val upliftSql =
        """CASE WHEN nt = 0 OR nc = 0 THEN NULL
          | ELSE CAST(round(1000 * (CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE)
          | - CAST(cc AS DOUBLE) / CAST(nc AS DOUBLE))) AS BIGINT) END"""
          .stripMargin.replaceAll("\n", "")
      val qiniSql =
        """CASE WHEN nc_cum = 0 THEN NULL
          | ELSE CAST(round(1000 * (CAST(ct_cum AS DOUBLE)
          | - CAST(cc_cum AS DOUBLE) * CAST(nt_cum AS DOUBLE)
          |   / CAST(nc_cum AS DOUBLE))) AS BIGINT) END"""
          .stripMargin.replaceAll("\n", "")
      val u = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("score"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("conv"))
        .withColumn("treat",
          pmod(TextAnalysis.md5Long(concat(col("user_id").cast("string"), lit("|did"))),
            lit(2L)))
        .withColumn("negscore", -col("score"))
      val (ranked, Seq(nu)) =
        Scale.scan(u, Seq("negscore", "user_id"), Scale.RowNumber("rnk"))
      val g = ranked
        .selectExpr(s"((rnk - 1) * 10) div $nu AS decile", "treat", "conv")
        .groupBy("decile")
        .agg(sum(when(col("treat") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("treat") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("treat") === 1, col("conv")).otherwise(0)).cast("long").as("ct"),
          sum(when(col("treat") === 0, col("conv")).otherwise(0)).cast("long").as("cc"))
        .localCheckpoint() // 10 rows; the triangle join reads it twice
      val c = g.as("a").join(g.as("b"), col("b.decile") <= col("a.decile"))
        .groupBy(col("a.decile").as("decile"))
        .agg(sum("b.nt").as("nt_cum"), sum("b.nc").as("nc_cum"),
          sum("b.ct").as("ct_cum"), sum("b.cc").as("cc_cum"))
      g.join(c, "decile")
        .selectExpr("decile", "nt", "nc", "ct", "cc",
          s"$upliftSql AS uplift_milli", s"$qiniSql AS qini_milli")
        .orderBy("decile")
    },

    // ---- seasonal-naive backtest + MASE (q299): the forecasting
    //      sanity bar — predict each day's event volume with the value
    //      7 days prior, score MAE against the walk-forward naive
    //      (yesterday's value), report the ratio (MASE, Hyndman 2006).
    //      Zero-event days are REAL zeros: the calendar is one bounded
    //      sequence-explode off the 1-row span (the q70 gapfill shape),
    //      lags are plain equi-joins on day−7/day−1 (no window), and
    //      every error sum is exact integer — only the two final mean/
    //      ratio divisions are (shared) doubles. ----
    QueryDef(
      "q299_mase_backtest",
      """WITH ev AS (SELECT CAST(ts AS DATE) AS day FROM events),
        |span AS (SELECT min(day) AS d0, max(day) AS d1,
        |           date_diff('day', min(day), max(day)) AS dd FROM ev),
        |cal AS (SELECT d0 + CAST(gs.i AS INTEGER) AS day
        |        FROM span CROSS JOIN
        |          (SELECT unnest(range(0, (SELECT dd + 1 FROM span))) AS i) gs),
        |daily AS (SELECT day, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY day),
        |filled AS (SELECT cal.day, coalesce(daily.c, 0) AS c
        |           FROM cal LEFT JOIN daily ON cal.day = daily.day),
        |j AS (SELECT t.day, t.c, l7.c AS c7, l1.c AS c1
        |      FROM filled t
        |      JOIN filled l7 ON l7.day = t.day - 7
        |      JOIN filled l1 ON l1.day = t.day - 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_eval,
        |          CAST(sum(abs(c - c7)) AS BIGINT) AS sae7,
        |          CAST(sum(abs(c - c1)) AS BIGINT) AS sae1
        |        FROM j),
        |nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM filled)
        |SELECT n_days, n_eval, sae7, sae1,
        |       CAST(round(1000 * CAST(sae7 AS DOUBLE) / CAST(n_eval AS DOUBLE)) AS BIGINT) AS mae7_milli,
        |       CAST(round(1000 * CAST(sae1 AS DOUBLE) / CAST(n_eval AS DOUBLE)) AS BIGINT) AS mae1_milli,
        |       CAST(round(1000 * CAST(sae7 AS DOUBLE) / CAST(sae1 AS DOUBLE)) AS BIGINT) AS mase_milli
        |FROM agg CROSS JOIN nd""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir).select(to_date(col("ts")).as("day"))
      val span = ev.agg(min("day").as("d0"), max("day").as("d1"))
      val cal = span
        .selectExpr("explode(sequence(d0, d1, interval 1 day)) AS day")
      val daily = ev.groupBy("day").agg(count(lit(1)).as("c"))
      val filled = cal.join(daily, Seq("day"), "left_outer")
        .selectExpr("day", "coalesce(c, 0L) AS c")
        .localCheckpoint() // bounded by the calendar span; read 3×
      val j = filled.as("t")
        .join(filled.as("l7"), expr("l7.day = t.day - 7"))
        .join(filled.as("l1"), expr("l1.day = t.day - 1"))
        .selectExpr("t.c AS c", "l7.c AS c7", "l1.c AS c1")
      val agg = j.agg(count(lit(1)).as("n_eval"),
        sum(expr("abs(c - c7)")).as("sae7"), sum(expr("abs(c - c1)")).as("sae1"))
      val nd = filled.agg(count(lit(1)).as("n_days"))
      agg.crossJoin(broadcast(nd))
        .selectExpr("n_days", "n_eval", "sae7", "sae1",
          "CAST(round(1000 * CAST(sae7 AS DOUBLE) / CAST(n_eval AS DOUBLE)) AS BIGINT) AS mae7_milli",
          "CAST(round(1000 * CAST(sae1 AS DOUBLE) / CAST(n_eval AS DOUBLE)) AS BIGINT) AS mae1_milli",
          "CAST(round(1000 * CAST(sae7 AS DOUBLE) / CAST(sae1 AS DOUBLE)) AS BIGINT) AS mase_milli")
    },

    // ---- nation trade flow (q300): the TPC-H Q7 shape — discounted
    //      revenue shipped between (supplier nation → customer nation)
    //      pairs by order year. Five-table join where BOTH nation dims
    //      broadcast (Tables.broadcastable), the fact table shuffles
    //      once per big key, and revenue is the exact fix-4 integer sum
    //      (the q1/q3 money discipline) exposed as INTEGER CENTS with
    //      HALF_UP done in integer space — a round(double, 2) display
    //      column hit a .005 tie at sf0.1 where the engines' double
    //      rounding disagrees by one cent; (sum+50) div 100 cannot.
    //      The classic "does the optimizer get the join order right"
    //      query at 100 TB. ----
    QueryDef(
      "q300_nation_trade_flow",
      s"""SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         |       CAST(year(o_orderdate) AS INTEGER) AS o_year,
         |       CAST((CAST(sum(${Exact.fixSql("l_extendedprice * (1 - l_discount)", 4)}) AS HUGEINT) + 50) // 100 AS BIGINT) AS revenue_cents,
         |       CAST(count(*) AS BIGINT) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation nc ON c_nationkey = nc.n_nationkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ns ON s_nationkey = ns.n_nationkey
         |GROUP BY 1, 2, 3
         |ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val rev = Exact.fix(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 4)
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("nck"), col("n_name").as("cust_nation"))),
          col("c_nationkey") === col("nck"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)
          .select(col("n_nationkey").as("nsk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("nsk"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum(rev).as("__rev4"), count(lit(1)).as("n_items"))
        .select(col("supp_nation"), col("cust_nation"), col("o_year"),
          expr("(__rev4 + 50) div 100").as("revenue_cents"), col("n_items"))
        .orderBy("supp_nation", "cust_nation", "o_year")
    },

    // ---- Flesch-Kincaid readability (q301): grade level per document
    //      from three exact counts — whitespace words, [.!?]+ sentence
    //      breaks, [aeiouy]+ vowel groups as the syllable proxy — all
    //      codegen'd regex counts over ONE narrow scan (the q131 Gopher
    //      discipline: no join, no shuffle). The grade is the single
    //      shared double expression; empty docs yield NULL on both
    //      engines. The curation gate nobody ships an English corpus
    //      without. ----
    QueryDef(
      "q301_readability", {
        val fk =
          """CASE WHEN n_words = 0 THEN NULL
            | ELSE CAST(round(1000 * (0.39 * CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)
            | + 11.8 * CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)
            | - 15.59)) AS BIGINT) END""".stripMargin.replaceAll("\n", "")
        s"""WITH c AS (
           |  SELECT doc_id,
           |         CAST(len(list_filter(string_split_regex(text, '\\s+'),
           |           w -> w <> '')) AS BIGINT) AS n_words,
           |         greatest(CAST(len(regexp_extract_all(text, '[.!?]+', 0)) AS BIGINT),
           |           1) AS n_sents,
           |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+', 0))
           |           AS BIGINT) AS n_syll
           |  FROM documents)
           |SELECT doc_id, n_words, n_sents, n_syll, $fk AS fk_grade_milli
           |FROM c ORDER BY doc_id""".stripMargin
      }) { (s, dir) =>
      val fk =
        """CASE WHEN n_words = 0 THEN NULL
          | ELSE CAST(round(1000 * (0.39 * CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE)
          | + 11.8 * CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)
          | - 15.59)) AS BIGINT) END""".stripMargin.replaceAll("\n", "")
      Tables.documents(s, dir)
        .select(col("doc_id"),
          size(TextAnalysis.wsTokens(col("text"))).cast("long").as("n_words"),
          greatest(size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long"),
            lit(1L)).as("n_sents"),
          size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long")
            .as("n_syll"))
        .selectExpr("doc_id", "n_words", "n_sents", "n_syll",
          s"$fk AS fk_grade_milli")
        .orderBy("doc_id")
    },

    // ---- time-to-convert (q302): seconds from each user's FIRST
    //      signup to their first purchase AT-OR-AFTER it — the funnel
    //      latency distribution (the q71 funnel's missing "how long"
    //      axis). First-signup is one aggregate; the conditional-first
    //      purchase is an equi-join on user_id + one aggregate — never a
    //      window over the event stream. The p50/p90 cut uses the q69
    //      exact-percentile contract (Spark `percentile` ⟷ DuckDB
    //      sorted-list interpolation) over integer second deltas. ----
    QueryDef(
      "q302_time_to_convert",
      s"""WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
         |su AS (SELECT user_id, min(tus) AS stus FROM ev
         |       WHERE event_type = 'signup' GROUP BY user_id),
         |pu AS (SELECT e.user_id, min(e.tus) AS ptus
         |       FROM ev e JOIN su ON e.user_id = su.user_id
         |       WHERE e.event_type = 'purchase' AND e.tus >= su.stus
         |       GROUP BY e.user_id),
         |d AS (SELECT (ptus - stus) // 1000000 AS delta_s
         |      FROM pu JOIN su ON pu.user_id = su.user_id),
         |a AS (SELECT CAST(count(*) AS BIGINT) AS n_converted,
         |        CAST(sum(delta_s) AS BIGINT) AS sum_s,
         |        count(*) AS n, list(delta_s ORDER BY delta_s) AS ds
         |      FROM d)
         |SELECT n_converted,
         |       CAST(round(1000 * CAST(sum_s AS DOUBLE) / CAST(n_converted AS DOUBLE)) AS BIGINT) AS mean_s_milli,
         |       CAST(round(1000 * ${OracleSql.pctlSql("ds", "0.50")}) AS BIGINT) AS p50_s_milli,
         |       CAST(round(1000 * ${OracleSql.pctlSql("ds", "0.90")}) AS BIGINT) AS p90_s_milli
         |FROM a""".stripMargin) { (s, dir) =>
      val ev = Tables.events(s, dir)
        .selectExpr("user_id", "event_type", "ts div 1000 AS tus")
      val su = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("tus").as("stus"))
      val pu = ev.filter(col("event_type") === "purchase")
        .join(su, "user_id")
        .filter(col("tus") >= col("stus"))
        .groupBy("user_id").agg(min("tus").as("ptus"), min("stus").as("stus"))
      val d = pu.selectExpr("(ptus - stus) div 1000000 AS delta_s")
      d.agg(count(lit(1)).as("n_converted"), sum("delta_s").as("sum_s"),
        percentile(col("delta_s"), lit(0.5)).as("p50"),
        percentile(col("delta_s"), lit(0.9)).as("p90"))
        .selectExpr("n_converted",
          "CAST(round(1000 * CAST(sum_s AS DOUBLE) / CAST(n_converted AS DOUBLE)) AS BIGINT) AS mean_s_milli",
          "CAST(round(1000 * p50) AS BIGINT) AS p50_s_milli",
          "CAST(round(1000 * p90) AS BIGINT) AS p90_s_milli")
    },

    // ---- minimum detectable effect (q303): the experiment-design
    //      pre-flight — given the two md5 arms' sizes and the pooled
    //      spend variance, how small an effect could this population
    //      even detect at α=0.05 / power 0.8? MDE = 2.8016·√(s²ₚ·(1/n₁
    //      + 1/n₀)) with the z-sum hardcoded (no libm in the data
    //      path). One conditional aggregate to exact (n, Σx, Σx²) per
    //      arm; everything after is shared double expressions. ----
    QueryDef(
      "q303_mde_power", {
        val vp =
          """((CAST(nt AS DOUBLE) * CAST(sxxt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)) / CAST(nt AS DOUBLE)
            | + (CAST(nc AS DOUBLE) * CAST(sxxc AS DOUBLE) - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE)) / CAST(nc AS DOUBLE))
            | / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE) - 2)""".stripMargin.replaceAll("\n", "")
        val mde = s"2.8016 * sqrt($vp * (1 / CAST(nt AS DOUBLE) + 1 / CAST(nc AS DOUBLE)))"
        s"""WITH ev AS (
           |  SELECT ${OracleSql.md5Long("CAST(user_id AS STRING) || '|did'")} % 2 AS treat,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events),
           |m AS (
           |  SELECT
           |    CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           |    CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           |    CAST(sum(CASE WHEN treat = 1 THEN cents ELSE 0 END) AS BIGINT) AS sxt,
           |    CAST(sum(CASE WHEN treat = 0 THEN cents ELSE 0 END) AS BIGINT) AS sxc,
           |    CAST(sum(CASE WHEN treat = 1 THEN cents * cents ELSE 0 END) AS BIGINT) AS sxxt,
           |    CAST(sum(CASE WHEN treat = 0 THEN cents * cents ELSE 0 END) AS BIGINT) AS sxxc
           |  FROM ev)
           |SELECT nt, nc,
           |       CAST(round(1000 * CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)) AS BIGINT) AS mean_t_milli,
           |       CAST(round(1000 * CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE)) AS BIGINT) AS mean_c_milli,
           |       CAST(round(1000 * sqrt($vp)) AS BIGINT) AS sd_pooled_milli,
           |       CAST(round(1000 * $mde) AS BIGINT) AS mde_cents_milli,
           |       CAST(round(10000 * $mde
           |         / ((CAST(sxt AS DOUBLE) + CAST(sxc AS DOUBLE))
           |            / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)))) AS BIGINT) AS mde_rel_bp
           |FROM m""".stripMargin
      }) { (s, dir) =>
      val vp =
        """((CAST(nt AS DOUBLE) * CAST(sxxt AS DOUBLE) - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)) / CAST(nt AS DOUBLE)
          | + (CAST(nc AS DOUBLE) * CAST(sxxc AS DOUBLE) - CAST(sxc AS DOUBLE) * CAST(sxc AS DOUBLE)) / CAST(nc AS DOUBLE))
          | / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE) - 2)""".stripMargin.replaceAll("\n", "")
      val mde = s"2.8016 * sqrt($vp * (1 / CAST(nt AS DOUBLE) + 1 / CAST(nc AS DOUBLE)))"
      val ev = Tables.events(s, dir).select(
        pmod(TextAnalysis.md5Long(concat(col("user_id").cast("string"), lit("|did"))),
          lit(2L)).as("treat"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      ev.agg(
        sum(when(col("treat") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("treat") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("treat") === 1, col("cents")).otherwise(0L)).as("sxt"),
        sum(when(col("treat") === 0, col("cents")).otherwise(0L)).as("sxc"),
        sum(when(col("treat") === 1, expr("cents * cents")).otherwise(0L)).as("sxxt"),
        sum(when(col("treat") === 0, expr("cents * cents")).otherwise(0L)).as("sxxc"))
        .selectExpr("nt", "nc",
          "CAST(round(1000 * CAST(sxt AS DOUBLE) / CAST(nt AS DOUBLE)) AS BIGINT) AS mean_t_milli",
          "CAST(round(1000 * CAST(sxc AS DOUBLE) / CAST(nc AS DOUBLE)) AS BIGINT) AS mean_c_milli",
          s"CAST(round(1000 * sqrt($vp)) AS BIGINT) AS sd_pooled_milli",
          s"CAST(round(1000 * $mde) AS BIGINT) AS mde_cents_milli",
          s"""CAST(round(10000 * $mde
             | / ((CAST(sxt AS DOUBLE) + CAST(sxc AS DOUBLE))
             |    / (CAST(nt AS DOUBLE) + CAST(nc AS DOUBLE)))) AS BIGINT) AS mde_rel_bp"""
            .stripMargin.replaceAll("\n", ""))
    },

    // ---- star-schema FK integrity audit (q304): orphan counts for
    //      every foreign-key edge in the warehouse — the referential
    //      half of the q192 ingest contract. Each edge is one LEFT ANTI
    //      join (dims broadcast where small); null keys are counted
    //      separately because an anti-join cannot see them. A clean
    //      feed reports zeros — the value is the loud nonzero after a
    //      bad partial load. ----
    QueryDef(
      "q304_fk_audit", {
        def edgeSql(name: String, child: String, ck: String,
            parent: String, pk: String): String =
          s"""SELECT '$name' AS fk_edge,
             |  (SELECT CAST(count(*) AS BIGINT) FROM $child) AS n_child,
             |  (SELECT CAST(count(*) AS BIGINT) FROM $child
             |   WHERE $ck IS NOT NULL
             |     AND $ck NOT IN (SELECT $pk FROM $parent WHERE $pk IS NOT NULL))
             |    AS n_orphan,
             |  (SELECT CAST(count(DISTINCT $ck) AS BIGINT) FROM $child
             |   WHERE $ck IS NOT NULL
             |     AND $ck NOT IN (SELECT $pk FROM $parent WHERE $pk IS NOT NULL))
             |    AS n_orphan_keys,
             |  (SELECT CAST(count(*) AS BIGINT) FROM $child WHERE $ck IS NULL)
             |    AS n_null_keys""".stripMargin
        Seq(
          edgeSql("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
          edgeSql("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
          edgeSql("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
          edgeSql("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
          edgeSql("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
          edgeSql("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
          edgeSql("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"))
          .mkString("", " UNION ALL ", " ORDER BY fk_edge")
      }) { (s, dir) =>
      import org.apache.spark.sql.DataFrame
      def edge(name: String, child: DataFrame, ck: String,
          parent: DataFrame, pk: String): DataFrame = {
        val c = child.select(col(ck).as("k"))
        val p = parent.select(col(pk).as("k")).filter(col("k").isNotNull).distinct()
        val orphans = c.filter(col("k").isNotNull)
          .join(broadcast(p), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("n_orphan"),
            countDistinct(col("k")).as("n_orphan_keys"))
        val base = c.agg(count(lit(1)).as("n_child"),
          sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_null_keys"))
        base.crossJoin(orphans)
          .select(lit(name).as("fk_edge"), col("n_child"), col("n_orphan"),
            col("n_orphan_keys"), col("n_null_keys"))
      }
      val li = Tables.lineitem(s, dir); val ord = Tables.orders(s, dir)
      Seq(
        edge("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey"),
        edge("lineitem.l_partkey->part", li, "l_partkey", Tables.part(s, dir), "p_partkey"),
        edge("lineitem.l_suppkey->supplier", li, "l_suppkey", Tables.supplier(s, dir), "s_suppkey"),
        edge("orders.o_custkey->customer", ord, "o_custkey", Tables.customer(s, dir), "c_custkey"),
        edge("customer.c_nationkey->nation", Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey"),
        edge("supplier.s_nationkey->nation", Tables.supplier(s, dir), "s_nationkey",
          Tables.nation(s, dir), "n_nationkey"),
        edge("nation.n_regionkey->region", Tables.nation(s, dir), "n_regionkey",
          Tables.region(s, dir), "r_regionkey"))
        .reduce(_ unionByName _)
        .orderBy("fk_edge")
    },

    // ---- pairwise Welch t-tests (q305): document length between
    //      every pair of sources — the parametric companion to q249
    //      (Mann-Whitney) and q292 (Kruskal-Wallis), with the
    //      Welch–Satterthwaite df that real unequal-variance corpora
    //      need. One aggregate to ≤k moment rows, then a bounded k²/2
    //      triangle join; t and df are shared double expressions over
    //      exact integer moments. ----
    QueryDef(
      "q305_welch_ttest", {
        val va = "((CAST(a.n AS DOUBLE) * CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE)) / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1)))"
        val vb = "((CAST(b.n AS DOUBLE) * CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE)) / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1)))"
        val se2 = s"($va / CAST(a.n AS DOUBLE) + $vb / CAST(b.n AS DOUBLE))"
        val t = s"(CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE) - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE)) / sqrt($se2)"
        val df = s"($se2 * $se2) / (($va / CAST(a.n AS DOUBLE)) * ($va / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1) + ($vb / CAST(b.n AS DOUBLE)) * ($vb / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1))"
        s"""WITH m AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(n_chars) AS BIGINT) AS sx,
           |         CAST(sum(n_chars * n_chars) AS BIGINT) AS sxx
           |  FROM documents GROUP BY source)
           |SELECT a.source AS source_a, b.source AS source_b,
           |       a.n AS n_a, b.n AS n_b,
           |       CAST(round(1000 * $t) AS BIGINT) AS t_milli,
           |       CAST(round(1000 * $df) AS BIGINT) AS df_milli
           |FROM m a JOIN m b ON a.source < b.source
           |ORDER BY source_a, source_b""".stripMargin
      }) { (s, dir) =>
      val va = "((CAST(a.n AS DOUBLE) * CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE)) / (CAST(a.n AS DOUBLE) * (CAST(a.n AS DOUBLE) - 1)))"
      val vb = "((CAST(b.n AS DOUBLE) * CAST(b.sxx AS DOUBLE) - CAST(b.sx AS DOUBLE) * CAST(b.sx AS DOUBLE)) / (CAST(b.n AS DOUBLE) * (CAST(b.n AS DOUBLE) - 1)))"
      val se2 = s"($va / CAST(a.n AS DOUBLE) + $vb / CAST(b.n AS DOUBLE))"
      val t = s"(CAST(a.sx AS DOUBLE) / CAST(a.n AS DOUBLE) - CAST(b.sx AS DOUBLE) / CAST(b.n AS DOUBLE)) / sqrt($se2)"
      val dfE = s"($se2 * $se2) / (($va / CAST(a.n AS DOUBLE)) * ($va / CAST(a.n AS DOUBLE)) / (CAST(a.n AS DOUBLE) - 1) + ($vb / CAST(b.n AS DOUBLE)) * ($vb / CAST(b.n AS DOUBLE)) / (CAST(b.n AS DOUBLE) - 1))"
      val m = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("sx"),
          sum(expr("n_chars * n_chars")).as("sxx"))
        .localCheckpoint() // ≤k rows; both triangle sides read it
      m.as("a").join(m.as("b"), col("a.source") < col("b.source"))
        .selectExpr("a.source AS source_a", "b.source AS source_b",
          "a.n AS n_a", "b.n AS n_b",
          s"CAST(round(1000 * $t) AS BIGINT) AS t_milli",
          s"CAST(round(1000 * $dfE) AS BIGINT) AS df_milli")
        .orderBy("source_a", "source_b")
    },

    // ---- bloom-filter sizing advisor (q307): the ops pre-flight for
    //      every bloom-gated join/decontamination (q72's filter, the
    //      runtime-filter conf): exact NDV per join key → optimal bits
    //      (m = ⌈ndv · 9.585⌉ for 1% FPR; the −ln p/ln²2 constant
    //      hardcoded so no libm enters the data path) and k = 7
    //      hashes. One count-distinct aggregate per key column — the
    //      expensive exact NDV is the point: sizing from guesses is how
    //      blooms saturate at 100 TB. ----
    QueryDef(
      "q307_bloom_sizing", {
        def keySql(name: String, table: String, c: String): String =
          s"""SELECT '$name' AS key_col,
             |  CAST(count(*) AS BIGINT) AS n_rows,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS ndv,
             |  CAST(ceil(CAST(count(DISTINCT $c) AS DOUBLE) * 9.585) AS BIGINT) AS m_bits,
             |  CAST(ceil(CAST(count(DISTINCT $c) AS DOUBLE) * 9.585) AS BIGINT) // 8192 AS kib,
             |  CAST(7 AS BIGINT) AS k_hashes
             |FROM $table""".stripMargin
        Seq(
          keySql("orders.o_custkey", "orders", "o_custkey"),
          keySql("lineitem.l_partkey", "lineitem", "l_partkey"),
          keySql("lineitem.l_suppkey", "lineitem", "l_suppkey"),
          keySql("lineitem.l_orderkey", "lineitem", "l_orderkey"),
          keySql("documents.doc_id", "documents", "doc_id"))
          .mkString("", " UNION ALL ", " ORDER BY key_col")
      }) { (s, dir) =>
      import org.apache.spark.sql.DataFrame
      def key(name: String, df: DataFrame, c: String): DataFrame =
        df.agg(count(lit(1)).as("n_rows"), countDistinct(col(c)).as("ndv"))
          .selectExpr(s"'$name' AS key_col", "n_rows", "ndv",
            "CAST(ceil(CAST(ndv AS DOUBLE) * 9.585) AS BIGINT) AS m_bits",
            "CAST(ceil(CAST(ndv AS DOUBLE) * 9.585) AS BIGINT) div 8192 AS kib",
            "CAST(7 AS BIGINT) AS k_hashes")
      Seq(
        key("orders.o_custkey", Tables.orders(s, dir), "o_custkey"),
        key("lineitem.l_partkey", Tables.lineitem(s, dir), "l_partkey"),
        key("lineitem.l_suppkey", Tables.lineitem(s, dir), "l_suppkey"),
        key("lineitem.l_orderkey", Tables.lineitem(s, dir), "l_orderkey"),
        key("documents.doc_id", Tables.documents(s, dir), "doc_id"))
        .reduce(_ unionByName _)
        .orderBy("key_col")
    },

    // ---- normalization dedup-gain audit (q308): how many NEW exact
    //      duplicates does the canonical cleaning chain (lower → NFC →
    //      strip accents → collapse whitespace) surface that raw
    //      hashing misses? Planted variants (doc_id < 30 re-appear
    //      upper-cased, double-spaced, with a precomposed-accent tail
    //      vs a decomposed one) must fold TOGETHER once canonicalized.
    //      The go/no-go evidence for running q143/q184 normalization
    //      BEFORE q28 exact dedup at 100 TB — both legs are one
    //      distinct-count aggregate over the same scan. ----
    QueryDef(
      "q308_norm_dedup_gain", {
        val chain = "trim(regexp_replace(strip_accents(nfc_normalize(lower(deco))), '\\s+', ' ', 'g'))"
        s"""WITH d AS (
           |  SELECT doc_id, text AS deco FROM documents
           |  UNION ALL
           |  SELECT doc_id + 1000000,
           |         upper(regexp_replace(text, ' ', '  ', 'g')) || ' caf' || chr(233)
           |  FROM documents WHERE doc_id < 30
           |  UNION ALL
           |  SELECT doc_id + 2000000, text || ' CAFE' || chr(769)
           |  FROM documents WHERE doc_id < 30),
           |k AS (SELECT md5(deco) AS rawk, md5($chain) AS normk FROM d)
           |SELECT CAST(count(*) AS BIGINT) AS n_docs,
           |       CAST(count(*) - count(DISTINCT rawk) AS BIGINT) AS dup_surplus_raw,
           |       CAST(count(*) - count(DISTINCT normk) AS BIGINT) AS dup_surplus_norm,
           |       CAST(count(DISTINCT rawk) - count(DISTINCT normk) AS BIGINT) AS norm_gain
           |FROM k""".stripMargin
      }) { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val v1 = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(upper(regexp_replace(col("text"), " ", "  ")),
            lit(" café")).as("deco"))
      val v2 = docs.filter(col("doc_id") < 30)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          concat(col("text"), lit(" CAFÉ")).as("deco"))
      val uni = docs.select(col("doc_id"), col("text").as("deco"))
        .union(v1).union(v2)
      val chain = trim(regexp_replace(
        graft.functions.TextNormFunctions.graftStripAccents(
          graft.functions.TextNormFunctions.graftNfc(lower(col("deco")))),
        "\\s+", " "))
      uni.select(md5(col("deco")).as("rawk"), md5(chain).as("normk"))
        .agg(count(lit(1)).as("n_docs"),
          (count(lit(1)) - countDistinct(col("rawk"))).as("dup_surplus_raw"),
          (count(lit(1)) - countDistinct(col("normk"))).as("dup_surplus_norm"),
          (countDistinct(col("rawk")) - countDistinct(col("normk"))).as("norm_gain"))
    },

    // ---- bursting attribute values (q309): which event-property
    //      values spike on which days vs their corpus-wide share — the
    //      batch Kleinberg-lite behind every "trending" report. Per
    //      (day, k) count vs expectation day_total·k_total/grand, all
    //      exact integer cross-products; the ranked top-20 cut is a
    //      bounded TakeOrdered. The q279 sibling at attribute (not
    //      user) granularity. ----
    QueryDef(
      "q309_burst_values",
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
        |  FROM events),
        |dk AS (SELECT day, kv, CAST(count(*) AS BIGINT) AS c FROM ev GROUP BY 1, 2),
        |dt AS (SELECT day, CAST(sum(c) AS BIGINT) AS day_total FROM dk GROUP BY 1),
        |kt AS (SELECT kv, CAST(sum(c) AS BIGINT) AS k_total FROM dk GROUP BY 1),
        |g AS (SELECT CAST(sum(c) AS BIGINT) AS grand FROM dk),
        |r AS (
        |  SELECT dk.day, dk.kv, dk.c,
        |         CAST(1000 * dt.day_total * kt.k_total // grand AS BIGINT) AS expected_milli,
        |         CAST(10000 * dk.c * grand // (dt.day_total * kt.k_total) AS BIGINT) AS ratio_bp
        |  FROM dk JOIN dt USING (day) JOIN kt USING (kv) CROSS JOIN g
        |  WHERE dk.c >= 3)
        |SELECT day, kv, c, expected_milli, ratio_bp FROM r
        |ORDER BY ratio_bp DESC, day, kv LIMIT 20""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir).select(to_date(col("ts")).as("day"),
        get_json_object(col("props"), "$.k").cast("long").as("kv"))
      val dk = ev.groupBy("day", "kv").agg(count(lit(1)).as("c"))
        .localCheckpoint() // three aggregates + the join read it
      val dt = dk.groupBy("day").agg(sum("c").as("day_total"))
      val kt = dk.groupBy("kv").agg(sum("c").as("k_total"))
      val g = dk.agg(sum("c").as("grand"))
      dk.join(dt, "day").join(broadcast(kt), "kv").crossJoin(broadcast(g))
        .filter(col("c") >= 3)
        .selectExpr("day", "kv", "c",
          "CAST(1000 * day_total * k_total div grand AS BIGINT) AS expected_milli",
          "CAST(10000 * c * grand div (day_total * k_total) AS BIGINT) AS ratio_bp")
        .orderBy(col("ratio_bp").desc, col("day"), col("kv"))
        .limit(20)
    },

    // ---- DAU/MAU stickiness (q310): the product-health ratio — mean
    //      daily actives over monthly actives per month. Two exact
    //      distinct-count aggregates (per-day, per-month) + one
    //      integer-ratio join; observed days (days with ≥1 event) are
    //      the denominator so a partial first/last month doesn't dilute
    //      the mean. ----
    QueryDef(
      "q310_dau_mau",
      """WITH ev AS (
        |  SELECT date_trunc('month', CAST(ts AS DATE)) AS month,
        |         CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |dau AS (SELECT month, day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |        FROM ev GROUP BY 1, 2),
        |md AS (SELECT month, CAST(sum(dau) AS BIGINT) AS dau_sum,
        |         CAST(count(*) AS BIGINT) AS n_days
        |       FROM dau GROUP BY 1),
        |mau AS (SELECT month, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |        FROM ev GROUP BY 1)
        |SELECT CAST(md.month AS DATE) AS month, n_days, dau_sum, mau,
        |       CAST(1000 * dau_sum // n_days AS BIGINT) AS dau_avg_milli,
        |       CAST(10000 * dau_sum // (n_days * mau) AS BIGINT) AS stickiness_bp
        |FROM md JOIN mau USING (month)
        |ORDER BY month""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir).select(
        date_trunc("month", to_date(col("ts"))).cast("date").as("month"),
        to_date(col("ts")).as("day"), col("user_id"))
      val dau = ev.groupBy("month", "day")
        .agg(countDistinct("user_id").as("dau"))
      val md = dau.groupBy("month")
        .agg(sum("dau").as("dau_sum"), count(lit(1)).as("n_days"))
      val mau = ev.groupBy("month").agg(countDistinct("user_id").as("mau"))
      md.join(mau, "month")
        .selectExpr("month", "n_days", "dau_sum", "mau",
          "CAST(1000 * dau_sum div n_days AS BIGINT) AS dau_avg_milli",
          "CAST(10000 * dau_sum div (n_days * mau) AS BIGINT) AS stickiness_bp")
        .orderBy("month")
    },

    // ---- new vs returning actives (q311): per-day decomposition of
    //      the active-user count by first-seen date — the q270
    //      first-seen attribution at user (not vocab) granularity. One
    //      min-aggregate finds each user's first day; the daily
    //      rollup then splits actives exactly (new + returning =
    //      active, Σnew over days = total users — both identities
    //      spec-pinned). ----
    QueryDef(
      "q311_new_returning",
      """WITH ev AS (
        |  SELECT CAST(ts AS DATE) AS day, user_id FROM events),
        |fs AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY 1),
        |du AS (SELECT DISTINCT day, user_id FROM ev),
        |j AS (SELECT du.day, du.user_id,
        |        CASE WHEN du.day = fs.first_day THEN 1 ELSE 0 END AS is_new
        |      FROM du JOIN fs ON du.user_id = fs.user_id)
        |SELECT day, CAST(count(*) AS BIGINT) AS n_active,
        |       CAST(sum(is_new) AS BIGINT) AS n_new,
        |       CAST(count(*) - sum(is_new) AS BIGINT) AS n_returning
        |FROM j GROUP BY day ORDER BY day""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir)
        .select(to_date(col("ts")).as("day"), col("user_id"))
      val fs = ev.groupBy("user_id").agg(min("day").as("first_day"))
      val du = ev.distinct()
      du.join(fs, "user_id")
        .select(col("day"),
          when(col("day") === col("first_day"), 1L).otherwise(0L).as("is_new"))
        .groupBy("day")
        .agg(count(lit(1)).as("n_active"), sum("is_new").as("n_new"),
          (count(lit(1)) - sum("is_new")).as("n_returning"))
        .orderBy("day")
    },

    // ---- RFM segmentation (q312): the classic customer-value grid —
    //      recency (days since last order), frequency (orders),
    //      monetary (cents) per customer, each cut into quintiles by
    //      globalRank (NO single-partition window; ties break by
    //      custkey, the q298 discipline), composed into the 111..555
    //      segment code. Output = segment-level rollup: population and
    //      exact monetary mass per cell. ----
    QueryDef(
      "q312_rfm_segments",
      """WITH o AS (
        |  SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS od,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |mx AS (SELECT max(od) AS maxd FROM o),
        |c AS (SELECT ck,
        |        CAST(date_diff('day', max(od), (SELECT maxd FROM mx)) AS BIGINT) AS r_days,
        |        CAST(count(*) AS BIGINT) AS f_orders,
        |        CAST(sum(cents) AS BIGINT) AS m_cents
        |      FROM o GROUP BY ck),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
        |q AS (SELECT ck, r_days, f_orders, m_cents,
        |        ((row_number() OVER (ORDER BY r_days DESC, ck) - 1) * 5) // n + 1 AS r_q,
        |        ((row_number() OVER (ORDER BY f_orders, ck) - 1) * 5) // n + 1 AS f_q,
        |        ((row_number() OVER (ORDER BY m_cents, ck) - 1) * 5) // n + 1 AS m_q
        |      FROM c CROSS JOIN n)
        |SELECT CAST(r_q * 100 + f_q * 10 + m_q AS BIGINT) AS rfm_code,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(sum(m_cents) AS BIGINT) AS sum_cents
        |FROM q GROUP BY 1 ORDER BY rfm_code""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir).select(col("o_custkey").as("ck"),
        to_date(col("o_orderdate")).as("od"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val mx = o.agg(max("od").as("maxd"))
      val c = o.crossJoin(broadcast(mx))
        .groupBy("ck")
        .agg(expr("CAST(datediff(max(maxd), max(od)) AS BIGINT)").as("r_days"),
          count(lit(1)).as("f_orders"), sum("cents").as("m_cents"))
      // rank passes CHAINED (guide §2.4): globalRank APPENDS its rank
      // column and pins its output internally, so each pass ranks the
      // previous pass's materialized frame — the former shape ranked a
      // separately-pinned c three times and joined the three rank
      // frames back on ck (3 joins + 1 extra checkpoint, all removed;
      // same rank values, every pass ranks the same row set).
      val (rRank, Seq(n)) = Scale.scan(c.withColumn("neg_r", -col("r_days")),
        Seq("neg_r", "ck"), Scale.RowNumber("rr"))
      val fRank = Scale.globalRank(rRank, "fr", "f_orders", "ck")
      val mRank = Scale.globalRank(fRank, "mr", "m_cents", "ck")
      mRank
        .selectExpr(
          s"CAST((((rr - 1) * 5) div $n + 1) * 100" +
            s" + (((fr - 1) * 5) div $n + 1) * 10" +
            s" + (((mr - 1) * 5) div $n + 1) AS BIGINT) AS rfm_code",
          "m_cents")
        .groupBy("rfm_code")
        .agg(count(lit(1)).as("n_customers"), sum("m_cents").as("sum_cents"))
        .orderBy("rfm_code")
    }.copy(headline = true), // sweep slow-tail promotion (round 8, final tier)

    // ---- revenue concentration (q313): the 80/20 report — how few
    //      customers cover 50/80/90% of revenue. Customers ranked by
    //      exact cent mass (desc, custkey ties) through ONE
    //      Scale.scan pass; a customer is needed for threshold p iff
    //      the mass BEFORE it is short of p — an exclusive-prefix
    //      filter, counted exactly per threshold with integer
    //      cross-products (no percent rounding before the compare).
    //      The concentration twin of q262's Gini. ----
    QueryDef(
      "q313_pareto_coverage",
      """WITH c AS (
        |  SELECT o_custkey AS ck, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |           AS BIGINT) AS cents
        |  FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total,
        |        CAST(count(*) AS BIGINT) AS n_cust FROM c),
        |r AS (SELECT ck, cents,
        |        sum(cents) OVER (ORDER BY cents DESC, ck
        |          ROWS UNBOUNDED PRECEDING) - cents AS cum_excl
        |      FROM c),
        |p AS (SELECT 50 AS pct UNION ALL SELECT 80 UNION ALL SELECT 90)
        |SELECT pct,
        |       CAST(count(*) AS BIGINT) AS n_customers,
        |       CAST(10000 * count(*) // n_cust AS BIGINT) AS share_of_customers_bp
        |FROM p CROSS JOIN t JOIN r ON r.cum_excl * 100 < pct * t.total
        |GROUP BY pct, n_cust ORDER BY pct""".stripMargin) { (s, dir) =>
      val c = Tables.orders(s, dir)
        .select(col("o_custkey").as("ck"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .groupBy("ck").agg(sum("cents").as("cents"))
        .withColumn("neg", -col("cents"))
      // pinned by the scan; three threshold counts read it. The scan
      // returns the cent total and the customer count.
      val (ranked0, Seq(total, nCust)) = Scale.scan(c, Seq("neg", "ck"),
        Scale.Sum("cents", "cum"), Scale.RowNumber("rn"))
      val ranked = ranked0.withColumn("cum_excl", col("cum") - col("cents"))
      Seq(50, 80, 90).map { pct =>
        ranked.filter(col("cum_excl") * 100 < lit(pct.toLong) * total)
          .agg(count(lit(1)).as("n_customers"))
          .selectExpr(s"$pct AS pct", "n_customers",
            s"CAST(10000 * n_customers div $nCust AS BIGINT) AS share_of_customers_bp")
      }.reduce(_ unionByName _).orderBy("pct")
    },

    // ---- ship-lag SLA distribution (q314): days from order to line
    //      shipment per order priority — count, exact mean, q69-contract
    //      p50/p90, and max, from exact integer day lags. The
    //      operational freshness report every SLA dashboard starts
    //      with; one join + one grouped aggregate. ----
    QueryDef(
      "q314_ship_lag",
      s"""WITH j AS (
         |  SELECT o_orderpriority AS pri,
         |         CAST(date_diff('day', CAST(o_orderdate AS DATE),
         |           CAST(l_shipdate AS DATE)) AS BIGINT) AS lag_d
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         |a AS (SELECT pri, CAST(count(*) AS BIGINT) AS n_lines,
         |        CAST(sum(lag_d) AS BIGINT) AS sum_d,
         |        CAST(max(lag_d) AS BIGINT) AS max_d,
         |        count(*) AS n, list(lag_d ORDER BY lag_d) AS ds
         |      FROM j GROUP BY pri)
         |SELECT pri, n_lines,
         |       CAST(round(1000 * CAST(sum_d AS DOUBLE) / CAST(n_lines AS DOUBLE)) AS BIGINT) AS mean_d_milli,
         |       CAST(round(1000 * ${OracleSql.pctlSql("ds", "0.50")}) AS BIGINT) AS p50_d_milli,
         |       CAST(round(1000 * ${OracleSql.pctlSql("ds", "0.90")}) AS BIGINT) AS p90_d_milli,
         |       max_d
         |FROM a ORDER BY pri""".stripMargin) { (s, dir) =>
      Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
        .join(Tables.orders(s, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority").as("pri"),
          datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate")))
            .cast("long").as("lag_d"))
        .groupBy("pri")
        .agg(count(lit(1)).as("n_lines"), sum("lag_d").as("sum_d"),
          max("lag_d").as("max_d"),
          percentile(col("lag_d"), lit(0.5)).as("p50"),
          percentile(col("lag_d"), lit(0.9)).as("p90"))
        .selectExpr("pri", "n_lines",
          "CAST(round(1000 * CAST(sum_d AS DOUBLE) / CAST(n_lines AS DOUBLE)) AS BIGINT) AS mean_d_milli",
          "CAST(round(1000 * p50) AS BIGINT) AS p50_d_milli",
          "CAST(round(1000 * p90) AS BIGINT) AS p90_d_milli", "max_d")
        .orderBy("pri")
    },

    // ---- Simpson's-paradox audit (q315): does the quantity↔price
    //      association flip sign inside return-flag groups vs pooled —
    //      the aggregation trap every segment report should test for.
    //      Covariance NUMERATORS (n·Σxy − Σx·Σy) are exact 128-bit
    //      integers (Spark DECIMAL(38,0), DuckDB HUGEINT — the q322
    //      discipline), so sign decisions are integer-exact at ANY sf
    //      (n·Σxy reaches ~3e27 at 100 TB, far past BIGINT but well
    //      inside 38 digits); the correlation itself is one shared
    //      double expression. Pooled moments derive from the group
    //      moments by summation — one aggregate total. ----
    QueryDef(
      "q315_simpsons", {
        val cov = "(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)"
        val vx = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        val vy = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
        // variance products stay in DOUBLE: n·syy alone overflows BIGINT
        // already at sf0.01 (price² sums); the SIGN test below keeps the
        // integer-exact covariance numerator
        val corr =
          s"""CASE WHEN $vx = 0 OR $vy = 0 THEN NULL
             | ELSE CAST(round(1000 * CAST($cov AS DOUBLE)
             | / sqrt($vx * $vy)) AS BIGINT) END"""
            .stripMargin.replaceAll("\n", "")
        val sgn = s"CASE WHEN $cov > 0 THEN 1 WHEN $cov < 0 THEN -1 ELSE 0 END"
        s"""WITH l AS (
           |  SELECT l_returnflag AS grp,
           |         CAST(round(l_quantity) AS BIGINT) AS x,
           |         CAST(round(l_extendedprice) AS BIGINT) AS y
           |  FROM lineitem),
           |g AS (SELECT grp, CAST(count(*) AS BIGINT) AS n,
           |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           |        CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
           |        CAST(sum(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
           |        CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
           |      FROM l GROUP BY grp),
           |p AS (SELECT 'ALL' AS grp, CAST(sum(n) AS BIGINT) AS n,
           |        CAST(sum(sx) AS BIGINT) AS sx, CAST(sum(sy) AS BIGINT) AS sy,
           |        CAST(sum(sxx) AS HUGEINT) AS sxx, CAST(sum(sxy) AS HUGEINT) AS sxy,
           |        CAST(sum(syy) AS HUGEINT) AS syy
           |      FROM g),
           |u AS (SELECT * FROM g UNION ALL SELECT * FROM p),
           |ps AS (SELECT $sgn AS pooled_sign FROM p)
           |SELECT grp, n, CAST($sgn AS BIGINT) AS cov_sign, $corr AS corr_milli,
           |       CAST(CASE WHEN grp <> 'ALL' AND $sgn <> pooled_sign
           |            THEN 1 ELSE 0 END AS BIGINT) AS sign_flips_vs_pooled
           |FROM u CROSS JOIN ps ORDER BY grp""".stripMargin
      }) { (s, dir) =>
      val cov = "(CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)"
      val vx = "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
      val vy = "(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
      val corr =
        s"""CASE WHEN $vx = 0 OR $vy = 0 THEN NULL
           | ELSE CAST(round(1000 * CAST($cov AS DOUBLE)
           | / sqrt($vx * $vy)) AS BIGINT) END"""
          .stripMargin.replaceAll("\n", "")
      val sgn = s"CASE WHEN $cov > 0 THEN 1 WHEN $cov < 0 THEN -1 ELSE 0 END"
      val l = Tables.lineitem(s, dir).selectExpr("l_returnflag AS grp",
        "CAST(round(l_quantity) AS BIGINT) AS x",
        "CAST(round(l_extendedprice) AS BIGINT) AS y")
      val g = l.groupBy("grp").agg(count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("syy"))
        .localCheckpoint() // pooled row + union + output read it
      val p = g.agg(sum("n").as("n"), sum("sx").as("sx"), sum("sy").as("sy"),
        sum("sxx").as("sxx"), sum("sxy").as("sxy"), sum("syy").as("syy"))
        .selectExpr("'ALL' AS grp", "n", "sx", "sy", "sxx", "sxy", "syy")
        .localCheckpoint()
      val u = g.unionByName(p)
      val ps = p.selectExpr(s"$sgn AS pooled_sign")
      u.crossJoin(broadcast(ps))
        .selectExpr("grp", "n", s"CAST($sgn AS BIGINT) AS cov_sign",
          s"$corr AS corr_milli",
          s"""CAST(CASE WHEN grp <> 'ALL' AND $sgn <> pooled_sign
             | THEN 1 ELSE 0 END AS BIGINT) AS sign_flips_vs_pooled"""
            .stripMargin.replaceAll("\n", ""))
        .orderBy("grp")
    },

    // ---- mix-vs-rate decomposition (q316): why did mean event value
    //      move between the first and second half of the window —
    //      because the event-type MIX shifted, or because within-type
    //      rates changed? The Oaxaca-style split every metrics review
    //      asks for: Δ = Σ(w₂−w₁)·r₁  +  Σw₂·(r₂−r₁), per type. Halves
    //      by the q293 integer time midpoint; all cells exact (count,
    //      cent-sum) pairs from ONE conditional aggregate; terms are
    //      shared double expressions (empty-half types take r₁ = 0 by
    //      the same CASE on both engines). ----
    QueryDef(
      "q316_mix_decomposition", {
        val r1 = "CASE WHEN n1 = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) END"
        val r2 = "CASE WHEN n2 = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) END"
        val w1 = "CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)"
        val w2 = "CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE)"
        s"""WITH ev AS (
           |  SELECT event_type AS typ, epoch_us(ts) AS tus,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events),
           |b AS (SELECT min(tus) + ((max(tus) - min(tus)) // 2) AS bd FROM ev),
           |h AS (SELECT typ, CASE WHEN tus >= bd THEN 2 ELSE 1 END AS half, cents
           |      FROM ev CROSS JOIN b),
           |c AS (SELECT typ,
           |        CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           |        CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           |        CAST(sum(CASE WHEN half = 1 THEN cents ELSE 0 END) AS BIGINT) AS s1,
           |        CAST(sum(CASE WHEN half = 2 THEN cents ELSE 0 END) AS BIGINT) AS s2
           |      FROM h GROUP BY typ),
           |t AS (SELECT CAST(sum(n1) AS BIGINT) AS t1, CAST(sum(n2) AS BIGINT) AS t2 FROM c)
           |SELECT typ, n1, n2,
           |       CAST(round(1000 * $r1) AS BIGINT) AS rate1_cents_milli,
           |       CAST(round(1000 * $r2) AS BIGINT) AS rate2_cents_milli,
           |       CAST(round(1000000 * (($w2) - ($w1)) * ($r1)) AS BIGINT) AS mix_term_micro,
           |       CAST(round(1000000 * ($w2) * (($r2) - ($r1))) AS BIGINT) AS rate_term_micro
           |FROM c CROSS JOIN t ORDER BY typ""".stripMargin
      }) { (s, dir) =>
      val r1 = "CASE WHEN n1 = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) END"
      val r2 = "CASE WHEN n2 = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(s2 AS DOUBLE) / CAST(n2 AS DOUBLE) END"
      val w1 = "CAST(n1 AS DOUBLE) / CAST(t1 AS DOUBLE)"
      val w2 = "CAST(n2 AS DOUBLE) / CAST(t2 AS DOUBLE)"
      val ev = Tables.events(s, dir).selectExpr("event_type AS typ",
        "ts div 1000 AS tus", "CAST(round(value * 100) AS BIGINT) AS cents")
      val b = ev.agg(min("tus").as("lo"), max("tus").as("hi"))
        .selectExpr("lo + ((hi - lo) div 2) AS bd")
      val c = ev.crossJoin(broadcast(b))
        .selectExpr("typ", "CASE WHEN tus >= bd THEN 2 ELSE 1 END AS half", "cents")
        .groupBy("typ")
        .agg(sum(when(col("half") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("half") === 2, 1L).otherwise(0L)).as("n2"),
          sum(when(col("half") === 1, col("cents")).otherwise(0L)).as("s1"),
          sum(when(col("half") === 2, col("cents")).otherwise(0L)).as("s2"))
        .localCheckpoint() // totals + output read it
      val t = c.agg(sum("n1").as("t1"), sum("n2").as("t2"))
      c.crossJoin(broadcast(t))
        .selectExpr("typ", "n1", "n2",
          s"CAST(round(1000 * $r1) AS BIGINT) AS rate1_cents_milli",
          s"CAST(round(1000 * $r2) AS BIGINT) AS rate2_cents_milli",
          s"CAST(round(1000000 * (($w2) - ($w1)) * ($r1)) AS BIGINT) AS mix_term_micro",
          s"CAST(round(1000000 * ($w2) * (($r2) - ($r1))) AS BIGINT) AS rate_term_micro")
        .orderBy("typ")
    },

    // ---- ratio-metric delta-method CI (q317): purchases-per-event by
    //      arm — the ratio metric whose naive per-event variance is
    //      WRONG because users, not events, are the randomization unit
    //      (Deng et al., the classic A/B-test trap). User-level
    //      (x = purchases, y = events) moments per md5 arm are exact
    //      BIGINTs from one aggregate; R = Σx/Σy and the delta-method
    //      variance (σx² − 2Rσxy + R²σy²)/(n·ȳ²) are shared double
    //      expressions, composed into the treat−control z. ----
    QueryDef(
      "q317_ratio_metric_ci", {
        def arm(a: String): Map[String, String] = Map(
          "R" -> s"(CAST(sx$a AS DOUBLE) / CAST(sy$a AS DOUBLE))",
          "vx" -> s"((CAST(n$a AS DOUBLE) * CAST(sxx$a AS DOUBLE) - CAST(sx$a AS DOUBLE) * CAST(sx$a AS DOUBLE)) / (CAST(n$a AS DOUBLE) * (CAST(n$a AS DOUBLE) - 1)))",
          "vy" -> s"((CAST(n$a AS DOUBLE) * CAST(syy$a AS DOUBLE) - CAST(sy$a AS DOUBLE) * CAST(sy$a AS DOUBLE)) / (CAST(n$a AS DOUBLE) * (CAST(n$a AS DOUBLE) - 1)))",
          "vxy" -> s"((CAST(n$a AS DOUBLE) * CAST(sxy$a AS DOUBLE) - CAST(sx$a AS DOUBLE) * CAST(sy$a AS DOUBLE)) / (CAST(n$a AS DOUBLE) * (CAST(n$a AS DOUBLE) - 1)))",
          "ybar" -> s"(CAST(sy$a AS DOUBLE) / CAST(n$a AS DOUBLE))")
        def varR(a: String): String = {
          val m = arm(a)
          s"((${m("vx")} - 2 * ${m("R")} * ${m("vxy")} + ${m("R")} * ${m("R")} * ${m("vy")}) / (CAST(n$a AS DOUBLE) * ${m("ybar")} * ${m("ybar")}))"
        }
        val diff = s"(${arm("t")("R")} - ${arm("c")("R")})"
        val se = s"sqrt(${varR("t")} + ${varR("c")})"
        s"""WITH u AS (
           |  SELECT ${OracleSql.md5Long("CAST(user_id AS STRING) || '|did'")} % 2 AS treat,
           |         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
           |           AS BIGINT) AS x,
           |         CAST(count(*) AS BIGINT) AS y
           |  FROM events GROUP BY user_id),
           |m AS (
           |  SELECT
           |    CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           |    CAST(sum(CASE WHEN treat = 1 THEN x ELSE 0 END) AS BIGINT) AS sxt,
           |    CAST(sum(CASE WHEN treat = 1 THEN y ELSE 0 END) AS BIGINT) AS syt,
           |    CAST(sum(CASE WHEN treat = 1 THEN x * x ELSE 0 END) AS BIGINT) AS sxxt,
           |    CAST(sum(CASE WHEN treat = 1 THEN y * y ELSE 0 END) AS BIGINT) AS syyt,
           |    CAST(sum(CASE WHEN treat = 1 THEN x * y ELSE 0 END) AS BIGINT) AS sxyt,
           |    CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           |    CAST(sum(CASE WHEN treat = 0 THEN x ELSE 0 END) AS BIGINT) AS sxc,
           |    CAST(sum(CASE WHEN treat = 0 THEN y ELSE 0 END) AS BIGINT) AS syc,
           |    CAST(sum(CASE WHEN treat = 0 THEN x * x ELSE 0 END) AS BIGINT) AS sxxc,
           |    CAST(sum(CASE WHEN treat = 0 THEN y * y ELSE 0 END) AS BIGINT) AS syyc,
           |    CAST(sum(CASE WHEN treat = 0 THEN x * y ELSE 0 END) AS BIGINT) AS sxyc
           |  FROM u)
           |SELECT nt, nc,
           |       CAST(round(1000000 * ${arm("t")("R")}) AS BIGINT) AS ratio_t_micro,
           |       CAST(round(1000000 * ${arm("c")("R")}) AS BIGINT) AS ratio_c_micro,
           |       CAST(round(1000000 * $diff) AS BIGINT) AS diff_micro,
           |       CAST(round(1000000 * $se) AS BIGINT) AS se_micro,
           |       CAST(round(1000 * $diff / $se) AS BIGINT) AS z_milli
           |FROM m""".stripMargin
      }) { (s, dir) =>
      // identical shared expressions, rebuilt locally (same strings)
      def arm(a: String): Map[String, String] = Map(
        "R" -> s"(CAST(sx$a AS DOUBLE) / CAST(sy$a AS DOUBLE))",
        "vx" -> s"((CAST(n$a AS DOUBLE) * CAST(sxx$a AS DOUBLE) - CAST(sx$a AS DOUBLE) * CAST(sx$a AS DOUBLE)) / (CAST(n$a AS DOUBLE) * (CAST(n$a AS DOUBLE) - 1)))",
        "vy" -> s"((CAST(n$a AS DOUBLE) * CAST(syy$a AS DOUBLE) - CAST(sy$a AS DOUBLE) * CAST(sy$a AS DOUBLE)) / (CAST(n$a AS DOUBLE) * (CAST(n$a AS DOUBLE) - 1)))",
        "vxy" -> s"((CAST(n$a AS DOUBLE) * CAST(sxy$a AS DOUBLE) - CAST(sx$a AS DOUBLE) * CAST(sy$a AS DOUBLE)) / (CAST(n$a AS DOUBLE) * (CAST(n$a AS DOUBLE) - 1)))",
        "ybar" -> s"(CAST(sy$a AS DOUBLE) / CAST(n$a AS DOUBLE))")
      def varR(a: String): String = {
        val m = arm(a)
        s"((${m("vx")} - 2 * ${m("R")} * ${m("vxy")} + ${m("R")} * ${m("R")} * ${m("vy")}) / (CAST(n$a AS DOUBLE) * ${m("ybar")} * ${m("ybar")}))"
      }
      val diff = s"(${arm("t")("R")} - ${arm("c")("R")})"
      val se = s"sqrt(${varR("t")} + ${varR("c")})"
      val u = Tables.events(s, dir)
        .groupBy("user_id")
        .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("x"),
          count(lit(1)).as("y"))
        .withColumn("treat",
          pmod(TextAnalysis.md5Long(concat(col("user_id").cast("string"), lit("|did"))),
            lit(2L)))
      def cell(t: Int, e: String) =
        sum(when(col("treat") === t, expr(e)).otherwise(0L))
      u.agg(
        cell(1, "1").as("nt"), cell(1, "x").as("sxt"), cell(1, "y").as("syt"),
        cell(1, "x * x").as("sxxt"), cell(1, "y * y").as("syyt"),
        cell(1, "x * y").as("sxyt"),
        cell(0, "1").as("nc"), cell(0, "x").as("sxc"), cell(0, "y").as("syc"),
        cell(0, "x * x").as("sxxc"), cell(0, "y * y").as("syyc"),
        cell(0, "x * y").as("sxyc"))
        .selectExpr("nt", "nc",
          s"""CAST(round(1000000 * ${arm("t")("R")}) AS BIGINT) AS ratio_t_micro""",
          s"""CAST(round(1000000 * ${arm("c")("R")}) AS BIGINT) AS ratio_c_micro""",
          s"CAST(round(1000000 * $diff) AS BIGINT) AS diff_micro",
          s"CAST(round(1000000 * $se) AS BIGINT) AS se_micro",
          s"CAST(round(1000 * $diff / $se) AS BIGINT) AS z_milli")
    },

    // ---- uplift-trend slope (q318): is the treatment effect fading —
    //      the novelty-effect check run on every experiment that looks
    //      good in week one. Daily treat−control mean-spend gaps are
    //      quantized to EXACT milli integers per day (shared CASE
    //      drops days missing an arm identically on both engines),
    //      then the day-index OLS slope is closed-form integer sums
    //      (the q288 machinery, 2-var form) — no iterative fit. ----
    QueryDef(
      "q318_uplift_trend", {
        val dMilli =
          """CAST(round(1000 * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
            | - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))) AS BIGINT)"""
            .stripMargin.replaceAll("\n", "")
        val slope =
          """CAST(round(1000 * (CAST(n * sid - si * sd AS DOUBLE)
            | / CAST(n * sii - si * si AS DOUBLE))) AS BIGINT)"""
            .stripMargin.replaceAll("\n", "")
        s"""WITH ev AS (
           |  SELECT CAST(ts AS DATE) AS day,
           |         ${OracleSql.md5Long("CAST(user_id AS STRING) || '|did'")} % 2 AS treat,
           |         CAST(round(value * 100) AS BIGINT) AS cents
           |  FROM events),
           |d0 AS (SELECT min(day) AS mind FROM ev),
           |g AS (SELECT day,
           |        CAST(sum(CASE WHEN treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt,
           |        CAST(sum(CASE WHEN treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc,
           |        CAST(sum(CASE WHEN treat = 1 THEN cents ELSE 0 END) AS BIGINT) AS st,
           |        CAST(sum(CASE WHEN treat = 0 THEN cents ELSE 0 END) AS BIGINT) AS sc
           |      FROM ev GROUP BY day),
           |pts AS (SELECT CAST(date_diff('day', mind, day) AS BIGINT) AS i,
           |          $dMilli AS d
           |        FROM g CROSS JOIN d0 WHERE nt > 0 AND nc > 0),
           |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(i) AS BIGINT) AS si,
           |        CAST(sum(d) AS BIGINT) AS sd, CAST(sum(i * i) AS BIGINT) AS sii,
           |        CAST(sum(i * d) AS BIGINT) AS sid
           |      FROM pts)
           |SELECT n AS n_days, sd,
           |       CAST(round(1000 * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT)
           |         AS mean_uplift_micro,
           |       $slope AS slope_micro_per_day
           |FROM m""".stripMargin
      }) { (s, dir) =>
      val dMilli =
        """CAST(round(1000 * (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)
          | - CAST(sc AS DOUBLE) / CAST(nc AS DOUBLE))) AS BIGINT)"""
          .stripMargin.replaceAll("\n", "")
      val slope =
        """CAST(round(1000 * (CAST(n * sid - si * sd AS DOUBLE)
          | / CAST(n * sii - si * si AS DOUBLE))) AS BIGINT)"""
          .stripMargin.replaceAll("\n", "")
      val ev = Tables.eventsTs(s, dir).select(to_date(col("ts")).as("day"),
        pmod(TextAnalysis.md5Long(concat(col("user_id").cast("string"), lit("|did"))),
          lit(2L)).as("treat"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val d0 = ev.agg(min("day").as("mind"))
      val g = ev.groupBy("day").agg(
        sum(when(col("treat") === 1, 1L).otherwise(0L)).as("nt"),
        sum(when(col("treat") === 0, 1L).otherwise(0L)).as("nc"),
        sum(when(col("treat") === 1, col("cents")).otherwise(0L)).as("st"),
        sum(when(col("treat") === 0, col("cents")).otherwise(0L)).as("sc"))
      g.crossJoin(broadcast(d0))
        .filter(col("nt") > 0 && col("nc") > 0)
        .selectExpr("CAST(datediff(day, mind) AS BIGINT) AS i", s"$dMilli AS d")
        .agg(count(lit(1)).as("n"), sum("i").as("si"), sum("d").as("sd"),
          sum(expr("i * i")).as("sii"), sum(expr("i * d")).as("sid"))
        .selectExpr("n AS n_days", "sd",
          "CAST(round(1000 * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE)) AS BIGINT) AS mean_uplift_micro",
          s"$slope AS slope_micro_per_day")
    },

    // ---- empirical-Bayes shrunk keep rates (q320): per-source quality
    //      pass rates shrunk toward a method-of-moments beta prior —
    //      the q203 Wilson bound's EB sibling: a 3-doc source with 3
    //      passes should NOT outrank a 500-doc source at 95%. Counts
    //      are exact; the prior's rate mean/variance use an
    //      INDEX-ORDERED fold over the ≤k source rows (the q171
    //      discipline — a parallel double sum would be order-dependent),
    //      and degenerate priors (zero variance / non-positive
    //      concentration) fall back to the flat Beta(1,1) by the same
    //      CASE on both engines. ----
    QueryDef(
      "q320_eb_shrunk_rates", {
        val m = "(sr / k)"
        val v = s"(srr / k - $m * $m)"
        val common = s"($m * (1 - $m) / $v - 1)"
        val alpha = s"(CASE WHEN $v <= 0 OR $common <= 0 THEN CAST(1 AS DOUBLE) ELSE $m * $common END)"
        val beta = s"(CASE WHEN $v <= 0 OR $common <= 0 THEN CAST(1 AS DOUBLE) ELSE (1 - $m) * $common END)"
        val rSql = "CAST(x AS DOUBLE) / CAST(n AS DOUBLE)"
        s"""WITH g AS (
           |  SELECT source, CAST(count(*) AS BIGINT) AS n,
           |         CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS x
           |  FROM documents GROUP BY source),
           |f AS (
           |  SELECT CAST(count(*) AS BIGINT) AS k,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list($rSql ORDER BY source)), (a, b) -> a + b) AS sr,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list_transform(list($rSql ORDER BY source), r -> r * r)),
           |      (a, b) -> a + b) AS srr
           |  FROM g),
           |pr AS (SELECT $alpha AS al, $beta AS be FROM f)
           |SELECT source, n AS n_docs, x AS n_kept,
           |       CAST(round(1000 * $rSql) AS BIGINT) AS raw_rate_milli,
           |       CAST(round(1000 * (CAST(x AS DOUBLE) + al)
           |         / (CAST(n AS DOUBLE) + al + be)) AS BIGINT) AS shrunk_rate_milli
           |FROM g CROSS JOIN pr ORDER BY source""".stripMargin
      }) { (s, dir) =>
      val m = "(sr / k)"
      val v = s"(srr / k - $m * $m)"
      val common = s"($m * (1 - $m) / $v - 1)"
      val alpha = s"(CASE WHEN $v <= 0 OR $common <= 0 THEN CAST(1 AS DOUBLE) ELSE $m * $common END)"
      val beta = s"(CASE WHEN $v <= 0 OR $common <= 0 THEN CAST(1 AS DOUBLE) ELSE (1 - $m) * $common END)"
      val rSql = "CAST(x AS DOUBLE) / CAST(n AS DOUBLE)"
      val g = Tables.documents(s, dir)
        .groupBy("source")
        .agg(count(lit(1)).as("n"),
          sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).as("x"))
        .localCheckpoint() // prior fold + output read it
      val f = g.selectExpr("source", s"$rSql AS r")
        .agg(count(lit(1)).as("k"),
          expr("""aggregate(
            transform(sort_array(collect_list(struct(source, r))), z -> z.r),
            CAST(0 AS DOUBLE), (a, b) -> a + b)""").as("sr"),
          expr("""aggregate(
            transform(sort_array(collect_list(struct(source, r))), z -> z.r * z.r),
            CAST(0 AS DOUBLE), (a, b) -> a + b)""").as("srr"))
      val pr = f.selectExpr(s"$alpha AS al", s"$beta AS be")
      g.crossJoin(broadcast(pr))
        .selectExpr("source", "n AS n_docs", "x AS n_kept",
          s"CAST(round(1000 * $rSql) AS BIGINT) AS raw_rate_milli",
          s"""CAST(round(1000 * (CAST(x AS DOUBLE) + al)
             | / (CAST(n AS DOUBLE) + al + be)) AS BIGINT) AS shrunk_rate_milli"""
            .stripMargin.replaceAll("\n", ""))
        .orderBy("source")
    },

    // ---- Mantel-Haenszel pooled odds ratio (q321): is long-doc status
    //      associated with English across sources WITHOUT Simpson
    //      confounding — the stratified 2×2 estimator (MH 1959) that
    //      q315 motivates. Per-source cells are exact integers from one
    //      conditional aggregate; per-stratum ORs are NULL-guarded
    //      shared divisions; the pooled Σ(ad/n)/Σ(bc/n) uses
    //      index-ordered folds over the ≤k strata (the q171 discipline)
    //      so both engines add the rationals in the same order. ----
    QueryDef(
      "q321_mantel_haenszel", {
        val orSql =
          """CASE WHEN b * c = 0 THEN NULL
            | ELSE CAST(round(1000 * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
            |   / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))) AS BIGINT) END"""
            .stripMargin.replaceAll("\n", "")
        s"""WITH t AS (
           |  SELECT source,
           |         CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS e,
           |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS o
           |  FROM documents),
           |g AS (
           |  SELECT source,
           |    CAST(sum(CASE WHEN e = 1 AND o = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
           |    CAST(sum(CASE WHEN e = 1 AND o = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
           |    CAST(sum(CASE WHEN e = 0 AND o = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
           |    CAST(sum(CASE WHEN e = 0 AND o = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
           |  FROM t GROUP BY source),
           |f AS (
           |  SELECT
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
           |           / CAST(a + b + c + d AS DOUBLE) ORDER BY source)),
           |      (x, y) -> x + y) AS num,
           |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
           |      list(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
           |           / CAST(a + b + c + d AS DOUBLE) ORDER BY source)),
           |      (x, y) -> x + y) AS den
           |  FROM g),
           |per AS (
           |  SELECT source, a, b, c, d, $orSql AS or_milli FROM g),
           |pooled AS (
           |  SELECT 'ALL(MH)' AS source,
           |    (SELECT CAST(sum(a) AS BIGINT) FROM g) AS a,
           |    (SELECT CAST(sum(b) AS BIGINT) FROM g) AS b,
           |    (SELECT CAST(sum(c) AS BIGINT) FROM g) AS c,
           |    (SELECT CAST(sum(d) AS BIGINT) FROM g) AS d,
           |    CASE WHEN den = 0 THEN NULL
           |         ELSE CAST(round(1000 * num / den) AS BIGINT) END AS or_milli
           |  FROM f)
           |SELECT source, a, b, c, d, or_milli FROM per
           |UNION ALL SELECT * FROM pooled
           |ORDER BY source""".stripMargin
      }) { (s, dir) =>
      val orSql =
        """CASE WHEN b * c = 0 THEN NULL
          | ELSE CAST(round(1000 * (CAST(a AS DOUBLE) * CAST(d AS DOUBLE))
          |   / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE))) AS BIGINT) END"""
          .stripMargin.replaceAll("\n", "")
      val t = Tables.documents(s, dir).selectExpr("source",
        "CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS e",
        "CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS o")
      val g = t.groupBy("source").agg(
        sum(when(col("e") === 1 && col("o") === 1, 1L).otherwise(0L)).as("a"),
        sum(when(col("e") === 1 && col("o") === 0, 1L).otherwise(0L)).as("b"),
        sum(when(col("e") === 0 && col("o") === 1, 1L).otherwise(0L)).as("c"),
        sum(when(col("e") === 0 && col("o") === 0, 1L).otherwise(0L)).as("d"))
        .localCheckpoint() // per-stratum rows + folds + pooled cells read it
      def fold(termSql: String) = expr(
        s"""aggregate(
           |  transform(sort_array(collect_list(struct(source,
           |    $termSql AS tv))), z -> z.tv),
           |  CAST(0 AS DOUBLE), (x, y) -> x + y)""".stripMargin)
      val f = g.agg(
        fold("CAST(a AS DOUBLE) * CAST(d AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)").as("num"),
        fold("CAST(b AS DOUBLE) * CAST(c AS DOUBLE) / CAST(a + b + c + d AS DOUBLE)").as("den"))
      val per = g.selectExpr("source", "a", "b", "c", "d", s"$orSql AS or_milli")
      val pooled = g.agg(sum("a").as("a"), sum("b").as("b"),
        sum("c").as("c"), sum("d").as("d"))
        .crossJoin(broadcast(f))
        .selectExpr("'ALL(MH)' AS source", "a", "b", "c", "d",
          """CASE WHEN den = 0 THEN NULL
            | ELSE CAST(round(1000 * num / den) AS BIGINT) END AS or_milli"""
            .stripMargin.replaceAll("\n", ""))
      per.unionByName(pooled).orderBy("source")
    },

    // ---- day-of-week seasonality index (q322): per-dow mean spend vs
    //      the overall mean, FULLY integer (10000·s_d·N div (n_d·S) —
    //      no double division at all), with the dow derived portably as
    //      days-since-a-known-Monday mod 7 (engine dayofweek()
    //      conventions disagree; arithmetic doesn't — and both sides
    //      spell it non-negatively, (x%7+7)%7 / pmod, so a pre-1970
    //      timestamp cannot split the engines on % sign). The
    //      multiplicative profile every staffing/capacity plan reads.
    //      Exact at any sf: index_bp's products run through 128-bit
    //      integer space on BOTH sides (Spark DECIMAL(38,0), DuckDB
    //      HUGEINT — the q151/q264 precedent), so 10000·sum_cents·nn
    //      is overflow-safe while the corpus total spend stays under
    //      ~1e34 cents·events — unreachable at any physical sf. All
    //      quantities are non-negative, so floor (//) and trunc (div)
    //      agree. ----
    QueryDef(
      "q322_dow_index",
      """WITH ev AS (
        |  SELECT (date_diff('day', DATE '1970-01-05', CAST(ts AS DATE)) % 7 + 7) % 7 AS dow,
        |         CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |g AS (SELECT dow, CAST(count(*) AS BIGINT) AS n_events,
        |        CAST(sum(cents) AS BIGINT) AS sum_cents
        |      FROM ev GROUP BY dow),
        |t AS (SELECT CAST(sum(n_events) AS BIGINT) AS nn,
        |        CAST(sum(sum_cents) AS BIGINT) AS ss FROM g)
        |SELECT CAST(dow AS BIGINT) AS dow, n_events, sum_cents,
        |       CAST(CAST(10000 AS HUGEINT) * sum_cents * nn
        |            // (CAST(n_events AS HUGEINT) * ss) AS BIGINT) AS index_bp
        |FROM g CROSS JOIN t ORDER BY dow""".stripMargin) { (s, dir) =>
      val ev = Tables.eventsTs(s, dir).select(
        pmod(datediff(to_date(col("ts")), lit("1970-01-05").cast("date")), lit(7))
          .cast("long").as("dow"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      val g = ev.groupBy("dow")
        .agg(count(lit(1)).as("n_events"), sum("cents").as("sum_cents"))
        .localCheckpoint() // totals + output read it
      val t = g.agg(sum("n_events").as("nn"), sum("sum_cents").as("ss"))
      g.crossJoin(broadcast(t))
        .selectExpr("dow", "n_events", "sum_cents",
          """CAST(CAST(10000 AS DECIMAL(38,0)) * sum_cents * nn
            |     div (CAST(n_events AS DECIMAL(38,0)) * ss) AS BIGINT) AS index_bp"""
            .stripMargin.replaceAll("\n", ""),
        )
        .orderBy("dow")
    }
  )
}
