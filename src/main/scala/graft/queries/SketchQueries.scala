package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.queries.QueryDsl._
import graft.tables.Tables

/** Round-14 sketch + graph additions: the bounded-memory summary
  * structures a 100 TB engine actually runs on — HyperLogLog distinct
  * counting (Flajolet et al. 2007) with register-level merge, Bloom-filter
  * join pruning (Bloom 1970), Count-Min heavy-hitter estimation (Cormode &
  * Muthukrishnan 2005) — plus an integer-exact iterative PageRank (Brin &
  * Page 1998) beside the connected-components loop, and a z-score
  * time-series anomaly gate. Every gate is DuckDB-oracle-judged: the
  * sketches use md5-derived hash families (identical hex in Spark, JVM
  * MessageDigest, and DuckDB — the registry's hashId contract) and keep
  * their accumulators in exact integer units, so both engines compute the
  * same registers, bits, counters, and ranks bit-for-bit.
  */
object SketchQueries {

  // ---- HyperLogLog ---------------------------------------------------------
  // m = 64 registers (6 index bits); the remaining 54 bits of the 60-bit
  // md5-prefix hash feed rho = 1 + leading-zero count (1..54; 55 for an
  // all-zero payload). The register sum Z = Σ 2^-max_rho is held scaled by
  // 2^55 as a BIGINT — sums of sub-ulp-spanning powers of two would round
  // order-dependently in double, the scaled integer sum cannot. Absent
  // registers contribute 2^0 = 1 (scaled 2^55) each. Estimate = alpha_64 ·
  // m² / Z with the standard m·ln(m/V) linear-counting fallback below
  // 2.5m when V registers are empty; ln differs by ≤1 ulp across libms,
  // which the r6 grid absorbs (the text_bigram_surprise precedent).
  private val HllM = 64L
  private val HllPayloadBits = 54
  // alpha_64 · m² · 2^55 precomputed as ONE driver double so both engines
  // evaluate a single literal-over-integer division (alpha_64 = 0.709,
  // Flajolet et al. 2007 §4 for m = 64)
  private val HllAlphaNumer: Double = 0.709 * 4096.0 * math.pow(2.0, 55)

  /** rho over the 54-bit payload: an integer-comparison CASE ladder (first
    * set bit from the top), exact in both engines — no log2 rounding risk.
    * The payload itself must stay INTEGRAL end to end: Spark's `/` on
    * longs is double division (which rounds 60-bit hashes at the ladder
    * thresholds), so the caller shifts the 6 index bits off with
    * shiftright, the exact twin of the oracle's `// 64`.
    */
  private def hllRho(w: Column): Column =
    (1 to HllPayloadBits).foldRight(lit(HllPayloadBits + 1)) { (j, els) =>
      when(w >= lit(1L << (HllPayloadBits - j)), lit(j)).otherwise(els)
    }

  private def hllRhoSql(w: String): String = {
    val whens = (1 to HllPayloadBits)
      .map(j => s"WHEN ($w) >= ${1L << (HllPayloadBits - j)} THEN $j")
      .mkString(" ")
    s"(CASE $whens ELSE ${HllPayloadBits + 1} END)"
  }

  /** `(event_type, idx, mx)` HLL registers over an `(event_type, user_id)`
    * relation — ONE definition for the batch gate and the streaming twin
    * (every expression is row-deterministic and the only aggregate is
    * `max`, so the same code runs as a batch hash-agg or a streaming
    * stateful agg with ≤ types×64 rows of state).
    */
  private[queries] def hllRegs(ev: DataFrame): DataFrame = {
    val h = hash60(col("user_id").cast("string"))
    ev.select(col("event_type"), (h % HllM).as("idx"),
        hllRho(shiftright(h, 6)).as("rho"))
      .groupBy(col("event_type"), col("idx"))
      .agg(max(col("rho")).as("mx"))
  }

  /** Exact per-type distinct counts plus the overall '__union__' row —
    * the calibration side both HLL gates join against.
    */
  private def hllExact(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
      .unionAll(ev.agg(countDistinct(col("user_id")).as("n_exact"))
        .select(lit("__union__").as("event_type"), col("n_exact")))

  /** Register max-merge ('__union__' row), estimate (with the
    * linear-counting fallback), and the rel_err calibration join — the
    * shared tail of both HLL gates, taking registers from either the
    * batch hash-agg or the streaming sink.
    */
  private def hllReport(regs: DataFrame, exact: DataFrame): DataFrame = {
    val merged = regs.groupBy(col("idx")).agg(max(col("mx")).as("mx"))
      .select(lit("__union__").as("event_type"), col("idx"), col("mx"))
    val est = hllEstFromRegs(
      regs.select(col("event_type"), col("idx"), col("mx")).unionAll(merged),
      Seq("event_type"))
    est.join(exact, "event_type")
      .withColumn("rel_err",
        r6((col("hll_estimate") - col("n_exact")) / col("n_exact")))
      .select(col("event_type"), col("n_exact"), col("n_registers"),
        col("hll_estimate"), col("rel_err"))
      .orderBy(col("event_type"))
  }

  /** `(keys…, n_registers, hll_estimate)` from a register relation
    * `(keys…, idx, mx)` — THE estimate chain, one definition for all
    * three HLL gates: [[hllReport]] (distinct + streaming twin) groups by
    * event_type, the intersection gate by the (ta, tb) pair of its
    * max-merged registers. Scaled-integer ztot sum, linear-counting
    * fallback, and the r6 pin live only here, so a constant tune cannot
    * de-synchronize the siblings.
    */
  private def hllEstFromRegs(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_registers"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), " +
          s"CAST(${HllPayloadBits + 1} - mx AS INT))")).as("zp"))
      .withColumn("zeros", lit(HllM) - col("n_registers"))
      .withColumn("ztot",
        col("zp") + col("zeros") * lit(1L << (HllPayloadBits + 1)))
      .withColumn("raw", lit(HllAlphaNumer) / col("ztot").cast("double"))
      .withColumn("hll_estimate", r6(
        when(col("zeros") > 0 && col("raw") <= lit(2.5 * HllM),
          lit(HllM.toDouble) * log(lit(HllM.toDouble) / col("zeros").cast("double")))
          .otherwise(col("raw"))))
      .select(keys.map(col) ++ Seq(col("n_registers"), col("hll_estimate")): _*)

  /** Oracle twin of [[hllEstFromRegs]]: a SELECT over `regsRel` (columns
    * `keys…, idx, mx`) ending in `(keys…, n_registers, hll_estimate)` —
    * shared by [[hllOracleSql]] and the intersection oracle, mirroring
    * the one-definition rule on the Spark side.
    */
  private def hllEstSql(regsRel: String, keys: String): String =
    s"""SELECT $keys, n_registers, hll_estimate FROM (
       |  SELECT $keys, n_registers,
       |    CASE WHEN zeros > 0
       |        AND $HllAlphaNumer / CAST(ztot AS DOUBLE) <= ${2.5 * HllM}
       |      THEN ${r6Sql(s"${HllM.toDouble} * ln(${HllM.toDouble} / CAST(zeros AS DOUBLE))")}
       |      ELSE ${r6Sql(s"$HllAlphaNumer / CAST(ztot AS DOUBLE)")}
       |    END AS hll_estimate
       |  FROM (
       |    SELECT $keys, CAST(COUNT(*) AS BIGINT) AS n_registers,
       |      CAST(SUM(CAST(1 AS BIGINT) << (${HllPayloadBits + 1} - mx))
       |        AS BIGINT)
       |        + ($HllM - CAST(COUNT(*) AS BIGINT))
       |          * (CAST(1 AS BIGINT) << ${HllPayloadBits + 1}) AS ztot,
       |      $HllM - CAST(COUNT(*) AS BIGINT) AS zeros
       |    FROM $regsRel GROUP BY $keys
       |  )
       |)""".stripMargin

  /** The full HLL oracle — shared verbatim by `sketch_hll_distinct` and
    * `sketch_hll_stream`: the streaming twin runs in Complete mode over a
    * bounded AvailableNow stream, so its sealed registers are exactly the
    * batch registers and ONE oracle judges both paths.
    */
  private lazy val hllOracleSql: String =
    s"""WITH h AS (
       |  SELECT event_type,
       |    ${hash60Sql("CAST(user_id AS VARCHAR)")} AS h
       |  FROM events
       |), hr AS (
       |  SELECT event_type, h % $HllM AS idx,
       |    ${hllRhoSql(s"h // $HllM")} AS rho
       |  FROM h
       |), regs AS (
       |  SELECT event_type, idx, MAX(rho) AS mx FROM hr GROUP BY 1, 2
       |), allregs AS (
       |  SELECT event_type, idx, mx FROM regs
       |  UNION ALL
       |  SELECT '__union__', idx, MAX(mx) FROM regs GROUP BY 2
       |), est2 AS (
       |  ${hllEstSql("allregs", "event_type")}
       |), ex AS (
       |  SELECT event_type, CAST(COUNT(DISTINCT user_id) AS BIGINT)
       |    AS n_exact FROM events GROUP BY 1
       |  UNION ALL
       |  SELECT '__union__', CAST(COUNT(DISTINCT user_id) AS BIGINT)
       |  FROM events
       |)
       |SELECT e.event_type, x.n_exact, e.n_registers, e.hll_estimate,
       |  ${r6Sql("(e.hll_estimate - x.n_exact) / x.n_exact")} AS rel_err
       |FROM est2 e JOIN ex x USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** Distinct memory-sink names per streaming-gate invocation (the bench
    * runs a gate twice in one session; sink tables must not accumulate).
    */
  private val streamSinkSeq = new java.util.concurrent.atomic.AtomicLong(0)

  // ---- Bloom filter --------------------------------------------------------
  private val BloomBits = 2048L
  private val BloomK = 3

  private def bloomPos(i: Column, key: Column): Column =
    hashId(concat(lit("bloom"), i.cast("string"), lit("|"), key.cast("string")),
      BloomBits)

  private def bloomPosSql(i: String, key: String): String =
    hashIdSql(s"'bloom' || CAST($i AS VARCHAR) || '|' || CAST($key AS VARCHAR)",
      BloomBits)

  // ---- Count-Min -----------------------------------------------------------
  // The d row-hashes are DISJOINT 9-bit fields of one 60-bit md5 prefix
  // (hash60) — md5 bits are pairwise independent, so four non-overlapping
  // fields are four independent hash functions at the cost of ONE digest
  // per distinct word (the r14 shave: the first shape digested every
  // (occurrence, row) pair — 4·corpus md5 calls; this one hashes the
  // vocabulary once). 4 rows × 9 bits uses bits 0..35 of the 60.
  private val CmRows = 4
  private val CmWidth = 512L // 2^9

  /** Bucket from column NAMES `r` and `h` (shiftright with a column
    * shift only exists at the SQL layer).
    */
  private def cmBucket: Column = expr(s"shiftright(h, 9 * r) % $CmWidth")

  private def cmBucketSql(r: String, h: String): String =
    s"(($h) >> (9 * ($r))) % $CmWidth"

  /** The full Count-Min oracle — shared verbatim by
    * `sketch_countmin_heavy` and `sketch_countmin_stream`: the streaming
    * twin's per-occurrence stateful counts seal to exactly the batch
    * sketch's per-cell sums (increment order never matters for a counter
    * array), so ONE oracle judges both paths — the hllOracleSql pattern.
    */
  private lazy val cmOracleSql: String =
    s"""WITH wrds AS (
       |  SELECT doc_id, string_split(text, ' ') AS w FROM documents
       |), toks AS (
       |  SELECT UNNEST(w) AS word FROM wrds
       |), ex AS (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt,
       |    ${hash60Sql("word")} AS h
       |  FROM toks GROUP BY 1
       |), sk AS (
       |  SELECT t.r, ${cmBucketSql("t.r", "e.h")} AS bucket,
       |    CAST(SUM(e.cnt) AS BIGINT) AS c
       |  FROM ex e CROSS JOIN
       |    (SELECT UNNEST(generate_series(0, ${CmRows - 1})) AS r) t
       |  GROUP BY 1, 2
       |), top AS (
       |  SELECT word, cnt AS exact_cnt, h FROM (
       |    SELECT word, cnt, h, ROW_NUMBER() OVER (
       |      ORDER BY cnt DESC, word) AS rn
       |    FROM ex
       |  ) WHERE rn <= 20
       |), pb AS (
       |  SELECT word, exact_cnt, t.r,
       |    ${cmBucketSql("t.r", "top.h")} AS bucket
       |  FROM top CROSS JOIN
       |    (SELECT UNNEST(generate_series(0, ${CmRows - 1})) AS r) t
       |)
       |SELECT p.word, MIN(p.exact_cnt) AS exact_cnt,
       |  MIN(s.c) AS cm_estimate,
       |  MIN(s.c) - MIN(p.exact_cnt) AS overestimate
       |FROM pb p JOIN sk s ON s.r = p.r AND s.bucket = p.bucket
       |GROUP BY 1 ORDER BY exact_cnt DESC, word""".stripMargin

  /** The shared probe tail of both Count-Min gates: exact top-20 words
    * joined against a `(r, bucket, c)` cell relation (the batch sketch
    * or the streaming sink's sealed state), estimate = min over rows.
    */
  private def cmProbe(s: SparkSession, d: String, cells: DataFrame): DataFrame = {
    val rs = typedLit((0 until CmRows).toArray)
    val ex = MLQueries.words(s, d)
      .select(explode(col("w")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val top = ex.withColumnRenamed("cnt", "exact_cnt")
      .orderBy(col("exact_cnt").desc, col("word")).limit(20)
    top.select(col("word"), col("exact_cnt"),
        hash60(col("word")).as("h"), explode(rs).as("r"))
      .withColumn("bucket", cmBucket)
      .join(broadcast(cells), Seq("r", "bucket"))
      .groupBy(col("word"))
      .agg(min(col("exact_cnt")).as("exact_cnt"),
        min(col("c")).as("cm_estimate"))
      .withColumn("overestimate", col("cm_estimate") - col("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("word"))
  }

  // ---- PageRank ------------------------------------------------------------
  // Ranks live in nano-units (init 1e9 // N) and every step is integer:
  // per-edge contribution rank // outdeg, damping (17 · Σ) // 20
  // (= 0.85), teleport 15e7 // N — truncating division of nonnegative
  // longs is identical in Spark `div` and DuckDB `//`, so three rounds
  // stay bit-exact across engines with no float rounding anywhere.
  private val PrIters = 3

  val all: Seq[NamedQuery] = Seq(

    // HyperLogLog distinct-user estimation per event type PLUS the merged
    // union sketch: the '__union__' row is computed by max-merging the
    // per-type REGISTERS (never re-reading the raw data) — the property
    // that makes HLL the 100 TB distinct-count operator: each partition /
    // day / type keeps 64 six-bit registers, and any rollup is a register
    // max, not a re-scan. At scale the only wide op is the (type, idx)
    // hash-agg — 64 rows per group — while the exact COUNT(DISTINCT)
    // this gate calibrates against would shuffle every user id; rel_err
    // against that exact count is the gate's honesty column (±~13%
    // expected at m = 64; raise m for production, the plan is unchanged).
    NamedQuery(
      "sketch_hll_distinct",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
        hllReport(hllRegs(ev), hllExact(ev))
      },
      Some(hllOracleSql)),

    // Bloom-filter join pruning: the build side (urgent-order customers)
    // compresses to a 2048-bit / 3-hash filter; every probe key checks
    // its 3 bit positions and survives only if all are set. Per market
    // segment: probes, candidates, true members, false positives, and
    // the fp rate among true non-members — with the no-false-negative
    // guarantee visible as n_candidates >= n_members. At 100 TB this is
    // the shuffle killer: the bit set (2048 rows max, here materialized
    // as a distinct-position relation and broadcast) prunes the probe
    // side BEFORE the expensive join/exchange, exactly how runtime
    // bloom-pruned joins work; build cost is one hash-agg over the
    // (already filtered) build keys.
    NamedQuery(
      "sketch_bloom_join",
      (s, d) => {
        val is = typedLit((0 until BloomK).toArray)
        val buildKeys = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_custkey")).distinct()
        val bits = buildKeys.select(explode(is).as("i"), col("o_custkey"))
          .select(bloomPos(col("i"), col("o_custkey")).as("pos"))
          .distinct().withColumn("hit", lit(1L))
        val cand = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), explode(is).as("i"))
          .withColumn("pos", bloomPos(col("i"), col("c_custkey")))
          .join(broadcast(bits), Seq("pos"), "left")
          .groupBy(col("c_custkey"), col("c_mktsegment"))
          .agg((sum(coalesce(col("hit"), lit(0L))) === BloomK).as("candidate"))
        cand
          .join(buildKeys.withColumn("member", lit(1L)),
            cand("c_custkey") === col("o_custkey"), "left")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_probed"),
            sum(when(col("candidate"), 1L).otherwise(0L)).as("n_candidates"),
            sum(when(col("member").isNotNull, 1L).otherwise(0L)).as("n_members"),
            sum(when(col("candidate") && col("member").isNull, 1L).otherwise(0L))
              .as("n_false_pos"))
          .withColumn("fp_rate",
            when(col("n_probed") > col("n_members"),
              r6(col("n_false_pos").cast("double")
                / (col("n_probed") - col("n_members")))))
          .orderBy(col("c_mktsegment"))
      },
      Some(s"""WITH bkeys AS (
              |  SELECT DISTINCT o_custkey FROM orders
              |  WHERE o_orderpriority = '1-URGENT'
              |), bits AS (
              |  SELECT DISTINCT ${bloomPosSql("t.i", "o_custkey")} AS pos
              |  FROM bkeys CROSS JOIN
              |    (SELECT UNNEST(generate_series(0, ${BloomK - 1})) AS i) t
              |), cand AS (
              |  SELECT c_custkey, c_mktsegment,
              |    SUM(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) = $BloomK
              |      AS candidate
              |  FROM (
              |    SELECT c.c_custkey, c.c_mktsegment,
              |      ${bloomPosSql("t.i", "c.c_custkey")} AS pos
              |    FROM customer c CROSS JOIN
              |      (SELECT UNNEST(generate_series(0, ${BloomK - 1})) AS i) t
              |  ) LEFT JOIN bits b USING (pos)
              |  GROUP BY 1, 2
              |), tr AS (
              |  SELECT cand.c_mktsegment, cand.candidate, k.o_custkey
              |  FROM cand LEFT JOIN bkeys k ON k.o_custkey = cand.c_custkey
              |)
              |SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_probed,
              |  CAST(SUM(CASE WHEN candidate THEN 1 ELSE 0 END) AS BIGINT)
              |    AS n_candidates,
              |  CAST(SUM(CASE WHEN o_custkey IS NOT NULL THEN 1 ELSE 0 END)
              |    AS BIGINT) AS n_members,
              |  CAST(SUM(CASE WHEN candidate AND o_custkey IS NULL
              |    THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
              |  CASE WHEN COUNT(*) > SUM(CASE WHEN o_custkey IS NOT NULL
              |      THEN 1 ELSE 0 END)
              |    THEN ${r6Sql("CAST(SUM(CASE WHEN candidate AND o_custkey IS NULL " +
                 "THEN 1 ELSE 0 END) AS DOUBLE) / (COUNT(*) - SUM(CASE WHEN " +
                 "o_custkey IS NOT NULL THEN 1 ELSE 0 END))")}
              |  END AS fp_rate
              |FROM tr GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Count-Min heavy hitters: a 4-row × 512-bucket counter sketch
    // counting every token occurrence; the exact top-20 tokens are then
    // looked up in the sketch (estimate = min over the 4 rows) and
    // reported with their overestimate — always >= 0, the CM one-sided
    // guarantee the spec pins. The sketch is built from the per-word
    // count relation, not raw occurrences: incrementing cell (r, b(w))
    // by count(w) is cell-for-cell identical to per-occurrence
    // increments (the batch form of CM's map-side combine) and hashes
    // the VOCABULARY once — measured 2.25 s → 0.72 s at sf0.1. At
    // 100 TB the sketch is the point: frequency tracking shuffles AT
    // MOST d·w = 2048 counter cells instead of the vocabulary, and
    // shard sketches merge by cell-wise addition; the exact side here
    // is the calibration baseline, bounded to the top-20 probe set.
    NamedQuery(
      "sketch_countmin_heavy",
      (s, d) => {
        val rs = typedLit((0 until CmRows).toArray)
        val toks = MLQueries.words(s, d)
          .select(explode(col("w")).as("word"))
        // per-word counts FIRST (this relation is also the exact side):
        // incrementing the sketch per pre-aggregated (word, count) pair
        // is cell-for-cell identical to per-occurrence increments — the
        // batch form of Count-Min's map-side combine — and hashes each
        // DISTINCT word once instead of every occurrence
        val ex = toks.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        val sketch = ex
          .select(col("cnt"), hash60(col("word")).as("h"), explode(rs).as("r"))
          .withColumn("bucket", cmBucket)
          .groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("c"))
        cmProbe(s, d, sketch)
      },
      Some(cmOracleSql)),

    // Iterative PageRank over the part co-purchase graph (parts sharing
    // an order are linked, undirected): 3 damped rounds in exact
    // nano-unit integers — see the object doc for the arithmetic. The
    // iterative sibling of dedup_connected_components: same
    // edges-join-ranks + hash-agg round shape, one exchange keyed by dst
    // per round, rank state O(nodes) — the 1000-executor plan, with the
    // damping/teleport constants living in the plan, not the data. The
    // all-node union/distinct/degree prelude is the one-time index build;
    // at 100 TB it persists bucketed by src so every round's join is
    // co-located.
    NamedQuery(
      "graph_pagerank_iter",
      (s, d) => {
        // no li.distinct() (r22): lineitem (ok, pk) is near-unique
        // (599,935 of 600k at sf0.1) and the pair distinct below already
        // collapses whatever duplicate pair rows duplicated li rows
        // produce — the same pair SET reaches `edges` with one fewer
        // 600k-row exchange+aggregate on each self-join side.
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        // shuffle_hash: sort-merge would sort 600k rows on each side of
        // the self-join; building one side's hash table per partition is
        // cheaper and spill-safe at this key cardinality (the
        // hammingPairs precedent, guide §3.1)
        val pairs = li.as("a").hint("shuffle_hash")
          .join(li.as("b").hint("shuffle_hash"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .select(col("a.pk").as("pa"), col("b.pk").as("pb")).distinct()
        // the distinct self-join is the expensive subtree; materialize it
        // ONCE (the Components.ckpt pattern) so the three unrolled
        // rounds, the N aggregate, and the rank init all read
        // checkpointed rows instead of re-embedding it. r22 split: the
        // EDGE list (2 longs/row) and the NODE-sized degree table are
        // checkpointed separately instead of one degree-annotated edge
        // relation — the old shape shipped outdeg on every edge row
        // (+50% ckpt bytes) and re-derived `deg` per run via a full
        // 2.4M-row distinct; now `rank div outdeg` is computed on the
        // node-sized side before each round's edge join, so the big
        // stream carries exactly (src, dst) and the degree join is
        // node-sized (broadcast at any scale where nodes ≪ edges).
        // Tried and REVERTED (r21): hash-partitioning the ckpt by src
        // (repartition(src), both AQE-coalescible and explicit-count
        // forms) hoping the three per-round edges⋈ranks joins would skip
        // their edge-side exchange — the LogicalRDD a localCheckpoint
        // produces does not surface a partitioning EnsureRequirements
        // recognizes here (plan kept all three `Exchange` nodes above the
        // RDD scans; measured steady min 5.62 s vs 5.36 s baseline — the
        // extra ckpt-side shuffle is pure cost). At 100 TB the same goal
        // is met by persisting the edge list bucketed by src (a table
        // property, not an in-job transform), as the gate scaladoc notes.
        // ckpt the 1.2M directed PAIRS, not the 2.4M symmetric edge list:
        // the union doubling is a narrow projection of the checkpointed
        // rows, so deriving it per consumer costs two cheap passes while
        // the checkpoint write (and its storage) halves
        val pairsCk = graft.ml.Components.timed("pagerank pairs ckpt")(
          graft.ml.Components.ckpt(pairs))
        val edgesCk = pairsCk.select(col("pa").as("src"), col("pb").as("dst"))
          .unionAll(pairsCk.select(col("pb").as("src"), col("pa").as("dst")))
        val deg = graft.ml.Components.timed("pagerank deg ckpt")(
          graft.ml.Components.ckpt(
            edgesCk.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))))
        val nAgg = deg.agg(count(lit(1)).as("n"))
        var ranks = deg.crossJoin(broadcast(nAgg))
          .select(col("src").as("node"),
            expr("CAST(1000000000 AS BIGINT) div n").as("rank"), col("n"))
        for (_ <- 1 to PrIters) {
          val contribs = ranks.join(deg.hint("shuffle_hash"),
              ranks("node") === deg("src"))
            .select(col("node"), expr("rank div outdeg").as("contrib"), col("n"))
          ranks = edgesCk.join(contribs.hint("shuffle_hash"),
              edgesCk("src") === contribs("node"))
            .select(col("dst"), col("contrib"), col("n"))
            .groupBy(col("dst"))
            .agg(sum(col("contrib")).as("inflow"), min(col("n")).as("n"))
            .select(col("dst").as("node"),
              expr("CAST(150000000 AS BIGINT) div n + (17 * inflow) div 20")
                .as("rank"),
              col("n"))
        }
        ranks.select(col("node").as("part_id"), col("rank").as("rank_nano"),
            r6(col("rank").cast("double") / lit(1000000000.0)).as("rank"))
          .orderBy(col("rank_nano").desc, col("part_id")).limit(20)
      },
      Some {
        val iter = (prev: String, out: String) =>
          s"""$out AS (
             |  SELECT e.dst AS node,
             |    150000000 // MIN(r.n)
             |      + (17 * CAST(SUM(r.rank // d.outdeg) AS BIGINT)) // 20 AS rank,
             |    MIN(r.n) AS n
             |  FROM edges e
             |  JOIN deg d ON d.src = e.src
             |  JOIN $prev r ON r.node = e.src
             |  GROUP BY e.dst
             |)""".stripMargin
        s"""WITH li AS (
           |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
           |), prs AS (
           |  SELECT DISTINCT a.pk AS pa, b.pk AS pb
           |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
           |), edges AS (
           |  SELECT pa AS src, pb AS dst FROM prs
           |  UNION ALL
           |  SELECT pb AS src, pa AS dst FROM prs
           |), deg AS (
           |  SELECT src, CAST(COUNT(*) AS BIGINT) AS outdeg
           |  FROM edges GROUP BY 1
           |), nn AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM deg
           |), r0 AS (
           |  SELECT d.src AS node, 1000000000 // nn.n AS rank, nn.n AS n
           |  FROM deg d CROSS JOIN nn
           |), ${iter("r0", "r1")}, ${iter("r1", "r2")}, ${iter("r2", "r3")}
           |SELECT node AS part_id, CAST(rank AS BIGINT) AS rank_nano,
           |  ${r6Sql("CAST(rank AS DOUBLE) / 1000000000.0")} AS rank
           |FROM r3 ORDER BY rank_nano DESC, part_id LIMIT 20""".stripMargin
      }),

    // Z-score anomaly detection over the hourly event-count series, per
    // event type: a bucket is anomalous when |count − mean| > 2σ over the
    // type's own distribution. The comparison is EXACT INTEGER algebra —
    // (c·n − s)² > 4·(n·Σc² − s²) is |z| > 2 cleared of divisions — so
    // the flag set cannot drift between engines; only the reported
    // z-score touches doubles (one IEEE-exact sqrt + division, then r6).
    // The ingest-monitoring alarm of a pipeline: at 100 TB the hourly
    // rollup is a tiny hash-agg and the stats are one window pass over
    // buckets (thousands of rows), never over raw events — same
    // single-exchange shape as the funnel/retention gates. Population σ;
    // BIGINT headroom: n·Σc² ≈ s² ≈ (n·c)², so the algebra is safe while
    // n_buckets · per-bucket count stays under ~3·10⁹ (e.g. 10⁵ hourly
    // buckets × ~3·10⁴ events each); past that, swap the three sums to
    // decimal(38,0).
    NamedQuery(
      "events_anomaly_zscore",
      (s, d) => {
        val w = Window.partitionBy(col("event_type"))
        Tables.events(s, d)
          .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("c"))
          .withColumn("nh", count(lit(1)).over(w))
          .withColumn("s", sum(col("c")).over(w))
          .withColumn("ss", sum(col("c") * col("c")).over(w))
          .withColumn("num", col("c") * col("nh") - col("s"))
          // the documented BIGINT-headroom bound, ENFORCED (round 15,
          // ADVICE): past it the integer algebra would wrap silently and
          // flip anomaly flags in both engines — fail loudly instead.
          // sqrt(2^63) ≈ 3.037e9 bounds every squared operand; ss is
          // checked against MaxLong/nh so nh·ss cannot wrap either, and
          // (round 16, ADVICE) den2 itself is checked against MaxLong/4:
          // nh·ss − s² can legitimately near 2^63 while every operand
          // guard passes, and the anomaly filter's 4·den2 would then
          // wrap silently — the exact failure the guard exists to close.
          // The guard rides the den2 expression (a pruned side-column
          // would be optimized away); on in-bound data the branch is
          // never taken and the value is unchanged.
          .withColumn("den2",
            when(col("ss") > lit(Long.MaxValue) / col("nh")
                || abs(col("s")) > lit(3037000499L)
                || abs(col("num")) > lit(3037000499L)
                || col("nh") * col("ss") - col("s") * col("s")
                  > lit(Long.MaxValue / 4L),
              expr("raise_error('events_anomaly_zscore: counts exceed the " +
                "BIGINT headroom bound (~3e9) — switch the three sums to " +
                "decimal(38,0)')").cast("long"))
            .otherwise(col("nh") * col("ss") - col("s") * col("s")))
          .filter(col("den2") > 0 &&
            col("num") * col("num") > lit(4L) * col("den2"))
          .withColumn("zscore",
            r6(col("num").cast("double") / sqrt(col("den2").cast("double"))))
          .select(col("event_type"), col("hour"), col("c").as("n_events"),
            col("zscore"))
          .orderBy(col("event_type"), col("hour"))
      },
      Some(s"""WITH hourly AS (
              |  SELECT event_type, date_trunc('hour', ts) AS hour,
              |    CAST(COUNT(*) AS BIGINT) AS c
              |  FROM events GROUP BY 1, 2
              |), st AS (
              |  SELECT event_type, hour, c,
              |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS nh,
              |    CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS s,
              |    CAST(SUM(c * c) OVER (PARTITION BY event_type) AS BIGINT) AS ss
              |  FROM hourly
              |)
              |SELECT event_type, hour, c AS n_events,
              |  ${r6Sql("CAST(c * nh - s AS DOUBLE) / sqrt(CAST(nh * ss - s * s AS DOUBLE))")}
              |    AS zscore
              |FROM st
              |WHERE nh * ss - s * s > 0
              |  AND (c * nh - s) * (c * nh - s) > 4 * (nh * ss - s * s)
              |ORDER BY event_type, hour""".stripMargin)),

    // Histogram quantile sketch: the one-pass mergeable bin layout that
    // replaces a global sort for percentiles at scale. 256 fixed
    // equi-width bins over o_totalprice; p50/p90/p99 read off the
    // cumulative bin counts with linear interpolation inside the target
    // bin, each judged against the exact rank statistic (global
    // row_number — the labeled calibration baseline, same status as the
    // recall gates' brute-force side). Bin assignment and counts are
    // exact integers; the interpolation touches doubles only through
    // integer-derived operands in ONE spelled order, then r6. At 100 TB
    // the histogram is a 256-cell map-side-combined hash-agg, shards
    // merge by cell-wise addition, and any quantile is a driver-side
    // read of 256 numbers — while the exact side would be a full sort.
    // Production picks bounds from a first pass or log-spaced bins; the
    // [0, 500000) range is the judged constant (prices above clamp to
    // the top bin).
    NamedQuery(
      "sketch_quantile_hist",
      (s, d) => {
        val nb = 256
        val width = 500000.0 / nb // 1953.125, exact in binary
        val p = Tables.orders(s, d)
          .select(col("o_totalprice").as("price"), col("o_orderkey"))
        val nAgg = p.agg(count(lit(1)).as("n"))
        val hist = p
          .groupBy(least(floor(col("price") * nb / lit(500000.0)), lit(nb - 1L))
            .cast("long").as("bin"))
          .agg(count(lit(1)).as("cnt"))
        val cum = hist.withColumn("cum",
          sum(col("cnt")).over(Window.orderBy(col("bin"))
            .rowsBetween(Window.unboundedPreceding, 0)))
        val qs = s.range(1).select(
            explode(typedLit(Array(0.5, 0.9, 0.99))).as("q"))
          .crossJoin(broadcast(nAgg))
          .withColumn("target", ceil(col("q") * col("n")).cast("long"))
        val sel = qs.join(cum, cum("cum") >= qs("target"))
          .withColumn("rn", row_number().over(
            Window.partitionBy(col("q")).orderBy(col("bin"))))
          .filter(col("rn") === 1)
          .withColumn("cumb", col("cum") - col("cnt"))
        val ranks = p.withColumn("rn", row_number().over(
          Window.orderBy(col("price"), col("o_orderkey"))))
        sel.join(ranks, sel("target") === ranks("rn"))
          .select(col("q"), col("n").as("n_rows"),
            r6(col("bin") * lit(width)
              + (col("target") - col("cumb")).cast("double")
                / col("cnt").cast("double") * lit(width))
              .as("hist_estimate"),
            col("price").as("exact_value"))
          .withColumn("err", r6(col("hist_estimate") - col("exact_value")))
          .orderBy(col("q"))
      },
      Some(s"""WITH p AS (
              |  SELECT o_totalprice AS price, o_orderkey FROM orders
              |), n AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM p
              |), hist AS (
              |  SELECT LEAST(CAST(FLOOR(price * 256 / 500000.0) AS BIGINT),
              |    255) AS bin, CAST(COUNT(*) AS BIGINT) AS cnt
              |  FROM p GROUP BY 1
              |), cum AS (
              |  SELECT bin, cnt,
              |    CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum
              |  FROM hist
              |), qs AS (
              |  SELECT q, CAST(CEIL(q * n.n) AS BIGINT) AS target, n.n
              |  FROM (SELECT CAST(UNNEST([0.5, 0.9, 0.99]) AS DOUBLE) AS q)
              |  CROSS JOIN n
              |), sel AS (
              |  SELECT * FROM (
              |    SELECT q, target, n, bin, cnt, cum, cum - cnt AS cumb,
              |      ROW_NUMBER() OVER (PARTITION BY q ORDER BY bin) AS rn
              |    FROM qs JOIN cum ON cum.cum >= qs.target
              |  ) WHERE rn = 1
              |), ranks AS (
              |  SELECT price, ROW_NUMBER() OVER (ORDER BY price, o_orderkey)
              |    AS rn
              |  FROM p
              |)
              |SELECT e.q, e.n AS n_rows,
              |  ${r6Sql("e.bin * 1953.125 + CAST(e.target - e.cumb AS DOUBLE) " +
                 "/ CAST(e.cnt AS DOUBLE) * 1953.125")} AS hist_estimate,
              |  r.price AS exact_value,
              |  ${r6Sql(s"(${r6Sql("e.bin * 1953.125 + CAST(e.target - e.cumb AS DOUBLE) " +
                 "/ CAST(e.cnt AS DOUBLE) * 1953.125")}) - r.price")} AS err
              |FROM sel e JOIN ranks r ON r.rn = e.target
              |ORDER BY e.q""".stripMargin)),

    // Triangle counting over the 1995-ship-year part co-purchase graph —
    // the third classic iterative/graph kernel beside components and
    // PageRank, via the degree-orientation trick (Cohen 2009; Suri &
    // Vassilvitskii 2011 "Counting Triangles and the Curse of the Last
    // Reducer"): every undirected edge is directed from its lower
    // (degree, id) endpoint to the higher, so wedge generation at a hub
    // of degree D costs O(outdeg²) with outdeg bounded by ~√m instead of
    // D² — exactly the last-reducer skew fix a 1000-executor run needs.
    // Wedges (src → x, src → y with x < y) close into triangles via a
    // LEFT SEMI probe of the undirected edge list; every count is an
    // exact integer and the one double (global clustering 3·Δ/wedges)
    // goes through r6. The edge list is materialized once
    // (Components.ckpt) and feeds degrees, orientation, and the closing
    // probe without re-running the distinct self-join.
    NamedQuery(
      "graph_triangle_count",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1995-01-01")
            && col("l_shipdate") < lit("1996-01-01"))
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val edges = graft.ml.Components.ckpt(
          li.as("a").join(li.as("b"),
              col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
            .select(col("a.pk").as("pa"), col("b.pk").as("pb")).distinct())
        val deg = edges.select(col("pa").as("v"))
          .unionAll(edges.select(col("pb").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("dg"))
        val ed = edges
          .join(deg.select(col("v").as("pa"), col("dg").as("da")), "pa")
          .join(deg.select(col("v").as("pb"), col("dg").as("db")), "pb")
        val fwd = col("da") < col("db") ||
          (col("da") === col("db") && col("pa") < col("pb"))
        val oriented = ed.select(
          when(fwd, col("pa")).otherwise(col("pb")).as("src"),
          when(fwd, col("pb")).otherwise(col("pa")).as("dst"))
        val wedges = oriented.as("o1").join(oriented.as("o2"),
            col("o1.src") === col("o2.src") && col("o1.dst") < col("o2.dst"))
          .select(col("o1.dst").as("pa"), col("o2.dst").as("pb"))
        val triAgg = wedges.join(edges, Seq("pa", "pb"), "left_semi")
          .agg(count(lit(1)).as("n_triangles"))
        val statAgg = deg.agg(count(lit(1)).as("n_nodes"),
          sum(expr("(dg * (dg - 1)) div 2")).as("n_wedges"))
        val edgeAgg = edges.agg(count(lit(1)).as("n_edges"))
        statAgg.crossJoin(broadcast(edgeAgg)).crossJoin(broadcast(triAgg))
          .select(col("n_nodes"), col("n_edges"), col("n_wedges"),
            col("n_triangles"),
            r6(lit(3.0) * col("n_triangles") / col("n_wedges").cast("double"))
              .as("clustering"))
      },
      Some(s"""WITH li AS (
              |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
              |  FROM lineitem
              |  WHERE l_shipdate >= '1995-01-01' AND l_shipdate < '1996-01-01'
              |), edges AS (
              |  SELECT DISTINCT a.pk AS pa, b.pk AS pb
              |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
              |), deg AS (
              |  SELECT v, CAST(COUNT(*) AS BIGINT) AS dg FROM (
              |    SELECT pa AS v FROM edges
              |    UNION ALL SELECT pb AS v FROM edges
              |  ) GROUP BY 1
              |), oriented AS (
              |  SELECT CASE WHEN da.dg < db.dg
              |      OR (da.dg = db.dg AND e.pa < e.pb) THEN e.pa ELSE e.pb
              |    END AS src,
              |    CASE WHEN da.dg < db.dg
              |      OR (da.dg = db.dg AND e.pa < e.pb) THEN e.pb ELSE e.pa
              |    END AS dst
              |  FROM edges e
              |  JOIN deg da ON da.v = e.pa
              |  JOIN deg db ON db.v = e.pb
              |), wedges AS (
              |  SELECT o1.dst AS pa, o2.dst AS pb
              |  FROM oriented o1 JOIN oriented o2
              |    ON o1.src = o2.src AND o1.dst < o2.dst
              |), tri AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
              |  FROM wedges w
              |  WHERE EXISTS (SELECT 1 FROM edges e
              |                WHERE e.pa = w.pa AND e.pb = w.pb)
              |), st AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
              |    CAST(SUM((dg * (dg - 1)) // 2) AS BIGINT) AS n_wedges
              |  FROM deg
              |), ec AS (
              |  SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges
              |)
              |SELECT st.n_nodes, ec.n_edges, st.n_wedges, tri.n_triangles,
              |  ${r6Sql("3.0 * tri.n_triangles / CAST(st.n_wedges AS DOUBLE)")}
              |    AS clustering
              |FROM st CROSS JOIN ec CROSS JOIN tri""".stripMargin)),

    // The streaming HLL twin, judged end-to-end: the SAME register
    // definition (hllRegs — ONE definition with the batch gate) runs as a
    // Structured Streaming stateful aggregation over the events table as
    // a bounded file stream, Complete mode into a memory sink, under
    // Trigger.AvailableNow; the estimate/merge/calibration tail then
    // reads the sink. This is WHY sketches matter in a streaming ingest:
    // exact streaming COUNT(DISTINCT) needs state proportional to the
    // number of distinct users, the HLL register state is ≤ types×64
    // six-bit rows FOREVER — the live distinct-users dashboard feed next
    // to analyzer_trend_stream. Complete mode over a bounded stream
    // seals exactly the batch registers, so ONE oracle judges both
    // paths; at scale the register sink is a KV/memory dashboard table
    // updated per micro-batch, and any rollup max-merges sink rows.
    NamedQuery(
      "sketch_hll_stream",
      (s, d) => {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        // partial schema: parquet prunes to the two judged columns; the
        // ts column (whose physical encoding varies across testdata
        // regens — see Tables.events) is never materialized
        val schema = StructType(Seq(
          StructField("event_type", StringType), StructField("user_id", LongType)))
        val evs = s.readStream.schema(schema)
          .option("pathGlobFilter", "events.parquet").parquet(d)
        graft.streaming.GateStream.dropStaleSinks(s, "sketch_hll_stream_sink_")
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft-hll-gate").toString
        val sink = s"sketch_hll_stream_sink_${streamSinkSeq.incrementAndGet()}"
        // finally: a failed drain (corrupt footer, lost executor) must
        // not leak the scratch checkpoint dir — awaitTermination throwing
        // means the query already terminated, so cleanup is all that
        // remains
        try graft.streaming.GateStream.withStreamShuffle(s) {
          // NOT fanned out (r22): the per-row map here is one hash — a
          // 3x A/B read the extra 100k-row exchange as a +0.4 s loss
          // (1.95-2.10 s -> 2.37-2.47 s); contrast the count-min twin,
          // whose per-OCCURRENCE md5 map is ~50x heavier per input row
          val q = hllRegs(evs)
            .writeStream.format("memory").queryName(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          graft.streaming.GateStream.debugProgress(q)
        } finally graft.streaming.GateStream.deleteScratch(ckpt)
        val evb = Tables.events(s, d).select(col("event_type"), col("user_id"))
        hllReport(s.table(sink), hllExact(evb))
      },
      Some(hllOracleSql)),

    // HLL set-intersection estimation: |A ∩ B| ≈ est(A) + est(B) −
    // est(A ∪ B) (inclusion–exclusion) for every event-type pair, with
    // est(A ∪ B) computed by REGISTER max-merge — never by re-reading
    // raw ids. This is the audience-overlap / cross-split-contamination
    // estimator: at 100 TB, "how many users do click and purchase
    // share" costs 64 six-bit registers per side plus integer register
    // algebra, while the exact answer this gate calibrates against
    // (n_exact, via the distinct self-join) shuffles every user id.
    // Inclusion–exclusion differences amplify HLL's relative error, so
    // the estimate can go negative — clamped at 0, honestly reported
    // next to the exact count as abs_err. All arithmetic rides the
    // existing scaled-integer register sums; the three estimates are
    // r6-pinned before the subtraction, so both engines difference
    // identical doubles.
    NamedQuery(
      "sketch_hll_intersection",
      (s, d) => {
        val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
        val regs = hllRegs(ev)
        val types = ev.select(col("event_type")).distinct()
        val pairs = types.select(col("event_type").as("ta"))
          .crossJoin(types.select(col("event_type").as("tb")))
          .filter(col("ta") < col("tb"))
        val pregs = broadcast(pairs).join(regs,
            col("event_type") === col("ta") || col("event_type") === col("tb"))
          .groupBy(col("ta"), col("tb"), col("idx"))
          .agg(max(col("mx")).as("mx"))
        val estU = hllEstFromRegs(pregs, Seq("ta", "tb"))
          .withColumnRenamed("hll_estimate", "est_union")
        val estT = hllEstFromRegs(regs, Seq("event_type"))
        val estA = estT.select(col("event_type").as("ta"),
          col("hll_estimate").as("est_a"))
        val estB = estT.select(col("event_type").as("tb"),
          col("hll_estimate").as("est_b"))
        val du = ev.distinct()
        val exact = du.as("x")
          .join(du.as("y"), col("x.user_id") === col("y.user_id")
            && col("x.event_type") < col("y.event_type"))
          .groupBy(col("x.event_type").as("ta"), col("y.event_type").as("tb"))
          .agg(count(lit(1)).as("n_exact"))
        estU.join(broadcast(estA), "ta").join(broadcast(estB), "tb")
          .withColumn("est_inter",
            r6(greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0))))
          // LEFT join + coalesce 0 (round 15, ADVICE): a type pair with
          // ZERO shared users has no exact row, and an inner join would
          // silently drop exactly the "no overlap" rows an overlap
          // estimator exists to report
          .join(exact, Seq("ta", "tb"), "left")
          .withColumn("n_exact", coalesce(col("n_exact"), lit(0L)))
          .withColumn("abs_err", r6(col("est_inter") - col("n_exact")))
          .select(col("ta").as("type_a"), col("tb").as("type_b"),
            col("n_exact"), col("est_a"), col("est_b"), col("est_union"),
            col("est_inter"), col("abs_err"))
          .orderBy(col("type_a"), col("type_b"))
      },
      Some(s"""WITH h AS (
              |  SELECT event_type,
              |    ${hash60Sql("CAST(user_id AS VARCHAR)")} AS h
              |  FROM events
              |), hr AS (
              |  SELECT event_type, h % $HllM AS idx,
              |    ${hllRhoSql(s"h // $HllM")} AS rho
              |  FROM h
              |), regs AS (
              |  SELECT event_type, idx, MAX(rho) AS mx FROM hr GROUP BY 1, 2
              |), types AS (
              |  SELECT DISTINCT event_type AS t FROM events
              |), pairs AS (
              |  SELECT a.t AS ta, b.t AS tb FROM types a JOIN types b
              |  ON a.t < b.t
              |), pregs AS (
              |  SELECT ta, tb, idx, MAX(mx) AS mx
              |  FROM pairs JOIN regs r ON r.event_type = ta OR r.event_type = tb
              |  GROUP BY 1, 2, 3
              |), eu AS (
              |  ${hllEstSql("pregs", "ta, tb")}
              |), et AS (
              |  ${hllEstSql("regs", "event_type")}
              |), de AS (
              |  SELECT DISTINCT event_type, user_id FROM events
              |), ex AS (
              |  SELECT a.event_type AS ta, b.event_type AS tb,
              |    CAST(COUNT(*) AS BIGINT) AS n_exact
              |  FROM de a JOIN de b ON a.user_id = b.user_id
              |    AND a.event_type < b.event_type
              |  GROUP BY 1, 2
              |), j AS (
              |  SELECT eu.ta, eu.tb,
              |    CAST(COALESCE(ex.n_exact, 0) AS BIGINT) AS n_exact,
              |    ea.hll_estimate AS est_a, eb.hll_estimate AS est_b,
              |    eu.hll_estimate AS est_union
              |  FROM eu JOIN et ea ON ea.event_type = eu.ta
              |  JOIN et eb ON eb.event_type = eu.tb
              |  LEFT JOIN ex ON ex.ta = eu.ta AND ex.tb = eu.tb
              |), f AS (
              |  SELECT ta, tb, n_exact, est_a, est_b, est_union,
              |    ${r6Sql("GREATEST(est_a + est_b - est_union, 0.0)")}
              |      AS est_inter
              |  FROM j
              |)
              |SELECT ta AS type_a, tb AS type_b, n_exact, est_a, est_b,
              |  est_union, est_inter,
              |  ${r6Sql("est_inter - n_exact")} AS abs_err
              |FROM f ORDER BY type_a, type_b""".stripMargin)),

    // Streaming Count-Min twin: the SAME d×w counter cells maintained as
    // a stateful streaming aggregate over per-occurrence tokens —
    // Complete mode over the bounded AvailableNow stream seals exactly
    // the batch sketch's cells (counter arrays are increment-order-free),
    // so ONE oracle judges both paths, the sketch_hll_stream pattern.
    // State is ≤ d·w = 2048 rows forever — the live heavy-hitter feed
    // whose exact streaming twin would hold distinct-vocabulary state.
    // Honest cost note: the stream pays one md5 per token OCCURRENCE
    // (incremental updates cannot pre-aggregate the vocabulary the way
    // the batch gate's r14 shave does) — that is the price of a
    // continuously-current sketch, and it is narrow per-record work.
    NamedQuery(
      "sketch_countmin_stream",
      (s, d) => {
        import org.apache.spark.sql.types.{StringType, StructField, StructType}
        val schema = StructType(Seq(StructField("text", StringType)))
        val docs = s.readStream.schema(schema)
          .option("pathGlobFilter", "documents.parquet").parquet(d)
        graft.streaming.GateStream.dropStaleSinks(s, "sketch_cm_stream_sink_")
        val ckpt = java.nio.file.Files
          .createTempDirectory("graft-cm-gate").toString
        val sink = s"sketch_cm_stream_sink_${streamSinkSeq.incrementAndGet()}"
        val rs = typedLit((0 until CmRows).toArray)
        // finally: see the hll twin — no scratch-dir leak on a failed drain
        try graft.streaming.GateStream.withStreamShuffle(s) {
          // the per-occurrence md5 map is the gate's dominant cost and a
          // one-split fixture serializes it — fan out (r22, guide §2.5/§2.6)
          val cells = QueryDsl.fanout(docs,
              s.read.schema(schema).option("pathGlobFilter", "documents.parquet").parquet(d))
            .select(explode(split(col("text"), " ")).as("word"))
            .select(hash60(col("word")).as("h"), explode(rs).as("r"))
            .withColumn("bucket", cmBucket)
            .groupBy(col("r"), col("bucket")).agg(count(lit(1)).as("c"))
          val q = cells.writeStream.format("memory").queryName(sink)
            .option("checkpointLocation", ckpt)
            .outputMode("complete")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination()
          graft.streaming.GateStream.debugProgress(q)
        } finally graft.streaming.GateStream.deleteScratch(ckpt)
        cmProbe(s, d, s.table(sink))
      },
      Some(cmOracleSql)),
  )

}
