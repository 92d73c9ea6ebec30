package graft.relational

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join operators Spark lacks as built-ins, re-expressed on the
  * primitives that scale: as-of join as a tagged-union window (one
  * shuffle, no range-join explosion) and salted equi-join for skewed
  * keys. The reference has no joins at all (SURVEY §2B) — these belong
  * to the harness/north-star relational surface.
  */
object JoinOps {

  /** Backward as-of join: for every left row, attach the payload struct
    * of the LATEST right row with equal `keys` and right ts <= left ts
    * (inclusive, DuckDB ASOF semantics).
    *
    * Implemented as a tagged union + one running-`last` window per key:
    * a single shuffle on `keys`, work linear in |L|+|R| — the 100 TB
    * path for event-stream enrichment, where a naive inequality join
    * explodes to |L|·|R per key| intermediate rows before aggregation.
    *
    * Right rows should be unique per (keys, ts); pre-aggregate ties
    * upstream or the tie-winner among equal timestamps is unspecified.
    * Payload columns must not collide with left column names.
    */
  def asofBackward(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payloads: Seq[String]): DataFrame = {
    val leftOther = left.columns.toSeq.filterNot(keys.contains)
    val k = keys.map(col)
    // payloads ride in ONE non-null struct so genuinely-null payload
    // fields inside a right row are preserved (last(ignoreNulls) skips
    // whole missing rows, not individual null fields). Right rows with a
    // NULL timestamp are dropped: `rt <= t` is never true for them in
    // ASOF semantics, but ascending-nulls-first ordering would otherwise
    // make them match every left row.
    val r = right.filter(right(rightTs).isNotNull).select(
      (k :+ right(rightTs).as("__ts") :+ lit(0).as("__side"))
        ++ leftOther.map(c => lit(null).cast(left.schema(c).dataType).as(c))
        :+ struct(payloads.map(col): _*).as("__p"): _*)
    val l = left.select(
      (k :+ left(leftTs).as("__ts") :+ lit(1).as("__side"))
        ++ leftOther.map(col)
        :+ lit(null).cast(r.schema("__p").dataType).as("__p"): _*)
    val w = Window.partitionBy(k: _*).orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    r.unionAll(l)
      .withColumn("__m", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select((k ++ leftOther.map(col)
        ++ payloads.map(p => col(s"__m.$p").as(p))): _*)
  }

  /** Salted inner equi-join on the shared column `key`: left rows
    * scatter across `salt` sub-keys, right rows replicate into all of
    * them, so one hot key spreads over `salt` tasks instead of one
    * straggler. Result is identical to `big.join(small, key)`. AQE's
    * skew join covers the sort-merge path at runtime; explicit salting
    * is the declarative form for shuffle-hash joins and for engines
    * without runtime re-planning. The replicated side grows `salt`-fold:
    * use for moderate `small` (too big to broadcast, small enough to
    * copy a handful of times).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salt: Int): DataFrame = {
    // seeded rand, NOT a row hash: duplicate rows of a hot key (the
    // common log/fact skew case) would all hash to one salt bucket and
    // keep the straggler. Any salt assignment yields the same join
    // result, so per-row randomness is safe.
    val scattered = big.withColumn("__salt",
      (rand(42) * salt).cast("int"))
    val replicated = small.withColumn("__salt",
      explode(array((0 until salt).map(lit): _*)))
    // SHUFFLE_HASH: left to the planner, the salt-replicated side
    // is small enough on a bench-scale input that AQE picks a broadcast
    // join — which builds the salt-times-inflated relation single-
    // threaded in the exchange (measured ~1.3 s of driver wall on q49
    // outside any job) and is the anti-pattern salting exists to avoid
    // (if small x salt fits a broadcast, an unsalted broadcast join
    // needed no salt at all). The hint pins the join to the shape the
    // operator is FOR: both sides hash-exchanged on (key, salt), hot
    // keys spread across salt buckets, replicated side built per
    // partition in parallel. Result rows are identical either way.
    scattered.join(replicated.hint("shuffle_hash"), Seq(key, "__salt"))
      .drop("__salt")
  }

  /** Skew-aware refinement of [[saltedJoin]]: only keys whose big-side
    * frequency exceeds `hotThreshold` are salted; the (vast) cold
    * remainder takes the plain equi-join path with zero replication.
    * This is the production shape at 100 TB — uniform salting inflates
    * the small side `salt`-fold for ALL keys to fix a handful of heavy
    * hitters. The hot-key census is one cheap count on the big side
    * (broadcast back); result is identical to `big.join(small, key)`.
    */
  def saltedJoinHotKeys(big: DataFrame, small: DataFrame, key: String,
      salt: Int, hotThreshold: Long): DataFrame =
    saltedJoinWithHotSet(big, small, key, salt,
      big.groupBy(key).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > hotThreshold).select(key))

  /** The PROFILE -> THRESHOLD -> SALT composition: the hot-key set is
    * derived from the q145 skew census itself — keys whose group size
    * exceeds `hotXMean` times the mean group size (the profiler's
    * x_mean column) are salted; everything else takes the plain path.
    * This closes the remediation loop the profiler exists for: no
    * hand-picked absolute threshold, the same census that diagnoses
    * the skew selects the keys, and the whole thing stays ONE lazy
    * plan (the census is a map-side-combined agg plus a one-row
    * scalar broadcast — no driver-side decision). Result is identical
    * to `big.join(small, key)` (JoinOpsSpec).
    */
  def profiledSaltedJoin(big: DataFrame, small: DataFrame, key: String,
      salt: Int, hotXMean: Double = 4.0): DataFrame = {
    // retained: the census feeds BOTH the total/key-count scalar and
    // the hot-key filter — unretained, the full groupBy over the
    // (by-construction huge, skewed) big side runs twice in one plan
    // unless exchange reuse happens to kick in
    val g = graft.CacheScope.retain(
      big.groupBy(key).agg(count(lit(1)).as("__n")))
    val tot = g.agg(sum("__n").as("__t"), count(lit(1)).as("__k"))
    // __n / (__t / __k) > hotXMean, in DOUBLE: a long __n * __k product
    // overflows exactly at the billions-of-keys x hot-key scale this
    // operator exists for, silently un-salting the hot key (the q145
    // x_mean column dodges the same trap)
    val hot = g.crossJoin(broadcast(tot))
      .filter(col("__n") * lit(1.0) * col("__k") > lit(hotXMean) * col("__t"))
      .select(key)
    saltedJoinWithHotSet(big, small, key, salt, hot)
  }

  private def saltedJoinWithHotSet(big: DataFrame, small: DataFrame,
      key: String, salt: Int, hotKeys: DataFrame): DataFrame = {
    val hot = hotKeys.withColumn("__hot", lit(true))
    val b = big.join(broadcast(hot), Seq(key), "left")
    val s = small.join(broadcast(hot), Seq(key), "left")
    val coldPart = b.filter(col("__hot").isNull).drop("__hot")
      .join(s.filter(col("__hot").isNull).drop("__hot"), Seq(key))
    val hotPart = saltedJoin(
      b.filter(col("__hot").isNotNull).drop("__hot"),
      s.filter(col("__hot").isNotNull).drop("__hot"), key, salt)
    // unionByName: the salted path reorders columns
    coldPart.unionByName(hotPart)
  }

  /** Interval (range) join: each point row pairs with every interval row
    * whose half-open [lo, hi) contains `pt`. Implemented by BIN
    * BUCKETING: intervals explode into the fixed-width bins they
    * overlap, points land in exactly one bin, and the join is a plain
    * equi-join on the bin plus a residual containment filter. Shuffle
    * volume is |points| + sum(interval spans / binWidth) — never the
    * |points| x |intervals| blow-up of an inequality join, and unlike a
    * broadcast nested-loop it works when BOTH sides are large. Pick
    * binWidth near the median interval width (intervals spanning many
    * bins replicate per bin). Column names must not collide.
    */
  def intervalJoin(points: DataFrame, pt: String, intervals: DataFrame,
      lo: String, hi: String, binWidth: Double): DataFrame = {
    // bins floor(lo/w)..floor(hi/w): the last bin can be a false
    // positive when hi is exactly on a bin edge — the residual filter
    // drops it, so no epsilon arithmetic is needed.
    val binned = intervals.withColumn("__bin",
      explode(sequence(floor(col(lo) / binWidth).cast("long"),
        floor(col(hi) / binWidth).cast("long"))))
    points.withColumn("__bin", floor(col(pt) / binWidth).cast("long"))
      .join(binned, Seq("__bin"))
      .filter(col(pt) >= col(lo) && col(pt) < col(hi))
      .drop("__bin")
  }

  /** Semi-join reduction via a Bloom filter: build a compact sketch of
    * `keys` (one aggregation; the sketch, not the rows, ships to the
    * driver), fold it into the plan as a literal, and pre-filter `big`
    * BEFORE the exact semi-join. At 100 TB this is the hand-rolled form
    * of runtime filter pushdown: the shuffle only carries rows that
    * might match (fpp of extra traffic), and the trailing exact
    * semi-join removes the false positives — semantically invisible vs
    * `big.join(keys, semi)`. `expectedItems`/`fpp` size the sketch
    * (bits ~ -n·ln(fpp)/ln2²).
    *
    * Uses the engine's OWN runtime-filter expressions (the pair
    * `InjectRuntimeFilter` plants for shuffle pruning):
    * `BloomFilterAggregate` builds the sketch as a distributed
    * partial-merge aggregate, and `BloomFilterMightContain` probes it
    * inside whole-stage codegen — no Scala UDF on the hot path, no
    * per-row boxing, and the probe stays fused with the parquet scan.
    */
  def bloomSemiJoin(big: DataFrame, bigKey: String, keys: DataFrame,
      keyCol: String, expectedItems: Long, fpp: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graftbridge.Bridge
    import org.apache.spark.sql.types.BinaryType
    val numBits = org.apache.spark.util.sketch.BloomFilter
      .optimalNumOfBits(expectedItems, fpp)
    val agg = new BloomFilterAggregate(
      Bridge.toExpression(keys(keyCol)),
      Literal(expectedItems), Literal(numBits)).toAggregateExpression()
    // the serialized sketch is the ONLY thing that reaches the driver
    // (~ numBits/8 bytes); it rides into the probe side as a foldable
    // binary literal, exactly how the optimizer's runtime filters do.
    val sketch = keys.select(Bridge.toColumn(agg).as("bf"))
      .head().getAs[Array[Byte]](0)
    val probe =
      if (sketch == null) lit(false) // empty build side: nothing matches
      else Bridge.toColumn(BloomFilterMightContain(
        Literal(sketch, BinaryType), Bridge.toExpression(big(bigKey))))
    big.filter(probe)
      .join(keys, big(bigKey) === keys(keyCol), "left_semi")
  }

  /** MERGE/upsert semantics on immutable tables: rows of `updates` win
    * over same-key rows of `base`; unmatched update rows insert. One
    * anti-join + union — the batch upsert shape engines without ACID
    * tables use (write the result as the new snapshot; with Delta/
    * Iceberg this becomes a real MERGE INTO). Columns must align.
    */
  def upsert(base: DataFrame, updates: DataFrame, key: String): DataFrame =
    base.join(updates.select(key), Seq(key), "left_anti")
      .unionByName(updates)

  private def ev(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.events(s, d)

  def defs: Seq[Q] = Seq(
    // ---- q48: as-of join — for each purchase, the latest preceding
    // click of the same user (ts + value). Oracle is DuckDB's native
    // ASOF LEFT JOIN, so the window re-expression is checked against a
    // real as-of implementation.
    Q("q48_asof_click",
      (s, d) => {
        val e = ev(s, d)
        val purchases = e.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts")
        val clicks = e.filter(col("event_type") === "click")
          .groupBy(col("user_id"), col("ts").as("click_ts"))
          .agg(max_by(col("value"), col("event_id")).as("click_value"))
        asofBackward(purchases, clicks, Seq("user_id"),
            leftTs = "ts", rightTs = "click_ts",
            payloads = Seq("click_ts", "click_value"))
          .select(col("user_id"), col("event_id"), col("ts"),
            col("click_ts"), round(col("click_value"), 4).as("click_value"))
          .orderBy("user_id", "event_id")
      },
      Some(s"""WITH ${Tables.evCte},
              l AS (SELECT user_id, event_id, ts FROM ev
                    WHERE event_type = 'purchase'),
              r AS (SELECT user_id, ts AS click_ts,
                           max_by(value, event_id) AS click_value
                    FROM ev WHERE event_type = 'click' GROUP BY 1, 2)
              SELECT l.user_id, l.event_id, l.ts, r.click_ts,
                     round(r.click_value, 4) AS click_value
              FROM l ASOF LEFT JOIN r
                ON l.user_id = r.user_id AND l.ts >= r.click_ts
              ORDER BY l.user_id, l.event_id""")),

    // ---- q49: salted fact-fact join (lineitem x orders on orderkey)
    // + aggregate. The oracle is the PLAIN join — salting must be
    // semantically invisible.
    Q("q49_salted_join",
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .select(col("l_orderkey").as("okey"), col("l_extendedprice"),
            col("l_discount"))
        val ord = Tables.orders(s, d)
          .select(col("o_orderkey").as("okey"), col("o_orderpriority"))
        saltedJoin(li, ord, "okey", salt = 8)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
              .as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             GROUP BY 1 ORDER BY 1""")),

    // ---- q59: interval join — events bucketed into NON-uniform
    // (exponential) value bands via the bin-bucketing range join; the
    // oracle is the plain inequality join, so the binning must be
    // semantically invisible.
    Q("q59_interval_join",
      (s, d) => {
        import s.implicits._
        val bands = Seq.tabulate(10) { k =>
          (k.toLong,
            if (k == 0) 0.0 else math.pow(2.0, (k - 1).toDouble),
            math.pow(2.0, k.toDouble))
        }.toDF("band_id", "lo", "hi")
        intervalJoin(ev(s, d).select("event_id", "value"), "value",
            bands, "lo", "hi", binWidth = 16.0)
          .groupBy("band_id")
          .agg(count(lit(1)).as("n"),
            round(sum("value"), 2).as("sum_value"),
            round(avg("value"), 4).as("avg_value"))
          .orderBy("band_id")
      },
      Some(s"""WITH ${Tables.evCte},
              bands(band_id, lo, hi) AS (VALUES ${Seq.tabulate(10) { k =>
                val lo = if (k == 0) 0.0 else math.pow(2.0, (k - 1).toDouble)
                s"(CAST($k AS BIGINT), $lo, ${math.pow(2.0, k.toDouble)})"
              }.mkString(", ")})
              SELECT band_id, count(*) AS n,
                     round(sum(value), 2) AS sum_value,
                     round(avg(value), 4) AS avg_value
              FROM ev JOIN bands ON value >= lo AND value < hi
              GROUP BY 1 ORDER BY 1""")),

    // ---- q71: bloom-filter semi-join reduction (lineitem vs urgent
    // orders). The oracle is the plain IN-subquery — the sketch
    // pre-filter plus exact semi-join must be semantically invisible.
    Q("q71_bloom_semijoin",
      (s, d) => {
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        bloomSemiJoin(Tables.lineitem(s, d), "l_orderkey", urgent,
            "o_orderkey", expectedItems = 1L << 18, fpp = 0.01)
          .agg(count(lit(1)).as("n"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
              .as("revenue"))
      },
      Some("""SELECT count(*) AS n,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             FROM lineitem WHERE l_orderkey IN
               (SELECT o_orderkey FROM orders
                WHERE o_orderpriority = '1-URGENT')""")),

    // ---- q85: MERGE/upsert — a deterministic change set (10% price
    // bump on every 100th order, plus one synthetic insert) merged over
    // orders; the oracle spells the same anti-join + union in SQL.
    Q("q85_upsert",
      (s, d) => {
        val base = Tables.orders(s, d)
          .select("o_orderkey", "o_orderpriority", "o_totalprice")
        val updates = base.filter(col("o_orderkey") % 100 === 0)
          .withColumn("o_totalprice", round(col("o_totalprice") * 1.1, 2))
          .unionByName(
            base.sparkSession.range(1).select(
              lit(-1L).as("o_orderkey"), lit("0-NEW").as("o_orderpriority"),
              lit(42.42).as("o_totalprice")))
        upsert(base, updates, "o_orderkey")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("total"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH base AS (SELECT o_orderkey, o_orderpriority, o_totalprice
                            FROM orders),
             updates AS (SELECT o_orderkey, o_orderpriority,
                                round(o_totalprice * 1.1, 2) AS o_totalprice
                         FROM base WHERE o_orderkey % 100 = 0
                         UNION ALL
                         SELECT -1, '0-NEW', 42.42),
             merged AS (SELECT * FROM base
                        WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
                        UNION ALL SELECT * FROM updates)
             SELECT o_orderpriority, count(*) AS n,
                    round(sum(o_totalprice), 2) AS total
             FROM merged GROUP BY 1 ORDER BY 1""")),

    // ---- q86: grouped linear regression + correlation of extended
    // price on quantity — the built-in regr_*/corr aggregate surface
    // (one pass, mergeable moment buffers; identical math in DuckDB).
    Q("q86_linreg",
      (s, d) =>
        Tables.lineitem(s, d).groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("r"),
            round(regr_slope(col("l_extendedprice"), col("l_quantity")), 4)
              .as("slope"),
            round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4)
              .as("intercept"))
          .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, count(*) AS n,
             round(corr(l_quantity, l_extendedprice), 6) AS r,
             round(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
             round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept
             FROM lineitem GROUP BY 1 ORDER BY 1"""))
  )
}
