package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.sources.Tables
import graft.operators.{AsOf, Joins, RangeJoin, Skew, Windows}
import graft.functions.Exact.cents
import graft.functions.{NativeText, TopKLongs}

/** Remaining pipeline operators: multimodal binary-column plumbing, the
  * scale-safe surrogate-key path, event-time aggregation over the `events`
  * table, and gap-based sessionization (the batch shape of streaming
  * session windows).
  */
object MiscQueries {

  /** 30-minute session gap, in microseconds. events.ts is a micros-precision
    * naive timestamp (Spark reads TIMESTAMP_NTZ, DuckDB TIMESTAMP); all
    * session arithmetic runs on exact epoch micros via [[eventTsu]]. */
  val SessionGapUs: Long = 1800L * 1000000L

  /** events.ts (TIMESTAMP_NTZ) as exact epoch micros. Every graft session
    * pins spark.sql.session.timeZone=UTC, so the NTZ->TIMESTAMP cast reads
    * the wall clock as UTC and unix_micros equals DuckDB's epoch_us on the
    * same naive column. (Before testdata regeneration ts was INT64 nanos —
    * then read as BIGINT and divided; this helper is the single point that
    * tracks the driver's schema.) */
  def eventTsu: org.apache.spark.sql.Column =
    unix_micros(col("ts").cast("timestamp"))

  val all: Seq[Q] = Seq(

    // ---- q40: multimodal binary-column metadata — treat content as an
    // opaque BINARY column with typed metadata: byte length, content
    // digest, head bytes, and a deterministic stand-in for decoded media
    // dimensions (the real image/audio decode is stubbed — see
    // graft.multimodal.Binary — because codec libs aren't available here;
    // the Spark-side plumbing below is the real, tested part). Map-only.
    Q("q40_binary_meta",
      Some("""SELECT doc_id,
             |       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |       md5(text) AS content_md5,
             |       upper(substr(hex(encode(text)), 1, 16)) AS head_hex,
             |       CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS fake_width,
             |       CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS fake_height
             |FROM documents
             |ORDER BY doc_id""".stripMargin),
      (s, d) => {
        val bin = col("text").cast("binary")
        Tables.documents(s, d).select(
          col("doc_id"),
          length(bin).cast("long").as("n_bytes"),
          md5(bin).as("content_md5"),
          upper(substring(hex(bin), 1, 16)).as("head_hex"),
          (pmod(length(bin), lit(640)) + 1).cast("long").as("fake_width"),
          (pmod(length(bin), lit(480)) + 1).cast("long").as("fake_height"))
          .orderBy("doc_id")
      }),

    // ---- q41: scale-safe dense surrogate keys (ref W2, transform.py:341
    // uses a single-partition global window — q21 keeps that form for
    // dimension-sized inputs). This is the 100 TB path: order-range
    // buckets, a per-bucket rank, two-phase broadcast offsets — no
    // single-partition bottleneck (graft.operators.Windows.denseIdsScalable).
    Q("q41_dense_ids_scalable",
      Some("""SELECT o_orderkey,
             |       row_number() OVER (ORDER BY o_orderkey) AS dense_id
             |FROM orders
             |ORDER BY o_orderkey""".stripMargin),
      (s, d) => Windows.denseIdsScalable(
        Tables.orders(s, d).select("o_orderkey"),
        Seq(col("o_orderkey")), "dense_id")
        .orderBy("o_orderkey")),

    // ---- q42: event-time tumbling aggregation — hourly revenue/volume per
    // event type (the batch equivalent of a Structured Streaming tumbling
    // window; graft.streaming.EventStream runs the same agg incrementally).
    // The events table stores micros-precision naive timestamps (Spark
    // reads TIMESTAMP_NTZ, DuckDB TIMESTAMP). Hour emitted as a formatted
    // string: raw timestamp columns can hash-mismatch on representation
    // across engines, wall-clock strings cannot (UTC session everywhere).
    Q("q42_event_hour_agg",
      Some("""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
             |       event_type,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
             |       COUNT(DISTINCT user_id) AS nd_users
             |FROM events
             |GROUP BY 1, 2
             |ORDER BY hour, event_type""".stripMargin),
      (s, d) => {
        val hour = date_format(
          date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
        Tables.events(s, d)
          .groupBy(hour.as("hour"), col("event_type"))
          .agg(count(lit(1)).as("n"),
            sum(cents(col("value"))).as("sum_value_c"),
            countDistinct(col("user_id")).as("nd_users"))
          .orderBy("hour", "event_type")
      }),

    // ---- q43: gap-based sessionization — a new session starts after a
    // >30 min silence per user; session id = running count of session
    // starts. One shuffle on user_id; the window sort is per-user. This is
    // the batch twin of flatMapGroupsWithState sessionization
    // (graft.streaming.EventStream) and of streaming session windows.
    Q("q43_sessionize",
      Some(s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
              |f AS (
              |  SELECT user_id, event_id, tsu,
              |         CASE WHEN lag(tsu) OVER w IS NULL
              |                OR tsu - lag(tsu) OVER w > $SessionGapUs
              |              THEN 1 ELSE 0 END AS brk
              |  FROM e
              |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
              |g AS (
              |  SELECT user_id, tsu,
              |         SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
              |                        ROWS UNBOUNDED PRECEDING) AS sess
              |  FROM f)
              |SELECT user_id, CAST(sess AS BIGINT) AS session_id,
              |       COUNT(*) AS n_events, MIN(tsu) AS start_us, MAX(tsu) AS end_us
              |FROM g GROUP BY 1, 2
              |ORDER BY user_id, session_id""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val brk = when(lag(col("tsu"), 1).over(w).isNull ||
          col("tsu") - lag(col("tsu"), 1).over(w) > SessionGapUs, 1L).otherwise(0L)
        Tables.events(s, d)
          .withColumn("tsu", eventTsu)
          .withColumn("brk", brk)
          .withColumn("sess", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sess").as("session_id"))
          .agg(count(lit(1)).as("n_events"),
            min(col("tsu")).as("start_us"),
            max(col("tsu")).as("end_us"))
          .orderBy("user_id", "session_id")
      }),

    // ---- q45: skew-salted aggregation — l_returnflag has 3 giant keys, the
    // worst case for a single-phase groupBy at scale. Two-phase salted sums
    // (graft.operators.Skew) split each key across 16 reducers then combine;
    // the oracle is the PLAIN group-by, proving the salting is exact.
    Q("q45_salted_agg",
      Some("""SELECT l_returnflag AS rflag,
             |       CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
             |FROM lineitem
             |GROUP BY 1
             |ORDER BY rflag""".stripMargin),
      (s, d) => Skew.saltedSum(
        Tables.lineitem(s, d)
          .select(col("l_returnflag").as("rflag"),
            col("l_extendedprice"), col("l_orderkey")),
        keys = Seq("rflag"),
        value = cents(col("l_extendedprice")),
        saltBy = col("l_orderkey"), salts = 16,
        outCol = "sum_price_c")
        .orderBy("rflag")),

    // ---- q46: GROUPING SETS via the SQL entry point — subtotals over two
    // independent dimension sets in one pass (generalizes q20 rollup / q27
    // cube, §2.5 A3). Also exercises spark.sql + temp views as an API
    // surface; the plan is a single Expand + aggregate, one shuffle.
    Q("q46_grouping_sets",
      Some("""SELECT COALESCE(o_orderstatus, 'ALL') AS status,
             |       COALESCE(o_orderpriority, 'ALL') AS priority,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_price_c
             |FROM orders
             |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
             |ORDER BY status, priority""".stripMargin),
      (s, d) => {
        Tables.orders(s, d).createOrReplaceTempView("orders_v")
        s.sql(
          """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
            |       COALESCE(o_orderpriority, 'ALL') AS priority,
            |       COUNT(*) AS n,
            |       SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS sum_price_c
            |FROM orders_v
            |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
            |ORDER BY status, priority""".stripMargin)
      }),

    // ---- q47: pivot — channel-style wide KPI table (the dashboard shape
    // the reference serves via Power BI). Spark's pivot with an EXPLICIT
    // value list stays a single aggregate (no extra distinct-values job);
    // the oracle is conditional aggregation, which is exactly what pivot
    // compiles to.
    Q("q47_pivot",
      Some("""SELECT l_returnflag AS rflag,
             |       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) FILTER (WHERE l_linestatus = 'F') AS BIGINT) AS F,
             |       CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) FILTER (WHERE l_linestatus = 'O') AS BIGINT) AS O
             |FROM lineitem
             |GROUP BY 1
             |ORDER BY rflag""".stripMargin),
      (s, d) => Tables.lineitem(s, d)
        .groupBy(col("l_returnflag").as("rflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(cents(col("l_quantity"))))
        .orderBy("rflag")),

    // ---- q48: string-key dimension join (ref J2 — the CEGID x products
    // join keys on Product_Name, a STRING; q11/q12 cover int keys). The
    // derived dim is a distinct-projection of conversion-relevant types;
    // the inner join both enriches and filters. String join keys hash the
    // same as ints in the exchange — the point is exercising non-numeric
    // key equality + the broadcast of a derived (not scanned) dimension.
    Q("q48_join_stringkey",
      Some("""WITH dim AS (
             |  SELECT DISTINCT event_type, upper(event_type) AS type_uc
             |  FROM events WHERE event_type IN ('purchase', 'signup')
             |)
             |SELECT d.type_uc, COUNT(*) AS n, COUNT(DISTINCT e.user_id) AS nd_users,
             |       CAST(SUM(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c
             |FROM events e JOIN dim d ON e.event_type = d.event_type
             |GROUP BY 1
             |ORDER BY type_uc""".stripMargin),
      (s, d) => {
        val e = Tables.events(s, d)
        val dim = e.filter(col("event_type").isin("purchase", "signup"))
          .select(col("event_type").as("det"), upper(col("event_type")).as("type_uc"))
          .distinct()
        e.join(Joins.dimBroadcast(dim), e("event_type") === col("det"))
          .groupBy(col("type_uc"))
          .agg(count(lit(1)).as("n"),
            countDistinct(col("user_id")).as("nd_users"),
            sum(cents(col("value"))).as("sum_value_c"))
          .orderBy("type_uc")
      }),

    // ---- q49: top-k per group as a bounded-heap AGGREGATE (graft.functions
    // .TopKLongs) instead of a window sort. Same ranking semantics as q22
    // (revenue DESC, pkey tie-break) but the plan is agg -> partial topk ->
    // final topk: only k rows per group cross the shuffle and the hottest
    // group costs O(n log k), not one task's full sort — the 100 TB form of
    // W3. Oracle is the plain row_number window, proving exactness.
    Q("q49_topk_agg",
      Some("""SELECT brand, pkey, revenue_e4, rnk FROM (
             |  SELECT brand, pkey, revenue_e4,
             |         row_number() OVER (PARTITION BY brand
             |                            ORDER BY revenue_e4 DESC, pkey) AS rnk
             |  FROM (SELECT p.p_brand AS brand, CAST(p.p_partkey AS BIGINT) AS pkey,
             |               CAST(SUM(CAST(round(l.l_extendedprice * 100) AS BIGINT) *
             |                        (100 - CAST(round(l.l_discount * 100) AS BIGINT))) AS BIGINT) AS revenue_e4
             |        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
             |        GROUP BY 1, 2))
             |WHERE rnk <= 3
             |ORDER BY brand, rnk""".stripMargin),
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val p = Tables.part(s, d).select("p_partkey", "p_brand")
        val perPart = l.join(Joins.dimBroadcast(p), l("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand").as("brand"), col("p_partkey").as("pkey"))
          .agg(sum(cents(col("l_extendedprice")) *
                 (lit(100L) - cents(col("l_discount")))).as("revenue_e4"))
        perPart.groupBy(col("brand"))
          .agg(TopKLongs.topK(col("revenue_e4"), col("pkey").cast("long"), 3).as("tk"))
          .select(col("brand"), posexplode(col("tk")))
          .select(col("brand"), col("col.id").as("pkey"),
            col("col.score").as("revenue_e4"),
            (col("pos") + 1).cast("long").as("rnk"))
          .orderBy("brand", "rnk")
      }),

    // ---- q50: as-of join (graft.operators.AsOf) — each purchase event is
    // matched to the user's most recent prior-or-equal 'view' event. The
    // right side is pre-aggregated unique per (user, time) so the DuckDB
    // ASOF LEFT JOIN oracle is deterministic. Event time in exact micros
    // (eventTsu under the UTC session == DuckDB epoch_us, see q42/q43).
    Q("q50_asof_join",
      Some("""WITH p AS (SELECT user_id, event_id, epoch_us(ts) AS tsu
             |          FROM events WHERE event_type = 'purchase'),
             |v AS (SELECT user_id, epoch_us(ts) AS view_tsu, MAX(event_id) AS view_id
             |      FROM events WHERE event_type = 'view' GROUP BY 1, 2)
             |SELECT p.user_id, p.event_id, p.tsu, v.view_id, v.view_tsu
             |FROM p ASOF LEFT JOIN v
             |  ON p.user_id = v.user_id AND p.tsu >= v.view_tsu
             |ORDER BY p.user_id, p.tsu, p.event_id""".stripMargin),
      (s, d) => {
        val e = Tables.events(s, d).withColumn("tsu", eventTsu)
        val purchases = e.filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "tsu")
        val views = e.filter(col("event_type") === "view")
          .groupBy(col("user_id"), col("tsu").as("view_tsu"))
          .agg(max(col("event_id")).as("view_id"))
        AsOf.joinAsOfLeft(purchases, views, key = "user_id",
            leftTime = "tsu", rightTime = "view_tsu")
          .orderBy("user_id", "tsu", "event_id")
      }),

    // ---- q51: range (band) join via graft.operators.RangeJoin — order
    // totals in exact cents classified into price bands. The oracle is the
    // plain theta join; the engine plans a bucketed hash EQUI-join
    // (explode bands to 5M-cent buckets, join on bucket, residual filter)
    // instead of a nested-loop scan — see RangeJoin's scaladoc.
    Q("q51_range_join",
      Some("""WITH bands(lo, hi, label) AS (VALUES
             |       (0, 10000000, 'small'),
             |       (10000000, 25000000, 'mid'),
             |       (25000000, 60000000, 'large')),
             |o AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS pc FROM orders)
             |SELECT b.label, COUNT(*) AS n, CAST(SUM(o.pc) AS BIGINT) AS sum_pc
             |FROM o JOIN bands b ON o.pc >= b.lo AND o.pc < b.hi
             |GROUP BY 1
             |ORDER BY label""".stripMargin),
      (s, d) => {
        import s.implicits._
        val bands = Seq(
          (0L, 10000000L, "small"),
          (10000000L, 25000000L, "mid"),
          (25000000L, 60000000L, "large")).toDF("lo", "hi", "label")
        val o = Tables.orders(s, d).select(cents(col("o_totalprice")).as("pc"))
        RangeJoin.bucketedInner(o, "pc", bands, "lo", "hi", width = 5000000L)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"), sum(col("pc")).as("sum_pc"))
          .orderBy("label")
      }),

    // ---- q53: skew-salted join (graft.operators.Skew.saltedJoin) —
    // lineitem's 3 giant l_returnflag keys are the worst-case join-key
    // distribution; salting spreads each over 8 reducers. The oracle is
    // the PLAIN join + group-by, proving the salt/replicate/join is exact.
    Q("q53_salted_join",
      Some("""WITH dim AS (SELECT DISTINCT l_returnflag AS rf,
             |                     'label_' || l_returnflag AS label FROM lineitem)
             |SELECT d.label, COUNT(*) AS n,
             |       CAST(SUM(CAST(round(l.l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c
             |FROM lineitem l JOIN dim d ON l.l_returnflag = d.rf
             |GROUP BY 1
             |ORDER BY label""".stripMargin),
      (s, d) => {
        val l = Tables.lineitem(s, d)
          .select(col("l_returnflag").as("rf"), col("l_quantity"), col("l_orderkey"))
        val dim = l.select(col("rf")).distinct()
          .withColumn("label", concat(lit("label_"), col("rf")))
        Skew.saltedJoin(l, dim, "rf", saltBy = col("l_orderkey"), salts = 8)
          .groupBy(col("label"))
          .agg(count(lit(1)).as("n"), sum(cents(col("l_quantity"))).as("sum_qty_c"))
          .orderBy("label")
      }),

    // ---- q54: semi-structured JSON extraction — events.props is a JSON
    // string; parse with the real JSON parser (from_json + schema, not a
    // regex), extract, aggregate. Map-only extraction keeps the parse
    // inside codegen; at 100 TB the parse cost is the scan cost.
    Q("q54_json_extract",
      Some("""SELECT event_type,
             |       COUNT(*) AS n,
             |       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             |       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
             |FROM events
             |GROUP BY 1
             |ORDER BY event_type""".stripMargin),
      (s, d) => Tables.events(s, d)
        .withColumn("k",
          from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("k",
              org.apache.spark.sql.types.LongType)))).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")),

    // ---- q55: analytic window functions beyond rank/row_number —
    // lead/lag/first_value/ntile per customer order history. One hash
    // exchange on o_custkey serves all four functions (same window spec).
    Q("q55_window_analytics",
      Some("""SELECT o_custkey AS ck, o_orderkey AS ok,
             |       lag(o_orderkey) OVER w AS prev_ok,
             |       lead(o_orderkey) OVER w AS next_ok,
             |       first_value(o_orderkey) OVER w AS first_ok,
             |       CAST(ntile(4) OVER w AS BIGINT) AS quartile
             |FROM orders
             |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
             |ORDER BY ck, ok""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        Tables.orders(s, d).select(
            col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
            lag(col("o_orderkey"), 1).over(w).as("prev_ok"),
            lead(col("o_orderkey"), 1).over(w).as("next_ok"),
            first(col("o_orderkey")).over(w).as("first_ok"),
            ntile(4).over(w).cast("long").as("quartile"))
          .orderBy("ck", "ok")
      }),

    // ---- q56: string-function breadth (levenshtein, lpad, translate,
    // split_part, reverse) — the conform/standardize vocabulary beyond the
    // reference's regex cleaning. All map-only codegen expressions.
    Q("q56_string_funcs",
      Some("""SELECT c_custkey AS ck,
             |       CAST(levenshtein(c_name, c_mktsegment) AS BIGINT) AS lev,
             |       lpad(c_mktsegment, 12, '*') AS seg_pad,
             |       translate(c_name, '#0', '-x') AS name_masked,
             |       split_part(c_name, '#', 2) AS name_num,
             |       reverse(c_mktsegment) AS seg_rev
             |FROM customer
             |ORDER BY ck""".stripMargin),
      (s, d) => Tables.customer(s, d).select(
          col("c_custkey").as("ck"),
          levenshtein(col("c_name"), col("c_mktsegment")).cast("long").as("lev"),
          lpad(col("c_mktsegment"), 12, "*").as("seg_pad"),
          translate(col("c_name"), "#0", "-x").as("name_masked"),
          split_part(col("c_name"), lit("#"), lit(2)).as("name_num"),
          reverse(col("c_mktsegment")).as("seg_rev"))
        .orderBy("ck")),

    // ---- q57: date/time-function breadth (last_day, date_add, month
    // truncation, datediff) over the order timeline. Dates normalized from
    // the parquet timestamp once, then pure date arithmetic.
    Q("q57_datetime_funcs",
      Some("""SELECT o_orderkey AS ok,
             |       CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS y,
             |       CAST(month(CAST(o_orderdate AS DATE)) AS BIGINT) AS m,
             |       last_day(CAST(o_orderdate AS DATE)) AS eom,
             |       CAST(o_orderdate AS DATE) + 7 AS plus7,
             |       date_trunc('month', CAST(o_orderdate AS DATE)) AS mstart,
             |       CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS d_since
             |FROM orders
             |ORDER BY ok""".stripMargin),
      (s, d) => {
        val od = col("o_orderdate").cast(org.apache.spark.sql.types.DateType)
        Tables.orders(s, d).select(
            col("o_orderkey").as("ok"),
            year(od).cast("long").as("y"),
            month(od).cast("long").as("m"),
            last_day(od).as("eom"),
            date_add(od, 7).as("plus7"),
            trunc(od, "month").as("mstart"),
            datediff(od, lit(java.sql.Date.valueOf("1995-01-01"))).cast("long").as("d_since"))
          .orderBy("ok")
      }),

    // ---- q58: KMV (k-minimum-values) distinct-count sketch — the
    // oracle-checkable sketch: unlike HLL, every step is a deterministic
    // integer construction both engines reproduce bit-for-bit. Hash each
    // key to 48 bits (md5 prefix), keep the 64 SMALLEST distinct hashes —
    // via TopKLongs on the negated hash, so the sketch state is a bounded
    // heap with map-side partial merge, never a global sort — and estimate
    // |distinct| = (k-1) * 2^48 / h_k (exact count when under k). At 100 TB
    // the whole sketch is 64 longs per partial; accuracy ~1/sqrt(k-1)
    // (~13%): measured 144 vs 150 exact at sf0.01 (KmvSketchSpec).
    Q("q58_kmv_sketch",
      Some("""WITH h AS (SELECT DISTINCT CAST(list_sum(list_transform(generate_series(1, 12),
             |    i -> (CASE WHEN ord(substr(md5(CAST(user_id AS VARCHAR)), i, 1)) >= 97
             |          THEN ord(substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 87
             |          ELSE ord(substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 48 END)
             |         * CAST(pow(16, 12 - i) AS BIGINT))) AS BIGINT) AS hv
             |  FROM events),
             |r AS (SELECT hv, row_number() OVER (ORDER BY hv) AS rn FROM h),
             |k AS (SELECT MAX(rn) AS n_seen, MAX(hv) AS kth FROM r WHERE rn <= 64)
             |SELECT CAST(n_seen AS BIGINT) AS n_seen, kth,
             |       CAST(CASE WHEN n_seen < 64 THEN n_seen
             |            ELSE (63 * 281474976710656) // greatest(kth, 1) END AS BIGINT) AS est
             |FROM k""".stripMargin),
      (s, d) => {
        val h = Tables.events(s, d)
          .select(conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
            .cast("long").as("hv"))
          .distinct()
        h.agg(TopKLongs.topK(-col("hv"), col("hv"), 64).as("tk"))
          .select(size(col("tk")).cast("long").as("n_seen"),
            element_at(col("tk"), size(col("tk"))).getField("id").as("kth"))
          .select(col("n_seen"), col("kth"),
            when(col("n_seen") < 64, col("n_seen"))
              // greatest(kth, 1): a kth of 0 (md5 prefix of 12 zero hex
              // digits, ~2^-48 per key) would make DuckDB's // 0 error
              // while Spark's div returns NULL — floor both engines
              // identically so they can never diverge.
              .otherwise(expr("(63 * 281474976710656) div greatest(kth, 1L)"))
              .cast("long").as("est"))
      }),

    // ---- q85: GROUPED KMV distinct-count sketch — q58's construction
    // keyed by dimension, the shape that matters at 100 TB: "distinct
    // users per event type" via exact count(distinct) shuffles every
    // (type, user) pair; the sketch ships 64 longs per (partial, group)
    // regardless of user cardinality, and the per-group estimate stays a
    // deterministic integer construction the oracle reproduces
    // bit-for-bit (exact below k, (k-1)*2^48/h_k above). The per-group
    // bounded heap is the same TypedImperativeAggregate partial-merge
    // pattern as q49's top-k.
    Q("q85_kmv_grouped",
      Some("""WITH h AS (SELECT DISTINCT event_type,
             |    CAST(list_sum(list_transform(generate_series(1, 12),
             |    i -> (CASE WHEN ord(substr(md5(CAST(user_id AS VARCHAR)), i, 1)) >= 97
             |          THEN ord(substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 87
             |          ELSE ord(substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 48 END)
             |         * CAST(pow(16, 12 - i) AS BIGINT))) AS BIGINT) AS hv
             |  FROM events),
             |r AS (SELECT event_type, hv,
             |        row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn FROM h),
             |k AS (SELECT event_type, MAX(rn) AS n_seen, MAX(hv) AS kth
             |      FROM r WHERE rn <= 64 GROUP BY event_type)
             |SELECT event_type, CAST(n_seen AS BIGINT) AS n_seen, kth,
             |       CAST(CASE WHEN n_seen < 64 THEN n_seen
             |            ELSE (63 * 281474976710656) // greatest(kth, 1) END AS BIGINT) AS est
             |FROM k ORDER BY event_type""".stripMargin),
      (s, d) => {
        val h = Tables.events(s, d)
          .select(col("event_type"),
            conv(substring(md5(col("user_id").cast("string")), 1, 12), 16, 10)
              .cast("long").as("hv"))
          .distinct()
        h.groupBy(col("event_type"))
          .agg(TopKLongs.topK(-col("hv"), col("hv"), 64).as("tk"))
          .select(col("event_type"), size(col("tk")).cast("long").as("n_seen"),
            element_at(col("tk"), size(col("tk"))).getField("id").as("kth"))
          .select(col("event_type"), col("n_seen"), col("kth"),
            // same greatest(kth, 1) floor as q58 — keep the engines
            // exactly aligned on the (astronomically unlikely) kth = 0.
            when(col("n_seen") < 64, col("n_seen"))
              .otherwise(expr("(63 * 281474976710656) div greatest(kth, 1L)"))
              .cast("long").as("est"))
          .orderBy("event_type")
      }),

    // ---- q105: robust outlier detection by MAD (median absolute
    // deviation) — the monitoring pass that flags anomalous metric values
    // per event type without assuming a distribution (stddev-based
    // z-scores break on the heavy tails monitoring exists to catch; the
    // median/MAD pair is the robust-statistics standard). Both medians
    // run the q95 HISTOGRAM shape: cumulative windows over per-(type,
    // value) counts — cardinality bounded by types × distinct values,
    // never event count — then the 5-row med/MAD tables broadcast back
    // onto map-side passes. Exact integer cents throughout; the flag
    // threshold is the classic |x - med| > 5·MAD.
    Q("q105_mad_outliers",
      Some("""WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
             |h1 AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
             |m1 AS (SELECT event_type, MIN(c) AS med FROM (
             |    SELECT event_type, c,
             |           SUM(cnt) OVER (PARTITION BY event_type ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |           SUM(cnt) OVER (PARTITION BY event_type) AS tot
             |    FROM h1) WHERE 2 * cum >= tot GROUP BY 1),
             |d AS (SELECT v.event_type, v.c, m1.med, ABS(v.c - m1.med) AS ad
             |      FROM v JOIN m1 USING (event_type)),
             |h2 AS (SELECT event_type, ad, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2),
             |m2 AS (SELECT event_type, MIN(ad) AS mad FROM (
             |    SELECT event_type, ad,
             |           SUM(cnt) OVER (PARTITION BY event_type ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |           SUM(cnt) OVER (PARTITION BY event_type) AS tot
             |    FROM h2) WHERE 2 * cum >= tot GROUP BY 1)
             |SELECT d.event_type, MAX(d.med) AS med_c, MAX(m2.mad) AS mad_c,
             |       CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(SUM(CASE WHEN d.ad > 5 * m2.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM d JOIN m2 USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        def histMedian(df: org.apache.spark.sql.DataFrame, grp: String,
                       v: String, out: String) = {
          val h = df.groupBy(col(grp), col(v)).agg(count(lit(1)).as("cnt"))
          h.withColumn("cum", sum(col("cnt")).over(
              Window.partitionBy(col(grp)).orderBy(col(v))
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
            .withColumn("tot", sum(col("cnt")).over(Window.partitionBy(col(grp))))
            .filter(col("cum") * 2L >= col("tot"))
            .groupBy(grp).agg(min(col(v)).as(out))
        }
        val v = Tables.events(s, d)
          .select(col("event_type"), cents(col("value")).as("c"))
        val m1 = histMedian(v, "event_type", "c", "med")
        // r15: dd feeds BOTH the MAD median and the final outlier rollup,
        // and the two consumers are SEQUENTIAL (m2 gates the final join),
        // so without a persist the events scan + the whole m1 median
        // pipeline ran twice (runtime plan: 11 scans, 20 windows).
        import graft.operators.CacheScope
        CacheScope.release("q105")
        val dd = CacheScope.persist("q105", v.join(broadcast(m1), "event_type")
          .withColumn("ad", abs(col("c") - col("med"))))
        val m2 = histMedian(dd.select(col("event_type"), col("ad")),
          "event_type", "ad", "mad")
        dd.join(broadcast(m2), "event_type")
          .groupBy(col("event_type"))
          .agg(max(col("med")).as("med_c"), max(col("mad")).as("mad_c"),
            count(lit(1)).as("n"),
            sum(when(col("ad") > col("mad") * 5L, 1L).otherwise(0L)).as("n_outliers"))
          .orderBy("event_type")
      }),

    // ---- q107: event funnel — per user, time from FIRST 'view' to the
    // first 'purchase' at or after it (the conversion funnel every
    // product-analytics deployment runs). Two aggregations co-partitioned
    // on user_id and one broadcast-sized join back; exact micros
    // arithmetic (eventTsu, see q42). Non-converted users surface with
    // null purchase columns — the funnel report keeps them (drop-off IS
    // the statistic).
    Q("q107_event_funnel",
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |fv AS (SELECT user_id, MIN(tsu) AS first_view FROM e WHERE event_type = 'view' GROUP BY 1),
             |fp AS (SELECT e.user_id, MIN(e.tsu) AS first_purchase
             |       FROM e JOIN fv ON e.user_id = fv.user_id
             |       WHERE e.event_type = 'purchase' AND e.tsu >= fv.first_view
             |       GROUP BY 1)
             |SELECT fv.user_id, fv.first_view, fp.first_purchase,
             |       fp.first_purchase - fv.first_view AS delay_us
             |FROM fv LEFT JOIN fp ON fv.user_id = fp.user_id
             |ORDER BY fv.user_id""".stripMargin),
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), eventTsu.as("tsu"))
        val fv = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("tsu")).as("first_view"))
        val fp = e.filter(col("event_type") === "purchase")
          .join(fv, "user_id")
          .filter(col("tsu") >= col("first_view"))
          .groupBy("user_id").agg(min(col("tsu")).as("first_purchase"))
        fv.join(fp, Seq("user_id"), "left")
          .select(col("user_id"), col("first_view"), col("first_purchase"),
            (col("first_purchase") - col("first_view")).as("delay_us"))
          .orderBy("user_id")
      }),

    // ---- q111: event transition matrix — per-user next-event pairs
    // (the first-order Markov counts behind journey analysis and
    // anomalous-flow detection). One exchange on user_id feeds a lead()
    // window ordered by (tsu, event_id) — the unique event_id tiebreak
    // makes the successor deterministic under timestamp ties — then the
    // types×types transition matrix partial-aggregates map-side. Output
    // is |types|² rows regardless of event volume.
    Q("q111_event_transitions",
      Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
             |s AS (SELECT event_type AS src,
             |             lead(event_type) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS dst
             |      FROM e)
             |SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS n
             |FROM s WHERE dst IS NOT NULL
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("tsu"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), col("event_type"), eventTsu.as("tsu"))
          .select(col("event_type").as("src"), lead(col("event_type"), 1).over(w).as("dst"))
          .filter(col("dst").isNotNull)
          .groupBy("src", "dst").agg(count(lit(1)).as("n"))
          .orderBy("src", "dst")
      }),

    // ---- q112: retention cohorts — users grouped by signup week, counted
    // as active in each subsequent week (the retention triangle every
    // growth dashboard renders). Weeks are exact integer buckets of epoch
    // micros (floored div by 7·86400·10^6 — positive epochs, so Spark
    // `div` and DuckDB `//` agree); activity is ANY event. Two
    // aggregations co-partitioned on user_id, one join between them, then
    // a cohorts×weeks-sized count-distinct — output is bounded by the
    // calendar, not the event volume.
    Q("q112_retention_cohorts",
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |c AS (SELECT user_id, MIN(tsu) // 604800000000 AS cohort_wk
             |      FROM e WHERE event_type = 'signup' GROUP BY 1),
             |a AS (SELECT DISTINCT user_id, tsu // 604800000000 AS act_wk FROM e),
             |j AS (SELECT c.cohort_wk, a.act_wk - c.cohort_wk AS wk_offset, a.user_id
             |      FROM c JOIN a ON c.user_id = a.user_id
             |      WHERE a.act_wk >= c.cohort_wk)
             |SELECT cohort_wk, wk_offset, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
             |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, d) => {
        val wk = 604800000000L
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), eventTsu.as("tsu"))
        val c = e.filter(col("event_type") === "signup")
          .groupBy("user_id")
          .agg(expr(s"min(tsu) div $wk").as("cohort_wk"))
        val a = e.select(col("user_id"),
          expr(s"tsu div $wk").as("act_wk")).distinct()
        c.join(a, "user_id")
          .filter(col("act_wk") >= col("cohort_wk"))
          .groupBy(col("cohort_wk"), (col("act_wk") - col("cohort_wk")).as("wk_offset"))
          .agg(countDistinct(col("user_id")).as("n_users"))
          .orderBy("cohort_wk", "wk_offset")
      }),

    // ---- q119: percentile winsorization — clamp each event value to its
    // type's exact [p1, p99] band before aggregating (the feature-
    // engineering standard for taming outliers WITHOUT dropping rows —
    // contrast q105, which flags and counts). Both cut points come from
    // the q95 histogram shape (per-(type, value) counts + cumulative
    // window — histogram-sized, never event-sized), broadcast back onto
    // a map-side clamp. Exact integer cents; reported raw vs winsorized
    // sums quantify the tail mass the clamp removed.
    Q("q119_winsorize",
      Some("""WITH v AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c FROM events),
             |h AS (SELECT event_type, c, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
             |cw AS (SELECT event_type, c, cnt,
             |         SUM(cnt) OVER (PARTITION BY event_type ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             |         SUM(cnt) OVER (PARTITION BY event_type) AS tot
             |       FROM h),
             |lo AS (SELECT event_type, MIN(c) AS p1 FROM cw WHERE cum * 100 >= tot GROUP BY 1),
             |hi AS (SELECT event_type, MIN(c) AS p99 FROM cw WHERE cum * 100 >= 99 * tot GROUP BY 1)
             |SELECT v.event_type, CAST(COUNT(*) AS BIGINT) AS n,
             |       MAX(lo.p1) AS p1_c, MAX(hi.p99) AS p99_c,
             |       CAST(SUM(v.c) AS BIGINT) AS sum_raw_c,
             |       CAST(SUM(CASE WHEN v.c < lo.p1 THEN lo.p1
             |                     WHEN v.c > hi.p99 THEN hi.p99 ELSE v.c END) AS BIGINT) AS sum_wins_c,
             |       CAST(SUM(CASE WHEN v.c < lo.p1 OR v.c > hi.p99 THEN 1 ELSE 0 END) AS BIGINT) AS n_clamped
             |FROM v JOIN lo USING (event_type) JOIN hi USING (event_type)
             |GROUP BY 1 ORDER BY 1""".stripMargin),
      (s, d) => {
        val v = Tables.events(s, d)
          .select(col("event_type"), cents(col("value")).as("c"))
        val cw = v.groupBy("event_type", "c").agg(count(lit(1)).as("cnt"))
          .withColumn("cum", sum(col("cnt")).over(
            Window.partitionBy(col("event_type")).orderBy(col("c"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tot", sum(col("cnt")).over(
            Window.partitionBy(col("event_type"))))
        val lo = cw.filter(col("cum") * 100L >= col("tot"))
          .groupBy("event_type").agg(min(col("c")).as("p1"))
        val hi = cw.filter(col("cum") * 100L >= col("tot") * 99L)
          .groupBy("event_type").agg(min(col("c")).as("p99"))
        v.join(broadcast(lo), "event_type").join(broadcast(hi), "event_type")
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"),
            max(col("p1")).as("p1_c"), max(col("p99")).as("p99_c"),
            sum(col("c")).as("sum_raw_c"),
            sum(when(col("c") < col("p1"), col("p1"))
              .when(col("c") > col("p99"), col("p99"))
              .otherwise(col("c"))).as("sum_wins_c"),
            sum(when(col("c") < col("p1") || col("c") > col("p99"), 1L)
              .otherwise(0L)).as("n_clamped"))
          .orderBy("event_type")
      }),

    // ---- q122: OHLC time-series downsampling — per (event type, hour):
    // open/high/low/close of the value stream, the canonical lossy
    // compaction for dashboards and feature windows. Open/close need a
    // deterministic FIRST/LAST: row_number over (tsu, event_id) both
    // directions inside the bucket (the unique event_id breaks timestamp
    // ties — min_by/arg_min across engines have subtly different tie
    // rules, the windows do not). One exchange on the bucket key; output
    // is buckets-sized.
    Q("q122_ohlc_downsample",
      Some("""WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
             |                 epoch_us(ts) AS tsu, event_id,
             |                 CAST(round(value * 100) AS BIGINT) AS c
             |          FROM events),
             |r AS (SELECT event_type, hr, c,
             |        row_number() OVER (PARTITION BY event_type, hr ORDER BY tsu, event_id) AS rf,
             |        row_number() OVER (PARTITION BY event_type, hr ORDER BY tsu DESC, event_id DESC) AS rl
             |      FROM e)
             |SELECT event_type, CAST(hr AS BIGINT) AS hr,
             |       CAST(COUNT(*) AS BIGINT) AS n,
             |       MIN(CASE WHEN rf = 1 THEN c END) AS open_c,
             |       MAX(c) AS high_c, MIN(c) AS low_c,
             |       MIN(CASE WHEN rl = 1 THEN c END) AS close_c
             |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_type"), eventTsu.as("tsu"), col("event_id"),
            cents(col("value")).as("c"))
          .withColumn("hr", expr("tsu div 3600000000"))
        val wf = Window.partitionBy(col("event_type"), col("hr"))
          .orderBy(col("tsu"), col("event_id"))
        val wl = Window.partitionBy(col("event_type"), col("hr"))
          .orderBy(col("tsu").desc, col("event_id").desc)
        e.withColumn("rf", row_number().over(wf))
          .withColumn("rl", row_number().over(wl))
          .groupBy(col("event_type"), col("hr"))
          .agg(count(lit(1)).as("n"),
            min(when(col("rf") === 1, col("c"))).as("open_c"),
            max(col("c")).as("high_c"), min(col("c")).as("low_c"),
            min(when(col("rl") === 1, col("c"))).as("close_c"))
          .orderBy("event_type", "hr")
      }),

    // ---- q123: date-spine gap fill — reporting's dense time series: a
    // generated calendar spine (sequence/generate_series over the data's
    // own min..max day) left-joined to daily order counts, absent days
    // emitted as explicit zeros (a missing row and a zero are different
    // facts; trend windows and forecasting both need the zeros). The
    // spine is calendar-sized and generated, not scanned; the daily
    // counts partial-aggregate before the single join.
    Q("q123_date_spine",
      Some("""WITH bounds AS (SELECT MIN(CAST(o_orderdate AS DATE)) AS lo,
             |                       MAX(CAST(o_orderdate AS DATE)) AS hi FROM orders),
             |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day FROM bounds),
             |daily AS (SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n,
             |                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
             |          FROM orders GROUP BY 1)
             |SELECT s.day, COALESCE(d.n, 0) AS n, COALESCE(d.rev_c, 0) AS rev_c
             |FROM spine s LEFT JOIN daily d ON s.day = d.day
             |ORDER BY s.day""".stripMargin),
      (s, d) => {
        val bounds = Tables.orders(s, d)
          .agg(min(col("o_orderdate").cast("date")).as("lo"),
            max(col("o_orderdate").cast("date")).as("hi"))
        val spine = bounds
          .select(explode(expr("sequence(lo, hi, interval 1 day)")).as("day"))
        val daily = Tables.orders(s, d)
          .groupBy(col("o_orderdate").cast("date").as("day"))
          .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("rev_c"))
        spine.join(daily, Seq("day"), "left")
          .select(col("day"), coalesce(col("n"), lit(0L)).as("n"),
            coalesce(col("rev_c"), lit(0L)).as("rev_c"))
          .orderBy("day")
      }),

    // ---- q129: burst deduplication — suppress repeated (user, type)
    // events arriving within 10 minutes of the previous occurrence,
    // keeping the FIRST of each burst (double-click/retry suppression in
    // telemetry ingest). Same lag-gap construction as q43's session
    // break: kept=1 exactly where a new burst starts, so bursts are
    // maximal chains with intra-gap < threshold. One exchange on
    // (user, type); the unique event_id tiebreak makes burst boundaries
    // deterministic under timestamp ties. Emits the full audit frame
    // (kept AND suppressed) — the drop rate is the ingest-health metric.
    Q("q129_burst_dedup",
      Some("""WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS tsu FROM events),
             |l AS (SELECT user_id, event_type, event_id, tsu,
             |        lag(tsu) OVER (PARTITION BY user_id, event_type
             |                       ORDER BY tsu, event_id) AS prev
             |      FROM e)
             |SELECT user_id, event_type, event_id, tsu,
             |       CASE WHEN prev IS NULL OR tsu - prev > 600000000 THEN 1 ELSE 0 END AS kept
             |FROM l ORDER BY user_id, event_type, tsu, event_id""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("tsu"), col("event_id"))
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            eventTsu.as("tsu"))
          .withColumn("prev", lag(col("tsu"), 1).over(w))
          .select(col("user_id"), col("event_type"), col("event_id"), col("tsu"),
            when(col("prev").isNull || col("tsu") - col("prev") > 600000000L, 1)
              .otherwise(0).as("kept"))
          .orderBy("user_id", "event_type", "tsu", "event_id")
      }),

    // ---- q130: deterministic mixture interleaving — the ORDER a
    // training loader reads the curated corpus in: strict round-robin
    // across sources (pos = per-source rank × n_sources + source index),
    // so every window of n_sources consecutive positions sees every
    // source once — maximal short-range mixture without RNG state, and
    // reproducible across reruns. Per-source ranks are per-partition
    // windows; the source index is a 20-row dim joined back broadcast;
    // the scalar source count rides on it. Top-100 positions here;
    // deployment writes pos as the sort key of the packed shards (q92).
    Q("q130_mixture_interleave",
      Some("""WITH si AS (SELECT source, row_number() OVER (ORDER BY source) - 1 AS idx
             |           FROM (SELECT DISTINCT source FROM documents)),
             |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM si),
             |r AS (SELECT doc_id, source,
             |        row_number() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS r
             |      FROM documents)
             |SELECT r.doc_id, r.source, CAST(r.r * ns.n + si.idx AS BIGINT) AS pos
             |FROM r JOIN si USING (source) CROSS JOIN ns
             |ORDER BY pos LIMIT 100""".stripMargin),
      (s, d) => {
        val srcs = Tables.documents(s, d).select("source").distinct()
        val si = Windows.denseIdsGlobal(srcs, Seq(col("source")), "rn")
          .withColumn("idx", col("rn") - 1L).select("source", "idx")
        val ns = si.agg(count(lit(1)).as("n"))
        val r = Tables.documents(s, d).select(col("doc_id"), col("source"))
          .withColumn("r", row_number().over(
            Window.partitionBy(col("source")).orderBy(col("doc_id"))).cast("long") - 1L)
        r.join(broadcast(si), "source").crossJoin(broadcast(ns))
          .select(col("doc_id"), col("source"),
            (col("r") * col("n") + col("idx")).as("pos"))
          .orderBy("pos").limit(100)
      }),

    // ---- q131: multi-step funnel — q107 generalized to the 3-step
    // chain every activation analysis runs: first 'view', first 'click'
    // at-or-after it, first 'purchase' at-or-after that. Each step is an
    // aggregation co-partitioned on user_id joined to the previous
    // step's anchor; users surviving k steps carry k timestamps, and
    // drop-off is visible per step (nulls). Exact micros; step count
    // extends linearly (one agg + one join per step), never a window
    // over the whole event stream.
    Q("q131_funnel_3step",
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |s1 AS (SELECT user_id, MIN(tsu) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
             |s2 AS (SELECT e.user_id, MIN(e.tsu) AS t_click
             |       FROM e JOIN s1 ON e.user_id = s1.user_id
             |       WHERE e.event_type = 'click' AND e.tsu >= s1.t_view GROUP BY 1),
             |s3 AS (SELECT e.user_id, MIN(e.tsu) AS t_purchase
             |       FROM e JOIN s2 ON e.user_id = s2.user_id
             |       WHERE e.event_type = 'purchase' AND e.tsu >= s2.t_click GROUP BY 1)
             |SELECT s1.user_id, s1.t_view, s2.t_click, s3.t_purchase,
             |       CASE WHEN s3.user_id IS NOT NULL THEN 3
             |            WHEN s2.user_id IS NOT NULL THEN 2 ELSE 1 END AS steps_done
             |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
             |        LEFT JOIN s3 ON s1.user_id = s3.user_id
             |ORDER BY s1.user_id""".stripMargin),
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), eventTsu.as("tsu"))
        val s1 = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("tsu")).as("t_view"))
        val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
          .filter(col("tsu") >= col("t_view"))
          .groupBy("user_id").agg(min(col("tsu")).as("t_click"))
        val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
          .filter(col("tsu") >= col("t_click"))
          .groupBy("user_id").agg(min(col("tsu")).as("t_purchase"))
        s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
          .select(col("user_id"), col("t_view"), col("t_click"), col("t_purchase"),
            when(col("t_purchase").isNotNull, 3)
              .when(col("t_click").isNotNull, 2).otherwise(1).as("steps_done"))
          .orderBy("user_id")
      }),

    // ---- q132: month-over-month growth — the reporting staple: monthly
    // revenue with the previous month's value and the delta in exact
    // ppm of the prior month. The lag window runs over the MONTHS-sized
    // rollup (q114's aggregate-first rule); the sign-split keeps the
    // ppm division on positive operands where both engines floor
    // identically (deltas can be negative — the division operand is
    // |delta|, the sign rides separately).
    Q("q132_mom_growth",
      Some("""WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') AS ym,
             |                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
             |          FROM orders GROUP BY 1),
             |l AS (SELECT ym, rev_c, lag(rev_c) OVER (ORDER BY ym) AS prev_c FROM m)
             |SELECT ym, rev_c, prev_c,
             |       CASE WHEN prev_c IS NULL THEN NULL
             |            WHEN rev_c >= prev_c THEN CAST(((rev_c - prev_c) * 1000000) // prev_c AS BIGINT)
             |            ELSE -CAST(((prev_c - rev_c) * 1000000) // prev_c AS BIGINT) END AS growth_ppm
             |FROM l ORDER BY ym""".stripMargin),
      (s, d) => {
        val m = Tables.orders(s, d)
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
        // months-sized frame: the single-partition window is the right
        // plan here (~80 rows), not a scale hazard
        val w = Window.orderBy(col("ym"))
        m.withColumn("prev_c", lag(col("rev_c"), 1).over(w))
          .withColumn("growth_ppm",
            when(col("prev_c").isNull, lit(null))
              .when(col("rev_c") >= col("prev_c"),
                expr("((rev_c - prev_c) * 1000000) div prev_c"))
              .otherwise(-expr("((prev_c - rev_c) * 1000000) div prev_c")))
          .orderBy("ym")
      }),

    // ---- q133: cumulative distinct users per day — running uniques is
    // the metric naive SQL gets wrong (COUNT(DISTINCT) OVER a running
    // frame re-scans every prefix: quadratic). The exact linear trick:
    // each user contributes on their FIRST-SEEN day only, so cumulative
    // uniques = running sum of first-seen counts — one user-keyed agg,
    // one days-sized rollup, one window over the calendar. The shape
    // sketches can't replace when the count must be exact.
    Q("q133_cumulative_uniques",
      Some("""WITH f AS (SELECT user_id, MIN(epoch_us(ts) // 86400000000) AS first_day FROM events GROUP BY 1),
             |dnew AS (SELECT first_day AS day, CAST(COUNT(*) AS BIGINT) AS new_users FROM f GROUP BY 1)
             |SELECT CAST(day AS BIGINT) AS day, new_users,
             |       CAST(SUM(new_users) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             |         AS cum_users
             |FROM dnew ORDER BY day""".stripMargin),
      (s, d) => {
        val f = Tables.events(s, d)
          .select(col("user_id"), eventTsu.as("tsu"))
          .groupBy("user_id").agg(expr("min(tsu div 86400000000)").as("first_day"))
        val dnew = f.groupBy(col("first_day").as("day"))
          .agg(count(lit(1)).as("new_users"))
        // days-sized frame: single-partition window over the calendar
        dnew.withColumn("cum_users", sum(col("new_users")).over(
            Window.orderBy(col("day"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .orderBy("day")
      }),

    // ---- q137: peak concurrent sessions per day via a boundary SWEEP —
    // the interval-analytics staple (capacity planning, license audits)
    // that naive SQL writes as an interval SELF-JOIN (quadratic in
    // overlap). The exact linear shape: each session emits +1 at start
    // and -1 at end, and concurrency at any instant is the running sum
    // of deltas in boundary order — concurrency only changes at
    // boundaries, so the per-day max over boundary rows IS the day's
    // peak. The running sum uses Windows.prefixSum (two-phase
    // range-partitioned scan), never a single-partition global window:
    // boundaries are 2x sessions-sized, i.e. corpus-scale. Ties are
    // totally ordered (tsu, delta DESC so touching sessions count as
    // concurrent, then user/session ids) — both engines fold the same
    // sequence.
    Q("q137_session_concurrency",
      Some(s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
              |f AS (
              |  SELECT user_id, event_id, tsu,
              |         CASE WHEN lag(tsu) OVER w IS NULL
              |                OR tsu - lag(tsu) OVER w > $SessionGapUs
              |              THEN 1 ELSE 0 END AS brk
              |  FROM e
              |  WINDOW w AS (PARTITION BY user_id ORDER BY tsu, event_id)),
              |g AS (
              |  SELECT user_id, tsu,
              |         SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
              |                        ROWS UNBOUNDED PRECEDING) AS sess
              |  FROM f),
              |sess AS (SELECT user_id, sess AS session_id,
              |                MIN(tsu) AS start_us, MAX(tsu) AS end_us
              |         FROM g GROUP BY 1, 2),
              |b AS (SELECT user_id, session_id, start_us AS tsu, 1 AS delta FROM sess
              |      UNION ALL
              |      SELECT user_id, session_id, end_us, -1 FROM sess),
              |r AS (SELECT tsu, delta,
              |        SUM(delta) OVER (ORDER BY tsu, delta DESC, user_id, session_id
              |                         ROWS UNBOUNDED PRECEDING) AS run
              |      FROM b)
              |SELECT CAST(tsu // 86400000000 AS BIGINT) AS day,
              |       CAST(MAX(run) AS BIGINT) AS peak,
              |       CAST(SUM(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
              |FROM r GROUP BY 1 ORDER BY day""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val brk = when(lag(col("tsu"), 1).over(w).isNull ||
          col("tsu") - lag(col("tsu"), 1).over(w) > SessionGapUs, 1L).otherwise(0L)
        // r15: `sess` feeds the bounds union twice and prefixSum's
        // two-phase consumer doubles that again — the runtime plan ran
        // the sessionize (scan + user-keyed exchange + 2 windows + agg)
        // FOUR times (4 parquet scans, 22 exchanges, 2 reused). Persist
        // one generation; sess is sessions-sized, far below the event log.
        import graft.operators.CacheScope
        CacheScope.release("q137")
        val sess = CacheScope.persist("q137", Tables.events(s, d)
          .withColumn("tsu", eventTsu)
          .withColumn("brk", brk)
          .withColumn("sess", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy(col("user_id"), col("sess").as("session_id"))
          .agg(min(col("tsu")).as("start_us"), max(col("tsu")).as("end_us")))
        val bounds = sess.select(col("user_id"), col("session_id"),
            col("start_us").as("tsu"), lit(1L).as("delta"))
          .unionAll(sess.select(col("user_id"), col("session_id"),
            col("end_us").as("tsu"), lit(-1L).as("delta")))
        Windows.prefixSum(bounds,
            Seq(col("tsu").asc, col("delta").desc, col("user_id").asc,
              col("session_id").asc),
            col("delta"), "run")
          .groupBy(expr("tsu div 86400000000").as("day"))
          .agg(max(col("run")).as("peak"),
            sum(when(col("delta") === 1L, 1L).otherwise(0L)).as("n_starts"))
          .orderBy("day")
      }),

    // ---- q139: exact linear interpolation of a gappy daily series — the
    // time-series repair step between q123's zero-fill (absence = zero)
    // and a forecasting consumer (absence = unobserved): known-missing
    // feed days (here a deterministic day%3 mask standing in for feed
    // outages) are reconstructed from their nearest observed neighbors.
    // ffill/bfill via last/first(ignoreNulls) over the calendar spine;
    // interpolation in exact integer arithmetic with the q132 sign-split
    // so Spark's `div` (truncate) and DuckDB's `//` (floor) agree on the
    // slope's sign. The spine window is calendar-sized (~2.4k rows) —
    // the aggregate-first rule (q114), not a scale hazard.
    Q("q139_interpolate_gaps",
      Some("""WITH daily AS (SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             |                      CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
             |               FROM orders GROUP BY 1),
             |obs AS (SELECT d, rev_c FROM daily WHERE d % 3 != 1),
             |bounds AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM obs),
             |spine AS (SELECT unnest(generate_series(lo, hi)) AS d FROM bounds),
             |j AS (SELECT s.d, o.rev_c FROM spine s LEFT JOIN obs o USING (d)),
             |f AS (SELECT d, rev_c,
             |        last_value(rev_c IGNORE NULLS) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pv,
             |        last_value(CASE WHEN rev_c IS NOT NULL THEN d END IGNORE NULLS)
             |          OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS pd,
             |        first_value(rev_c IGNORE NULLS)
             |          OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
             |        first_value(CASE WHEN rev_c IS NOT NULL THEN d END IGNORE NULLS)
             |          OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
             |      FROM j)
             |SELECT d, CASE WHEN rev_c IS NOT NULL THEN 1 ELSE 0 END AS observed,
             |       CAST(CASE WHEN rev_c IS NOT NULL THEN rev_c
             |            WHEN nv >= pv THEN pv + ((nv - pv) * (d - pd)) // (nd - pd)
             |            ELSE pv - ((pv - nv) * (d - pd)) // (nd - pd) END AS BIGINT) AS value_c
             |FROM f ORDER BY d""".stripMargin),
      (s, d) => {
        val daily = Tables.orders(s, d)
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("d"))
          .agg(sum(cents(col("o_totalprice"))).as("rev_c"))
        val obs = daily.filter(expr("d % 3 != 1"))
        val spine = obs.agg(min(col("d")).as("lo"), max(col("d")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("d"))
        val j = spine.join(obs, Seq("d"), "left")
        val wPrev = Window.orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wNext = Window.orderBy(col("d"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        j.withColumn("pv", last(col("rev_c"), ignoreNulls = true).over(wPrev))
          .withColumn("pd", last(when(col("rev_c").isNotNull, col("d")),
            ignoreNulls = true).over(wPrev))
          .withColumn("nv", first(col("rev_c"), ignoreNulls = true).over(wNext))
          .withColumn("nd", first(when(col("rev_c").isNotNull, col("d")),
            ignoreNulls = true).over(wNext))
          .select(col("d"),
            when(col("rev_c").isNotNull, 1).otherwise(0).as("observed"),
            when(col("rev_c").isNotNull, col("rev_c"))
              .when(col("nv") >= col("pv"),
                col("pv") + expr("((nv - pv) * (d - pd)) div (nd - pd)"))
              .otherwise(
                col("pv") - expr("((pv - nv) * (d - pd)) div (nd - pd)"))
              .as("value_c"))
          .orderBy("d")
      }),

    // ---- q142: per-group exact OLS trend slope — the closed-form
    // least-squares fit every metrics store runs per segment, kept in
    // exact integer arithmetic: slope = (nΣxy − ΣxΣy)/(nΣxx − ΣxΣx)
    // over (month index, monthly revenue) points, emitted in ppm with
    // the q132 sign-split (numerator can be negative). Aggregate-first:
    // the regression consumes the (priority × month)-sized rollup, so
    // the five sum terms are one partial-agg over ~400 rows regardless
    // of fact scale. Revenue in KILODOLLARS (cents div 100000) keeps
    // nΣxy·1e6 inside Long at any sf (cents would overflow at sf0.1);
    // slope units: kilodollars/month, ppm resolution. Only months a
    // group transacted in enter its fit (observed-point OLS).
    Q("q142_trend_slope",
      Some("""WITH m AS (SELECT o_orderpriority AS prio, strftime(o_orderdate, '%Y-%m') AS ym,
             |                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000 AS BIGINT) AS y
             |          FROM orders GROUP BY 1, 2),
             |mi AS (SELECT ym, row_number() OVER (ORDER BY ym) - 1 AS x
             |       FROM (SELECT DISTINCT ym FROM m)),
             |p AS (SELECT m.prio, mi.x, m.y FROM m JOIN mi USING (ym)),
             |sums AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
             |                CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |                CAST(SUM(x * y) AS BIGINT) AS sxy, CAST(SUM(x * x) AS BIGINT) AS sxx
             |         FROM p GROUP BY 1)
             |SELECT prio, n,
             |       CAST(CASE WHEN n * sxy - sx * sy >= 0
             |            THEN ((n * sxy - sx * sy) * 1000000) // (n * sxx - sx * sx)
             |            ELSE -(((sx * sy - n * sxy) * 1000000) // (n * sxx - sx * sx)) END
             |         AS BIGINT) AS slope_ppm
             |FROM sums ORDER BY prio""".stripMargin),
      (s, d) => {
        val m = Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("prio"),
            date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
          .agg(expr("sum(cast(round(o_totalprice * 100) as bigint)) div 100000").as("y"))
        // months-sized index dim (~80 rows): the global window is the
        // right plan at dimension scale (q21's documented exemption)
        val mi = Windows.denseIdsGlobal(
            m.select("ym").distinct(), Seq(col("ym")), "rn")
          .withColumn("x", col("rn") - 1L).select("ym", "x")
        m.join(broadcast(mi), "ym")
          .groupBy("prio")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"))
          .withColumn("slope_ppm",
            when(col("n") * col("sxy") - col("sx") * col("sy") >= 0,
              expr("((n * sxy - sx * sy) * 1000000) div (n * sxx - sx * sx)"))
              .otherwise(-expr("((sx * sy - n * sxy) * 1000000) div (n * sxx - sx * sx)")))
          .select("prio", "n", "slope_ppm")
          .orderBy("prio")
      }),

    // ---- q143: last-touch attribution — each purchase credited to the
    // user's most recent click at-or-before it, within a 7-day window
    // (the marketing-attribution join). NOT an event self-join: one
    // user-partitioned window over the click∪purchase stream carries the
    // latest click forward (ffill of click tsu/id from the SAME total
    // order, so the pair is consistent), then a map-side tolerance test.
    // One exchange on user_id; the frame excludes the current row so a
    // purchase can't attribute to itself, and clicks sort before
    // purchases at equal timestamps (kind asc) so same-instant clicks
    // count. Unattributed purchases stay visible as nulls.
    Q("q143_last_touch",
      Some("""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS tsu,
             |                 CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS kind,
             |                 CAST(round(value * 100) AS BIGINT) AS value_c
             |          FROM events WHERE event_type IN ('click', 'purchase')),
             |w AS (SELECT event_id, user_id, tsu, kind, value_c,
             |        last_value(CASE WHEN kind = 0 THEN tsu END IGNORE NULLS)
             |          OVER win AS ct,
             |        last_value(CASE WHEN kind = 0 THEN event_id END IGNORE NULLS)
             |          OVER win AS cid
             |      FROM e
             |      WINDOW win AS (PARTITION BY user_id ORDER BY tsu, kind, event_id
             |                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
             |SELECT event_id AS purchase_id, user_id, tsu, value_c,
             |       CASE WHEN ct IS NOT NULL AND tsu - ct <= 604800000000 THEN cid END AS click_id,
             |       CASE WHEN ct IS NOT NULL AND tsu - ct <= 604800000000 THEN tsu - ct END AS gap_us
             |FROM w WHERE kind = 1 ORDER BY purchase_id""".stripMargin),
      (s, d) => {
        val e = Tables.events(s, d)
          .filter(col("event_type").isin("click", "purchase"))
          .select(col("event_id"), col("user_id"), eventTsu.as("tsu"),
            when(col("event_type") === "click", 0).otherwise(1).as("kind"),
            cents(col("value")).as("value_c"))
        val win = Window.partitionBy("user_id")
          .orderBy(col("tsu"), col("kind"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        val attributed = e
          .withColumn("ct", last(when(col("kind") === 0, col("tsu")),
            ignoreNulls = true).over(win))
          .withColumn("cid", last(when(col("kind") === 0, col("event_id")),
            ignoreNulls = true).over(win))
          .filter(col("kind") === 1)
        val inWin = col("ct").isNotNull &&
          col("tsu") - col("ct") <= 604800000000L
        attributed.select(col("event_id").as("purchase_id"), col("user_id"),
            col("tsu"), col("value_c"),
            when(inWin, col("cid")).as("click_id"),
            when(inWin, col("tsu") - col("ct")).as("gap_us"))
          .orderBy("purchase_id")
      }),

    // ---- q145: largest-remainder pro-rata allocation (Hamilton
    // apportionment) — distribute a fixed integer budget across nations
    // proportional to revenue so the allocations SUM EXACTLY to the
    // budget: floor quotas first, then +1 to the R nations with the
    // largest remainders (R = budget − Σfloor < #nations). The exact
    // reconciliation naive rounding can't give — finance allocations,
    // sampling quotas, shard budgets all need it. Aggregate-first: the
    // windows run over the 25-row nation rollup; kilodollar quantization
    // keeps budget×revenue inside Long at any sf (the q142 audit).
    Q("q145_budget_allocation",
      Some("""WITH rev AS (SELECT c.c_nationkey AS nk,
             |              CAST(SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) // 100000 AS BIGINT) AS r
             |            FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
             |            GROUP BY 1),
             |t AS (SELECT rev.nk, n.n_name, rev.r, SUM(rev.r) OVER () AS tot
             |      FROM rev JOIN nation n ON rev.nk = n.n_nationkey),
             |q AS (SELECT nk, n_name, r,
             |        (1000000 * r) // tot AS fl, (1000000 * r) % tot AS rem FROM t),
             |w AS (SELECT nk, n_name, r, fl,
             |        1000000 - SUM(fl) OVER () AS extra,
             |        row_number() OVER (ORDER BY rem DESC, nk) AS rnk FROM q)
             |SELECT n_name, CAST(r AS BIGINT) AS rev_kd,
             |       CAST(fl + CASE WHEN rnk <= extra THEN 1 ELSE 0 END AS BIGINT) AS alloc
             |FROM w ORDER BY n_name""".stripMargin),
      (s, d) => {
        val rev = Tables.orders(s, d)
          .join(broadcast(Tables.customer(s, d)
            .select("c_custkey", "c_nationkey")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nk"))
          .agg(expr("sum(cast(round(o_totalprice * 100) as bigint)) div 100000").as("r"))
        // nations-sized frames from here: the empty-over() windows are
        // 25-row single-partition by design (aggregate-first rule)
        val wAll = Window.partitionBy()
        val t = rev.join(broadcast(Tables.nation(s, d)),
            col("nk") === col("n_nationkey"))
          .select(col("nk"), col("n_name"), col("r"))
          .withColumn("tot", sum(col("r")).over(wAll))
        t.withColumn("fl", expr("(1000000 * r) div tot"))
          .withColumn("rem", expr("(1000000 * r) % tot"))
          .withColumn("extra", lit(1000000L) - sum(col("fl")).over(wAll))
          .withColumn("rnk", row_number().over(
            Window.orderBy(col("rem").desc, col("nk"))))
          .select(col("n_name"), col("r").as("rev_kd"),
            (col("fl") + when(col("rnk") <= col("extra"), 1L).otherwise(0L))
              .as("alloc"))
          .orderBy("n_name")
      }),

    // ---- q146: growth accounting — the DAU decomposition every growth
    // team reports: each active (user, day) classified new / retained
    // (active yesterday) / resurrected (returned after a gap), and
    // churned counted on the first day a user went silent. One distinct
    // (user, day) pass + one user-partitioned window (lag AND lead from
    // the same sort) → day-sized rollups; churn days land by a left
    // join onto the active-day frame, so the four series stay exact and
    // reconcile (new + resurrected − churned = ΔDAU-retention identity).
    Q("q146_growth_accounting",
      Some("""WITH ad AS (SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
             |c AS (SELECT user_id, day,
             |        lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
             |        lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt FROM ad),
             |act AS (SELECT day,
             |          CAST(COUNT(CASE WHEN prev IS NULL THEN 1 END) AS BIGINT) AS n_new,
             |          CAST(COUNT(CASE WHEN day - prev = 1 THEN 1 END) AS BIGINT) AS n_retained,
             |          CAST(COUNT(CASE WHEN day - prev > 1 THEN 1 END) AS BIGINT) AS n_resurrected
             |        FROM c GROUP BY 1),
             |ch AS (SELECT day + 1 AS day, CAST(COUNT(*) AS BIGINT) AS n_churned
             |       FROM c WHERE nxt IS NULL OR nxt > day + 1 GROUP BY 1)
             |SELECT a.day, a.n_new, a.n_retained, a.n_resurrected,
             |       COALESCE(ch.n_churned, 0) AS n_churned
             |FROM act a LEFT JOIN ch ON a.day = ch.day
             |ORDER BY a.day""".stripMargin),
      (s, d) => {
        val ad = Tables.events(s, d)
          .select(col("user_id"), expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        val c = ad.withColumn("prev", lag(col("day"), 1).over(w))
          .withColumn("nxt", lead(col("day"), 1).over(w))
        val act = c.groupBy("day").agg(
          count(when(col("prev").isNull, 1)).as("n_new"),
          count(when(col("day") - col("prev") === 1, 1)).as("n_retained"),
          count(when(col("day") - col("prev") > 1, 1)).as("n_resurrected"))
        val ch = c.filter(col("nxt").isNull || col("nxt") > col("day") + 1)
          .groupBy((col("day") + 1).as("day"))
          .agg(count(lit(1)).as("n_churned"))
        act.join(ch, Seq("day"), "left")
          .select(col("day"), col("n_new"), col("n_retained"),
            col("n_resurrected"),
            coalesce(col("n_churned"), lit(0L)).as("n_churned"))
          .orderBy("day")
      }),

    // ---- q148: k-anonymity audit — the privacy-readiness check before
    // a table leaves the pipeline: every quasi-identifier equivalence
    // class (segment, nation, thousand-dollar balance band) with fewer
    // than k=5 members is a re-identification risk and must be
    // generalized or suppressed. One groupBy on the QI tuple; the +1000$
    // shift keeps the band arithmetic on the positive domain (balances
    // go to −999) where Spark div and DuckDB // agree. The output IS the
    // suppression worklist, ordered for stable diffing.
    Q("q148_k_anonymity",
      Some("""WITH q AS (SELECT c_mktsegment AS seg, CAST(c_nationkey AS BIGINT) AS nk,
             |                  (CAST(round(c_acctbal * 100) AS BIGINT) + 100000) // 100000 AS bal_kband
             |           FROM customer),
             |g AS (SELECT seg, nk, bal_kband, CAST(COUNT(*) AS BIGINT) AS n
             |      FROM q GROUP BY 1, 2, 3)
             |SELECT seg, nk, CAST(bal_kband AS BIGINT) AS bal_kband, n
             |FROM g WHERE n < 5 ORDER BY seg, nk, bal_kband""".stripMargin),
      (s, d) => {
        Tables.customer(s, d)
          .select(col("c_mktsegment").as("seg"),
            col("c_nationkey").cast("long").as("nk"),
            ((cents(col("c_acctbal")) + 100000L)).as("shifted"))
          .withColumn("bal_kband", expr("shifted div 100000"))
          .groupBy("seg", "nk", "bal_kband")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") < 5)
          .orderBy("seg", "nk", "bal_kband")
      }),

    // ---- q150: bucket-level anti-entropy diff — the middle tier
    // between q117's table checksum (one verdict) and q62's row-level
    // cogroup diff (full scan of both sides): bucket both replicas by
    // key range, compare per-bucket (count, order-independent hash-sum),
    // and emit ONLY differing buckets — the sync protocol then re-reads
    // just those. Here replica B is replica A with a deterministic
    // 1-cent corruption at custkey 997 (both engines inject it), so
    // exactly the buckets holding key 997 differ. Per-bucket state is
    // two longs; the diff never joins row-level data.
    Q("q150_bucket_diff",
      Some("""WITH a AS (SELECT c_custkey AS k,
             |                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer),
             |b AS (SELECT k, CASE WHEN k = 997 THEN bal_c + 1 ELSE bal_c END AS bal_c FROM a),
             |ha AS (SELECT k // 64 AS bucket,
             |         CAST(list_sum(list_transform(generate_series(1, 12),
             |           i -> (CASE WHEN ord(substr(md5(CAST(k AS VARCHAR) || ':' || CAST(bal_c AS VARCHAR)), i, 1)) >= 97
             |                 THEN ord(substr(md5(CAST(k AS VARCHAR) || ':' || CAST(bal_c AS VARCHAR)), i, 1)) - 87
             |                 ELSE ord(substr(md5(CAST(k AS VARCHAR) || ':' || CAST(bal_c AS VARCHAR)), i, 1)) - 48 END)
             |                * CAST(pow(16, 12 - i) AS BIGINT))) AS BIGINT) % 1000000000000 AS hv
             |       FROM a),
             |hb AS (SELECT k // 64 AS bucket,
             |         CAST(list_sum(list_transform(generate_series(1, 12),
             |           i -> (CASE WHEN ord(substr(md5(CAST(k AS VARCHAR) || ':' || CAST(bal_c AS VARCHAR)), i, 1)) >= 97
             |                 THEN ord(substr(md5(CAST(k AS VARCHAR) || ':' || CAST(bal_c AS VARCHAR)), i, 1)) - 87
             |                 ELSE ord(substr(md5(CAST(k AS VARCHAR) || ':' || CAST(bal_c AS VARCHAR)), i, 1)) - 48 END)
             |                * CAST(pow(16, 12 - i) AS BIGINT))) AS BIGINT) % 1000000000000 AS hv
             |       FROM b),
             |ga AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_a, CAST(SUM(hv) AS BIGINT) AS s_a FROM ha GROUP BY 1),
             |gb AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_b, CAST(SUM(hv) AS BIGINT) AS s_b FROM hb GROUP BY 1)
             |SELECT ga.bucket, ga.n_a, gb.n_b
             |FROM ga JOIN gb ON ga.bucket = gb.bucket
             |WHERE ga.n_a != gb.n_b OR ga.s_a != gb.s_b
             |ORDER BY ga.bucket""".stripMargin),
      (s, d) => {
        def hashed(df: org.apache.spark.sql.DataFrame) = df
          .withColumn("bucket", expr("k div 64"))
          .withColumn("hv",
            conv(substring(md5(concat(col("k").cast("string"), lit(":"),
              col("bal_c").cast("string"))), 1, 12), 16, 10)
              .cast("long") % 1000000000000L)
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), sum(col("hv")).as("s"))
        val a = Tables.customer(s, d)
          .select(col("c_custkey").as("k"), cents(col("c_acctbal")).as("bal_c"))
        val b = a.withColumn("bal_c",
          when(col("k") === 997, col("bal_c") + 1).otherwise(col("bal_c")))
        val ga = hashed(a).withColumnRenamed("n", "n_a").withColumnRenamed("s", "s_a")
        val gb = hashed(b).withColumnRenamed("n", "n_b").withColumnRenamed("s", "s_b")
        ga.join(gb, "bucket")
          .filter(col("n_a") =!= col("n_b") || col("s_a") =!= col("s_b"))
          .select("bucket", "n_a", "n_b")
          .orderBy("bucket")
      }),

    // ---- q151: exact nearest-rank percentiles per group — the latency
    // SLO report (p50/p95/p99 of event value per type) computed EXACTLY:
    // the nearest-rank definition (value at rank ceil(p·n/100) in sorted
    // order) is engine-independent where interpolating percentiles and
    // approx sketches are not. One exchange on event_type + per-group
    // sort window; the rank arithmetic ((p·n + 99) div 100) is integer.
    // The percentile VALUE at a rank is tie-independent even though the
    // row at that rank isn't — the unique-id tiebreak still keeps both
    // engines on the identical row.
    Q("q151_slo_percentiles",
      Some("""WITH e AS (SELECT event_type, event_id,
             |                 CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |r AS (SELECT event_type, v,
             |        row_number() OVER (PARTITION BY event_type ORDER BY v, event_id) AS rn,
             |        COUNT(*) OVER (PARTITION BY event_type) AS n
             |      FROM e)
             |SELECT event_type, CAST(MAX(n) AS BIGINT) AS n,
             |       CAST(MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN v END) AS BIGINT) AS p50_c,
             |       CAST(MAX(CASE WHEN rn = (95 * n + 99) // 100 THEN v END) AS BIGINT) AS p95_c,
             |       CAST(MAX(CASE WHEN rn = (99 * n + 99) // 100 THEN v END) AS BIGINT) AS p99_c
             |FROM r GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy(col("v"), col("event_id"))
        val wN = Window.partitionBy("event_type")
        Tables.events(s, d)
          .select(col("event_type"), col("event_id"), cents(col("value")).as("v"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(wN))
          .groupBy("event_type")
          .agg(max(col("n")).as("n"),
            max(when(col("rn") === expr("(50 * n + 99) div 100"), col("v"))).as("p50_c"),
            max(when(col("rn") === expr("(95 * n + 99) div 100"), col("v"))).as("p95_c"),
            max(when(col("rn") === expr("(99 * n + 99) div 100"), col("v"))).as("p99_c"))
          .orderBy("event_type")
      }),

    // ---- q152: column profiling — the Deequ/dbt-test statistics pass
    // every governed lake runs before publishing a table: per column,
    // row count, null count, exact distinct count, lexicographic
    // min/max over a CANONICAL string rendering (doubles render
    // engine-dependently, so c_acctbal profiles via exact cents; longs
    // and strings render identically everywhere). One unpivot (stack)
    // then one groupBy — a single scan profiles all columns, vs the
    // naive per-column scan loop; the distinct count per (column, value)
    // partial-aggregates before its exchange.
    Q("q152_column_profile",
      Some("""WITH u AS (
             |  SELECT 'c_custkey' AS col_name, CAST(c_custkey AS VARCHAR) AS v FROM customer
             |  UNION ALL SELECT 'c_name', c_name FROM customer
             |  UNION ALL SELECT 'c_nationkey', CAST(c_nationkey AS VARCHAR) FROM customer
             |  UNION ALL SELECT 'c_acctbal_c', CAST(CAST(round(c_acctbal * 100) AS BIGINT) AS VARCHAR) FROM customer
             |  UNION ALL SELECT 'c_mktsegment', c_mktsegment FROM customer)
             |SELECT col_name, CAST(COUNT(*) AS BIGINT) AS n,
             |       CAST(COUNT(CASE WHEN v IS NULL THEN 1 END) AS BIGINT) AS n_null,
             |       CAST(COUNT(DISTINCT v) AS BIGINT) AS n_distinct,
             |       MIN(v) AS min_v, MAX(v) AS max_v
             |FROM u GROUP BY 1 ORDER BY col_name""".stripMargin),
      (s, d) => {
        Tables.customer(s, d)
          .select(expr(
            """stack(5,
              |  'c_custkey', cast(c_custkey as string),
              |  'c_name', c_name,
              |  'c_nationkey', cast(c_nationkey as string),
              |  'c_acctbal_c', cast(cast(round(c_acctbal * 100) as bigint) as string),
              |  'c_mktsegment', c_mktsegment) as (col_name, v)""".stripMargin))
          .groupBy("col_name")
          .agg(count(lit(1)).as("n"),
            count(when(col("v").isNull, 1)).as("n_null"),
            countDistinct(col("v")).as("n_distinct"),
            min(col("v")).as("min_v"), max(col("v")).as("max_v"))
          .orderBy("col_name")
      }),

    // ---- q153: SCD2 as-of enrichment — the temporal join every
    // warehouse runs against a versioned dimension (q98 BUILDS the SCD2
    // table; this query CONSUMES one): each fact joins the dim version
    // whose validity interval contains the fact's event date. The dim is
    // derived deterministically (odd customers re-segmented to 'MOVED'
    // on 1998-07-01) so both engines see identical versions. Shape: key
    // equi-join + interval residual — per-key version count is small and
    // bounded (SCD2's own invariant), so the join fan-in is versions,
    // not a range blow-up; dim side broadcasts at dim scale, buckets at
    // fact scale (q81 layout).
    Q("q153_scd2_asof",
      Some("""WITH c AS (SELECT c_custkey AS k, c_mktsegment AS seg, c_custkey % 2 = 1 AS odd FROM customer),
             |dim AS (
             |  SELECT k, seg, DATE '1992-01-01' AS vs,
             |         CASE WHEN odd THEN DATE '1998-06-30' ELSE DATE '9999-12-31' END AS ve FROM c
             |  UNION ALL
             |  SELECT k, 'MOVED', DATE '1998-07-01', DATE '9999-12-31' FROM c WHERE odd),
             |j AS (SELECT dim.seg, CAST(round(o.o_totalprice * 100) AS BIGINT) AS rev
             |      FROM orders o JOIN dim ON o.o_custkey = dim.k
             |       AND CAST(o.o_orderdate AS DATE) BETWEEN dim.vs AND dim.ve)
             |SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_orders,
             |       CAST(SUM(rev) AS BIGINT) AS rev_c
             |FROM j GROUP BY 1 ORDER BY seg""".stripMargin),
      (s, d) => {
        val c = Tables.customer(s, d)
          .select(col("c_custkey").as("k"), col("c_mktsegment").as("seg"),
            (col("c_custkey") % 2 === 1).as("odd"))
        val v1 = c.select(col("k"), col("seg"),
          lit("1992-01-01").cast("date").as("vs"),
          when(col("odd"), lit("1998-06-30")).otherwise(lit("9999-12-31"))
            .cast("date").as("ve"))
        val v2 = c.filter(col("odd")).select(col("k"), lit("MOVED").as("seg"),
          lit("1998-07-01").cast("date").as("vs"),
          lit("9999-12-31").cast("date").as("ve"))
        val dim = v1.unionAll(v2)
        Tables.orders(s, d)
          .join(broadcast(dim), col("o_custkey") === col("k") &&
            col("o_orderdate").cast("date").between(col("vs"), col("ve")))
          .groupBy("seg")
          .agg(count(lit(1)).as("n_orders"),
            sum(cents(col("o_totalprice"))).as("rev_c"))
          .orderBy("seg")
      }),

    // ---- q154: group-wise min-max feature scaling — the normalization
    // step feature pipelines run before training, in exact ppm: per
    // segment, scaled = (x − min)·1e6 div (max − min). Two-pass shape:
    // a segments-sized (min, max) rollup broadcasts back onto the fact
    // scan and the scaling is map-side — the corpus never shuffles for
    // normalization. greatest(span, 1) guards the degenerate
    // constant-group case identically in both engines.
    Q("q154_minmax_scale",
      Some("""WITH b AS (SELECT c_custkey AS k, c_mktsegment AS seg,
             |                 CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c FROM customer),
             |mm AS (SELECT seg, MIN(bal_c) AS mn, MAX(bal_c) AS mx FROM b GROUP BY 1)
             |SELECT b.k AS c_custkey, b.seg, b.bal_c,
             |       CAST(((b.bal_c - mm.mn) * 1000000) // greatest(mm.mx - mm.mn, 1) AS BIGINT) AS scaled_ppm
             |FROM b JOIN mm ON b.seg = mm.seg
             |ORDER BY c_custkey""".stripMargin),
      (s, d) => {
        val b = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("seg"),
            cents(col("c_acctbal")).as("bal_c"))
        val mm = b.groupBy("seg")
          .agg(min(col("bal_c")).as("mn"), max(col("bal_c")).as("mx"))
        b.join(broadcast(mm), "seg")
          .select(col("c_custkey"), col("seg"), col("bal_c"),
            expr("((bal_c - mn) * 1000000) div greatest(mx - mn, 1)").as("scaled_ppm"))
          .orderBy("c_custkey")
      }),

    // ---- q155: A/B experiment lift — deterministic hash assignment
    // (md5 lottery, the q64 mechanism: no RNG state, same arm on every
    // rerun and in every engine) and exact per-arm conversion in ppm.
    // The assignment is map-side; conversion is one distinct-user frame
    // joined to a purchaser flag — the analysis pattern behind every
    // experimentation platform, with the determinism audit built in
    // (both engines MUST agree on every user's arm for the hashes to
    // match).
    Q("q155_ab_lift",
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |arm AS (SELECT user_id,
             |      CAST(list_sum(list_transform(generate_series(1, 6),
             |        i -> (CASE WHEN ord(substr(md5(CAST(user_id AS VARCHAR)), i, 1)) >= 97
             |              THEN ord(substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 87
             |              ELSE ord(substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 48 END)
             |             * CAST(pow(16, 6 - i) AS BIGINT))) AS BIGINT) % 2 AS arm
             |      FROM u),
             |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
             |SELECT arm.arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             |       CAST(COUNT(p.user_id) AS BIGINT) AS n_converted,
             |       CAST((COUNT(p.user_id) * 1000000) // COUNT(*) AS BIGINT) AS conv_ppm
             |FROM arm LEFT JOIN p ON arm.user_id = p.user_id
             |GROUP BY 1 ORDER BY arm""".stripMargin),
      (s, d) => {
        val u = Tables.events(s, d).select("user_id").distinct()
        val arm = u.withColumn("arm",
          conv(substring(md5(col("user_id").cast("string")), 1, 6), 16, 10)
            .cast("long") % 2L)
        val p = Tables.events(s, d).filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu")).distinct()
        arm.join(p, col("user_id") === col("pu"), "left")
          .groupBy("arm")
          .agg(count(lit(1)).as("n_users"), count(col("pu")).as("n_converted"))
          .withColumn("conv_ppm", expr("(n_converted * 1000000) div n_users"))
          .orderBy("arm")
      }),

    // ---- q157: exact rolling 7-day distinct users — the WAU-style
    // sliding-window distinct count naive SQL computes as a quadratic
    // COUNT(DISTINCT)-per-day rescan. The exact linear shape: each
    // user's active days merge into COVERAGE intervals (a new interval
    // when the gap exceeds the window, the q43 construction), every
    // interval [s, e_last+6] contributes +1 at s and −1 at e+1, and the
    // rolling count is the running sum of day-step deltas over the
    // calendar spine — one user-partitioned window + a days-sized
    // prefix. The ORACLE is the independent naive range join (not a
    // mirror), so the interval algebra is verified against brute force
    // on every correctness run.
    Q("q157_rolling_dau",
      Some("""WITH ad AS (SELECT DISTINCT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day FROM events),
             |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ad),
             |spine AS (SELECT unnest(generate_series(lo, hi)) AS day FROM b),
             |r AS (SELECT s.day, COUNT(DISTINCT a.user_id) AS dau7
             |      FROM spine s LEFT JOIN ad a ON a.day BETWEEN s.day - 6 AND s.day
             |      GROUP BY 1)
             |SELECT day, CAST(COALESCE(dau7, 0) AS BIGINT) AS dau7
             |FROM r ORDER BY day""".stripMargin),
      (s, d) => {
        val ad = Tables.events(s, d)
          .select(col("user_id"),
            expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        val iv = ad
          .withColumn("brk", when(lag(col("day"), 1).over(w).isNull ||
            col("day") - lag(col("day"), 1).over(w) > 6, 1L).otherwise(0L))
          .withColumn("grp", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "grp")
          .agg(min(col("day")).as("s"), (max(col("day")) + 6L).as("e"))
        val deltas = iv.select(col("s").as("day"), lit(1L).as("delta"))
          .unionAll(iv.select((col("e") + 1L).as("day"), lit(-1L).as("delta")))
          .groupBy("day").agg(sum(col("delta")).as("delta"))
        val spine = ad.agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("day"))
        // calendar-sized running sum (the aggregate-first rule); deltas
        // past the spine end only affect days never emitted
        spine.join(deltas, Seq("day"), "left")
          .withColumn("dau7", sum(coalesce(col("delta"), lit(0L))).over(
            Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("day"), col("dau7"))
          .orderBy("day")
      }),

    // ---- q159: quantile normalization — the batch-effect correction
    // that maps each group's value distribution onto the GLOBAL
    // distribution (microarray-lineage, now feature-pipeline standard):
    // value at within-group rank r of n_g maps to the global value at
    // rank ceil(r·N/n_g). Per-group ranks are partitioned windows; the
    // global sorted order uses the scale-safe two-phase dense-id path
    // (never a single-partition corpus window); the mapping itself is an
    // equi-join on the computed rank. All rank arithmetic integer-exact.
    Q("q159_quantile_normalize",
      Some("""WITH e AS (SELECT event_id, event_type AS t,
             |                 CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |r AS (SELECT event_id, t, v,
             |        row_number() OVER (PARTITION BY t ORDER BY v, event_id) AS r,
             |        COUNT(*) OVER (PARTITION BY t) AS n_g FROM e),
             |g AS (SELECT v AS gv, row_number() OVER (ORDER BY v, event_id) AS gr FROM e),
             |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM e)
             |SELECT r.event_id, r.t, r.v,
             |       g.gv AS vq
             |FROM r CROSS JOIN nn JOIN g ON g.gr = (r.r * nn.n + r.n_g - 1) // r.n_g
             |ORDER BY r.event_id""".stripMargin),
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("event_id"), col("event_type").as("t"),
            cents(col("value")).as("v"))
        val wT = Window.partitionBy("t").orderBy(col("v"), col("event_id"))
        val r = e.withColumn("r", row_number().over(wT).cast("long"))
          .withColumn("n_g", count(lit(1)).over(Window.partitionBy("t")))
        val g = Windows.denseIdsScalable(
          e.select(col("v").as("gv"), col("event_id").as("geid")),
          Seq(col("gv"), col("geid")), "gr").select("gv", "gr")
        val nn = e.agg(count(lit(1)).as("n"))
        r.crossJoin(broadcast(nn))
          .withColumn("gr", expr("(r * n + n_g - 1) div n_g"))
          .join(g, "gr")
          .select(col("event_id"), col("t"), col("v"), col("gv").as("vq"))
          .orderBy("event_id")
      }),

    // ---- q160: exact Pearson correlation per group — corr(daily order
    // count, daily revenue) per priority, integer-exact: the five sum
    // terms come from one partial-agg over the (prio, day) rollup, and
    // r_ppm = (nΣxy−ΣxΣy)·1e6 div (isqrt(nΣxx−Σx²)·isqrt(nΣyy−Σy²))
    // with the corrected integer sqrt (q126's construction) applied to
    // EACH factor — the two-isqrt denominator is the documented
    // definition (isqrt(a)·isqrt(b), not isqrt(ab), which would overflow
    // Long); numerator sign-split per the q132 rule. Float corr() would
    // never hash-match across engines; this does, at any parallelism.
    Q("q160_metric_correlation",
      Some("""WITH daily AS (SELECT o_orderpriority AS prio,
             |                 CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             |                 CAST(COUNT(*) AS BIGINT) AS x,
             |                 CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000 AS BIGINT) AS y
             |               FROM orders GROUP BY 1, 2),
             |s AS (SELECT prio, CAST(COUNT(*) AS BIGINT) AS n,
             |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             |        CAST(SUM(x*y) AS BIGINT) AS sxy,
             |        CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
             |      FROM daily GROUP BY 1),
             |t AS (SELECT prio, n, n*sxy - sx*sy AS num,
             |        n*sxx - sx*sx AS a, n*syy - sy*sy AS b FROM s),
             |ia AS (SELECT prio, n, num, a, b,
             |         CAST(floor(sqrt(CAST(a AS DOUBLE))) AS BIGINT) AS sa0,
             |         CAST(floor(sqrt(CAST(b AS DOUBLE))) AS BIGINT) AS sb0 FROM t),
             |ib AS (SELECT prio, n, num, a, b,
             |         sa0 + (CASE WHEN (sa0+1)*(sa0+1) <= a THEN 1 ELSE 0 END) AS sa1,
             |         sb0 + (CASE WHEN (sb0+1)*(sb0+1) <= b THEN 1 ELSE 0 END) AS sb1 FROM ia),
             |ic AS (SELECT prio, n, num,
             |         sa1 - (CASE WHEN sa1*sa1 > a THEN 1 ELSE 0 END) AS sa,
             |         sb1 - (CASE WHEN sb1*sb1 > b THEN 1 ELSE 0 END) AS sb
             |       FROM ib)
             |SELECT prio, n AS n_days,
             |       CAST(CASE WHEN num >= 0
             |            THEN (num * 1000000) // greatest(sa * sb, 1)
             |            ELSE -((-num) * 1000000) // greatest(sa * sb, 1) END AS BIGINT) AS r_ppm
             |FROM ic ORDER BY prio""".stripMargin),
      (s, d) => {
        val daily = Tables.orders(s, d)
          .groupBy(col("o_orderpriority").as("prio"),
            datediff(col("o_orderdate").cast("date"),
              lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg(count(lit(1)).as("x"),
            expr("sum(cast(round(o_totalprice * 100) as bigint)) div 100000").as("y"))
        // q126's corrected integer sqrt: IEEE seed, +1 if it undershot,
        // then −1 if it overshot — exact for any Long input
        def isqrtCorrected(v: org.apache.spark.sql.Column) = {
          val s0 = floor(sqrt(v.cast("double"))).cast("long")
          val s1 = s0 + when((s0 + 1L) * (s0 + 1L) <= v, 1L).otherwise(0L)
          s1 - when(s1 * s1 > v, 1L).otherwise(0L)
        }
        daily.groupBy("prio")
          .agg(count(lit(1)).as("n"),
            sum(col("x")).as("sx"), sum(col("y")).as("sy"),
            sum(col("x") * col("y")).as("sxy"),
            sum(col("x") * col("x")).as("sxx"),
            sum(col("y") * col("y")).as("syy"))
          .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("a", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("b", col("n") * col("syy") - col("sy") * col("sy"))
          .withColumn("sa", isqrtCorrected(col("a")))
          .withColumn("sb", isqrtCorrected(col("b")))
          .withColumn("r_ppm",
            when(col("num") >= 0,
              expr("(num * 1000000) div greatest(sa * sb, 1)"))
              .otherwise(-expr("((-num) * 1000000) div greatest(sa * sb, 1)")))
          .select(col("prio"), col("n").as("n_days"), col("r_ppm"))
          .orderBy("prio")
      }),

    // ---- q162: sort-free exact quantiles via histogram bisection — the
    // scale path for "exact p50/p90/p99 of one corpus-sized column":
    // q151's per-group sort window is right when groups are small, but a
    // GLOBAL exact quantile via sort shuffles the whole corpus to order
    // it. This shape never sorts the corpus: scan 1 folds values into a
    // ~800-row bucket histogram (v div 65536 — partial-agg, map-side
    // combine), the cumulative over the BUCKETS-sized frame locates the
    // bucket holding each nearest-rank target, and scan 2 sorts ONLY the
    // located buckets (corpus/buckets rows each) to pick the in-bucket
    // offset. Two scans, zero corpus shuffles; bucket width is the
    // memory-vs-precision knob. The ORACLE is the independent full-sort
    // nearest-rank construction, so the bisection arithmetic is verified
    // against brute force on every correctness run.
    Q("q162_quantile_bisect",
      Some("""WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
             |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
             |r AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
             |SELECT CAST(t.p AS BIGINT) AS p, r.v AS value
             |FROM (VALUES (50), (90), (99)) t(p)
             |CROSS JOIN n
             |JOIN r ON r.rn = (t.p * n.n + 99) // 100
             |ORDER BY p""".stripMargin),
      (s, d) => {
        val withB = Tables.orders(s, d)
          .select(cents(col("o_totalprice")).as("v"))
          .withColumn("b", expr("v div 65536"))
        val hc = withB.groupBy("b").agg(count(lit(1)).as("c"))
          .withColumn("cum", sum("c").over(Window.orderBy("b")))
          .withColumn("prev", col("cum") - col("c"))
        val nRow = withB.agg(count(lit(1)).as("n"))
        // targets are literals; n is the only runtime scalar (1-row cross)
        val locator = hc.crossJoin(broadcast(nRow))
          .withColumn("t", explode(array(
            Seq(50, 90, 99).map(p => struct(lit(p.toLong).as("p"),
              expr(s"($p * n + 99) div 100").as("rank"))): _*)))
          .filter(col("cum") >= col("t.rank") && col("prev") < col("t.rank"))
          .select(col("t.p").as("p"), col("b"),
            (col("t.rank") - col("prev")).as("off"))
        withB.join(broadcast(locator), "b")
          .withColumn("rn", row_number().over(
            Window.partitionBy("p", "b").orderBy("v")).cast("long"))
          .filter(col("rn") === col("off"))
          .select(col("p"), col("v").as("value"))
          .orderBy("p")
      }),

    // ---- q163: Z-order layout-cell audit — the multi-dimensional
    // clustering key behind Sinks.zorderedParquet, declared as a query so
    // the native Morton2Expr kernel sits in the correctness gate: orders
    // keyed by (custkey, order-day) mod 1024, bit-interleaved
    // (graft_morton2 — codegen'd), grouped by z-prefix cell (z div 4096 =
    // 6 low bits per dimension dropped). The emitted per-cell min/max of
    // BOTH dimensions exhibit the property that makes Z-order work: every
    // cell is a ≤64×64 rectangle, so a range predicate on either
    // dimension prunes whole cells (files). The oracle rebuilds the
    // interleave as an unrolled 10-bit sum, so the magic-number dilation
    // is verified bit-for-bit against the definition.
    Q("q163_zorder_cells",
      Some {
        val mortonSql = (0 until 10).map(i =>
          s"((x // ${1L << i}) % 2) * ${1L << (2 * i)} + ((y // ${1L << i}) % 2) * ${1L << (2 * i + 1)}")
          .mkString(" + ")
        s"""WITH xy AS (SELECT o_custkey % 1024 AS x,
           |                   CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) % 1024 AS y
           |            FROM orders),
           |z AS (SELECT x, y, ($mortonSql) AS z FROM xy)
           |SELECT z // 4096 AS cell, CAST(COUNT(*) AS BIGINT) AS n,
           |       MIN(x) AS min_x, MAX(x) AS max_x,
           |       MIN(y) AS min_y, MAX(y) AS max_y
           |FROM z GROUP BY 1 ORDER BY cell""".stripMargin
      },
      (s, d) => {
        Tables.orders(s, d)
          .select(pmod(col("o_custkey"), lit(1024L)).as("x"),
            pmod(datediff(col("o_orderdate").cast("date"),
              lit("1970-01-01").cast("date")).cast("long"), lit(1024L)).as("y"))
          .withColumn("z", NativeText.morton2(col("x"), col("y")))
          .withColumn("cell", expr("z div 4096"))
          .groupBy("cell")
          .agg(count(lit(1)).as("n"),
            min(col("x")).as("min_x"), max(col("x")).as("max_x"),
            min(col("y")).as("min_y"), max(col("y")).as("max_y"))
          .orderBy("cell")
      }),

    // ---- q164: exact time-weighted average — the metric a plain AVG
    // gets wrong whenever observations are irregularly spaced (a value
    // that held for 3 days must weigh 3 days, not 1 sample): each event's
    // value holds until the same user's NEXT event, weight = hold
    // duration in whole seconds (micros div 1e6 — both engines floor on
    // the non-negative domain), TWAP = Σ(v·d) div Σ(d) per event type.
    // One user-partitioned lead window (same (tsu, event_id) total order
    // as q143) + one partial-agg; last-event open intervals drop out as
    // null leads. Overflow audit: v ≤ ~2^15 cents, d seconds — Σ(v·d)
    // stays under 2^63 until ~3·10^13 held-value seconds per type; at
    // corpus scales beyond that the same algebra runs on a per-day
    // rollup first (the L110 quantization rule).
    Q("q164_twap",
      Some("""WITH e AS (SELECT user_id, event_type, event_id,
             |                 epoch_us(ts) AS tsu,
             |                 CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |h AS (SELECT event_type, v,
             |        (lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) - tsu) // 1000000 AS d
             |      FROM e)
             |SELECT event_type, CAST(SUM(d) AS BIGINT) AS hold_s,
             |       CAST(SUM(v * d) // greatest(SUM(d), 1) AS BIGINT) AS twap_c
             |FROM h WHERE d IS NOT NULL
             |GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            eventTsu.as("tsu"), cents(col("value")).as("v"))
          .withColumn("dus", lead(col("tsu"), 1).over(w) - col("tsu"))
          .withColumn("d", expr("dus div 1000000"))
          .filter(col("d").isNotNull)
          .groupBy("event_type")
          .agg(sum(col("d")).as("hold_s"),
            expr("sum(v * d) div greatest(sum(d), 1)").as("twap_c"))
          .orderBy("event_type")
      }),

    // ---- q165: duration-weighted exact percentiles — q151 weighs every
    // observation equally; time-in-state analysis must weigh each value
    // by HOW LONG it held (q164's hold durations): the weighted
    // nearest-rank percentile is the smallest value whose cumulative
    // weight reaches ceil(p·W/100). Same (v, event_id) total order both
    // engines; the per-type running weight and the per-type total ride
    // the SAME hash exchange (two window specs, one partitioning);
    // targets are literals exploded map-side, so no join is added.
    // Zero-weight rows can never be selected (cum−w = cum), identically
    // in both engines.
    Q("q165_weighted_percentiles",
      Some("""WITH e AS (SELECT user_id, event_type, event_id,
             |                 epoch_us(ts) AS tsu,
             |                 CAST(round(value * 100) AS BIGINT) AS v FROM events),
             |h AS (SELECT event_type, v, event_id,
             |        (lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) - tsu) // 1000000 AS d
             |      FROM e),
             |c AS (SELECT event_type, v, event_id, d,
             |        SUM(d) OVER (PARTITION BY event_type ORDER BY v, event_id) AS cum,
             |        SUM(d) OVER (PARTITION BY event_type) AS w
             |      FROM h WHERE d IS NOT NULL)
             |SELECT event_type, CAST(t.p AS BIGINT) AS p, v AS value
             |FROM c CROSS JOIN (VALUES (50), (95)) t(p)
             |WHERE cum >= (t.p * w + 99) // 100 AND cum - d < (t.p * w + 99) // 100
             |ORDER BY event_type, p""".stripMargin),
      (s, d) => {
        val wu = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val h = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            eventTsu.as("tsu"), cents(col("value")).as("v"))
          .withColumn("dus", lead(col("tsu"), 1).over(wu) - col("tsu"))
          .withColumn("d", expr("dus div 1000000"))
          .filter(col("d").isNotNull)
        val wt = Window.partitionBy("event_type").orderBy("v", "event_id")
        h.withColumn("cum", sum(col("d")).over(
            wt.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("w", sum(col("d")).over(Window.partitionBy("event_type")))
          .withColumn("p", explode(array(lit(50L), lit(95L))))
          .withColumn("tgt", expr("(p * w + 99) div 100"))
          .filter(col("cum") >= col("tgt") && col("cum") - col("d") < col("tgt"))
          .select(col("event_type"), col("p"), col("v").as("value"))
          .orderBy("event_type", "p")
      }),

    // ---- q167: post-stratification estimator — the bias correction for
    // analyzing a DELIBERATELY skewed sample: high-value orders (top two
    // 100k$-bands) are kept at 77/256, the rest at 26/256 (md5 lottery,
    // the q141 RNG-free idiom). Because the sampling rate CORRELATES
    // with the value, the naive sample mean is biased high; reweighting
    // each stratum's sample mean by its POPULATION share removes exactly
    // that bias (strata = the skew variable). All three estimates
    // emitted exactly — pop_c (truth), naive_c (biased), pstrat_c
    // (calibrated) — so every correctness run demonstrates the
    // calibration closing most of the gap. Cost: one scan, two
    // strata-sized rollups, one 5-row join; the lottery is map-side.
    Q("q167_post_stratification",
      Some {
        val hex2 = "CAST(list_sum(list_transform(generate_series(1, 2), " +
          "i -> (CASE WHEN ord(substr(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) >= 97 " +
          "THEN ord(substr(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) - 87 " +
          "ELSE ord(substr(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) - 48 END) " +
          "* CAST(pow(16, 2 - i) AS BIGINT))) AS BIGINT)"
        s"""WITH o AS (SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 10000000, 4) AS seg,
           |                  CAST(round(o_totalprice * 100) AS BIGINT) AS v,
           |                  $hex2 AS pp
           |           FROM orders),
           |k AS (SELECT seg, v,
           |        pp < (CASE WHEN seg >= 3 THEN 77 ELSE 26 END) AS keep
           |      FROM o),
           |pop AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS big_n, CAST(SUM(v) AS BIGINT) AS big_v
           |        FROM k GROUP BY 1),
           |smp AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_g, CAST(SUM(v) AS BIGINT) AS s_g
           |        FROM k WHERE keep GROUP BY 1),
           |j AS (SELECT pop.big_n, pop.big_v, smp.n_g, smp.s_g,
           |             pop.big_n * (smp.s_g // smp.n_g) AS ps
           |      FROM pop JOIN smp USING (seg))
           |SELECT CAST(SUM(big_v) // SUM(big_n) AS BIGINT) AS pop_c,
           |       CAST(SUM(s_g) // SUM(n_g) AS BIGINT) AS naive_c,
           |       CAST(SUM(ps) // SUM(big_n) AS BIGINT) AS pstrat_c
           |FROM j""".stripMargin
      },
      (s, d) => {
        val o = Tables.orders(s, d)
          .select(cents(col("o_totalprice")).as("v"),
            conv(substring(md5(col("o_orderkey").cast("string")), 1, 2), 16, 10)
              .cast("long").as("pp"))
          .withColumn("seg", least(expr("v div 10000000"), lit(4L)))
          .withColumn("keep",
            col("pp") < when(col("seg") >= 3L, 77L).otherwise(26L))
        val pop = o.groupBy("seg")
          .agg(count(lit(1)).as("big_n"), sum(col("v")).as("big_v"))
        val smp = o.filter(col("keep")).groupBy("seg")
          .agg(count(lit(1)).as("n_g"), sum(col("v")).as("s_g"))
        pop.join(broadcast(smp), "seg")
          .withColumn("ps", col("big_n") * expr("s_g div n_g"))
          .agg(expr("sum(big_v) div sum(big_n)").as("pop_c"),
            expr("sum(s_g) div sum(n_g)").as("naive_c"),
            expr("sum(ps) div sum(big_n)").as("pstrat_c"))
      }),

    // ---- q168: clamped running balance — the NON-ASSOCIATIVE scan no
    // window frame can express (inventory/credit semantics: balance
    // never goes below zero, so every prefix is max(0, prev + delta) —
    // clamping destroys the associativity sum().over() relies on). The
    // scale-correct shape: per-user deltas collected into an ORDERED
    // array (sort_array over (tsu, event_id, delta) structs — bounded by
    // per-user activity, never corpus-sized) and folded by the
    // `aggregate` higher-order function; DuckDB's list_reduce replays
    // the identical fold, so the order-dependent semantics are
    // hash-verified step for step. Purchases credit, everything else
    // debits.
    Q("q168_clamped_balance",
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
             |                 CASE WHEN event_type = 'purchase'
             |                      THEN CAST(round(value * 100) AS BIGINT)
             |                      ELSE -CAST(round(value * 100) AS BIGINT) END AS delta
             |           FROM events),
             |l AS (SELECT user_id, list(delta ORDER BY tsu, event_id) AS ds
             |      FROM e GROUP BY 1)
             |SELECT user_id,
             |       list_reduce(list_prepend(CAST(0 AS BIGINT), ds),
             |                   (a, b) -> greatest(a + b, 0)) AS balance_c
             |FROM l ORDER BY user_id""".stripMargin),
      (s, d) =>
        Tables.events(s, d)
          .select(col("user_id"), eventTsu.as("tsu"), col("event_id"),
            when(col("event_type") === "purchase", cents(col("value")))
              .otherwise(-cents(col("value"))).as("delta"))
          .groupBy("user_id")
          .agg(sort_array(collect_list(
            struct(col("tsu"), col("event_id"), col("delta")))).as("ds"))
          .select(col("user_id"),
            expr("aggregate(ds, cast(0 as bigint), (a, x) -> greatest(a + x.delta, cast(0 as bigint)))")
              .as("balance_c"))
          .orderBy("user_id")),

    // ---- q170: Kaplan-Meier survival curve with right-censoring — the
    // estimator naive "average time to ship" gets wrong whenever
    // observation is truncated: subjects are lineitems, the event is
    // shipment at day d = shipdate − orderdate, and a fixed 60-day
    // follow-up horizon right-censors the ~half that ship later (they
    // leave the risk set WITHOUT an event — dropping them would bias
    // survival low, counting them as events would bias it high; KM is
    // the unbiased middle). S(t) = Π_{t'≤t} (n_t'−d_t') div n_t' folded
    // in exact ppm. Scale shape: the corpus only feeds one 60-row
    // (day, deaths) rollup + a 1-row censored count; the curve math runs
    // on the CALENDAR-bounded 60-row frame (per-row prefix fold via the
    // `aggregate` HOF — O(60²) on 60 rows, constant at any corpus
    // size). DuckDB replays the same fold through list_reduce with the
    // (n, d) pair packed into one BIGINT (n·2^20 + d), so the
    // truncating integer steps match exactly. PACKING BOUND: the oracle
    // encoding requires d (deaths on one ship-delay day) < 2^20
    // ≈ 1.05M; beyond that the packed fold corrupts while the Spark
    // side (unpacked structs) stays correct. lineitem/60 crosses the
    // bound around sf≈175 — RoundSixOpsSpec asserts the bound holds on
    // the test corpus; at larger sf widen the shift in the oracle.
    Q("q170_km_shipping",
      Some("""WITH base AS (SELECT CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS d
             |              FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
             |              WHERE CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) >= 1),
             |cens AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM base WHERE d > 60),
             |dt AS (SELECT t.t, CAST(COALESCE(x.cnt, 0) AS BIGINT) AS d
             |       FROM (SELECT unnest(generate_series(1, 60)) AS t) t
             |       LEFT JOIN (SELECT d, COUNT(*) AS cnt FROM base WHERE d <= 60 GROUP BY 1) x
             |              ON x.d = t.t),
             |st AS (SELECT t, d,
             |         CAST(SUM(d) OVER (ORDER BY t DESC) + (SELECT c FROM cens) AS BIGINT) AS n
             |       FROM dt),
             |arr AS (SELECT list(n * 1048576 + d ORDER BY t) AS a FROM st)
             |SELECT CAST(st.t AS BIGINT) AS t, st.d AS n_events, st.n AS n_risk,
             |       CAST(list_reduce(list_prepend(CAST(1000000 AS BIGINT), arr.a[1:st.t]),
             |         (s, x) -> (s * ((x // 1048576) - (x % 1048576))) // greatest(x // 1048576, 1)) AS BIGINT) AS s_ppm
             |FROM st, arr ORDER BY t""".stripMargin),
      (s, d) => {
        val base = Tables.lineitem(s, d).select(col("l_orderkey"), col("l_shipdate"))
          .join(Tables.orders(s, d).select(col("o_orderkey"), col("o_orderdate")),
            col("l_orderkey") === col("o_orderkey"))
          .select(datediff(col("l_shipdate").cast("date"),
            col("o_orderdate").cast("date")).cast("long").as("d"))
          .filter(col("d") >= 1L)
        // r15: the censored count and the per-day death histogram both
        // consumed `base` — the lineitem⋈orders join ran TWICE, and
        // sequentially (the censored broadcast gates the curve). Fold
        // them into ONE 61-bucket aggregation over one pass of the join
        // (bucket -1 = censored), persisted so both consumers read the
        // 61-row frame.
        import graft.operators.CacheScope
        CacheScope.release("q170")
        val hist = CacheScope.persist("q170", base
          .groupBy(when(col("d") > 60L, lit(-1L)).otherwise(col("d")).as("t"))
          .agg(count(lit(1)).as("cnt")))
        val censRow = hist
          .agg(coalesce(sum(when(col("t") === -1L, col("cnt")).otherwise(0L)),
            lit(0L)).as("cens"))
        val spine = s.range(1, 61).toDF("t")
        val dt = spine
          .join(hist.filter(col("t") >= 1L), Seq("t"), "left")
          .select(col("t"), coalesce(col("cnt"), lit(0L)).as("d"))
        // 1-row censored-count scalar onto the 60-row curve frame
        val st = dt.crossJoin(broadcast(censRow))
          .withColumn("n", sum(col("d")).over(
            Window.orderBy(col("t").desc)
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)) + col("cens"))
          .select(col("t"), col("d"), col("n"))
        val arr = st.agg(sort_array(collect_list(
          struct(col("t"), col("d"), col("n")))).as("a"))
        st.crossJoin(broadcast(arr))
          .withColumn("s_ppm",
            expr("aggregate(filter(a, x -> x.t <= t), cast(1000000 as bigint), " +
              "(s, x) -> (s * (x.n - x.d)) div greatest(x.n, 1))"))
          .select(col("t"), col("d").as("n_events"), col("n").as("n_risk"), col("s_ppm"))
          .orderBy("t")
      }),

    // ---- q171: day-of-week seasonal decomposition — split a daily
    // revenue series into its weekly seasonal profile (exact per-dow
    // mean) and residuals, and surface the 10 largest |residual| days:
    // the anomalies that REMAIN after seasonality is explained (a plain
    // top-10-by-revenue just returns five Sundays). Aggregate-first: the
    // corpus folds to a days-sized rollup, the profile is a 7-row
    // broadcast dim, residuals are map-side, and the top-10 is a
    // TakeOrdered — no corpus-scale sort.
    Q("q171_dow_seasonal",
      Some("""WITH daily AS (SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             |                      CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS v
             |               FROM orders GROUP BY 1),
             |m AS (SELECT day % 7 AS dow, CAST(SUM(v) // COUNT(*) AS BIGINT) AS mean_c
             |      FROM daily GROUP BY 1)
             |SELECT d.day, d.day % 7 AS dow, d.v AS revenue_c, m.mean_c,
             |       d.v - m.mean_c AS residual_c
             |FROM daily d JOIN m ON m.dow = d.day % 7
             |ORDER BY abs(d.v - m.mean_c) DESC, d.day LIMIT 10""".stripMargin),
      (s, d) => {
        val daily = Tables.orders(s, d)
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg(sum(cents(col("o_totalprice"))).as("v"))
          .withColumn("dow", pmod(col("day"), lit(7L)))
        val m = daily.groupBy("dow")
          .agg(expr("sum(v) div count(1)").as("mean_c"))
        daily.join(broadcast(m), "dow")
          .select(col("day"), col("dow"), col("v").as("revenue_c"), col("mean_c"),
            (col("v") - col("mean_c")).as("residual_c"))
          .orderBy(abs(col("residual_c")).desc, col("day"))
          .limit(10)
      }),

    // ---- q172: deterministic per-group mode — each user's most
    // frequent event type, the categorical summary the A-family lacked:
    // one (user, type) partial-agg (the shuffle carries counts, never
    // events) + a row_number over the per-user handful of type counts;
    // the (count DESC, type ASC) tie order is total, so both engines
    // pick the identical winner — the trap in mode()/arg_max builtins,
    // whose tie rules differ across engines, never arises.
    Q("q172_group_mode",
      Some("""WITH c AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
             |           FROM events GROUP BY 1, 2),
             |r AS (SELECT user_id, event_type, n,
             |        row_number() OVER (PARTITION BY user_id ORDER BY n DESC, event_type) AS rk
             |      FROM c)
             |SELECT user_id, event_type AS top_type, n FROM r WHERE rk = 1
             |ORDER BY user_id""".stripMargin),
      (s, d) =>
        Tables.events(s, d)
          .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type"))))
          .filter(col("rk") === 1)
          .select(col("user_id"), col("event_type").as("top_type"), col("n"))
          .orderBy("user_id")),

    // ---- q173: decile lift / gains table — the model-eval report for a
    // ranking score: customers ranked by total spend, outcome = placed a
    // 450k$+ order; per decile the conversion rate, cumulatively the
    // LIFT over the base rate (how much better the top-k% of the
    // ranking converts than random targeting — the number a campaign
    // planner reads). Ranks come from the scale-safe two-phase dense-id
    // path (never a corpus-wide single-partition window); totals are a
    // 1-row scalar cross; everything after the rank is a 10-row frame.
    // Exact ppm throughout: cum_conv·N·1e6 stays under 2^63 to ~10^5×
    // the sf0.1 customer count.
    Q("q173_decile_lift",
      Some("""WITH sp AS (SELECT o_custkey AS ck,
             |              CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS score,
             |              CAST(MAX(CASE WHEN CAST(round(o_totalprice * 100) AS BIGINT) > 45000000
             |                            THEN 1 ELSE 0 END) AS BIGINT) AS conv
             |            FROM orders GROUP BY 1),
             |r AS (SELECT ck, score, conv,
             |        row_number() OVER (ORDER BY score DESC, ck) AS rk FROM sp),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(conv) AS BIGINT) AS tc FROM sp),
             |dec AS (SELECT ((rk - 1) * 10) // t.n + 1 AS decile, conv, t.n, t.tc
             |        FROM r CROSS JOIN t),
             |g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
             |        CAST(SUM(conv) AS BIGINT) AS n_conv,
             |        MAX(n) AS n, MAX(tc) AS tc
             |      FROM dec GROUP BY 1)
             |SELECT CAST(decile AS BIGINT) AS decile, n_cust, n_conv,
             |       CAST(n_conv * 1000000 // n_cust AS BIGINT) AS conv_ppm,
             |       CAST(SUM(n_conv) OVER (ORDER BY decile) * n * 1000000
             |            // (SUM(n_cust) OVER (ORDER BY decile) * greatest(tc, 1)) AS BIGINT) AS cum_lift_ppm
             |FROM g ORDER BY decile""".stripMargin),
      (s, d) => {
        val sp = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("ck"))
          .agg(sum(cents(col("o_totalprice"))).as("score"),
            max(when(cents(col("o_totalprice")) > 45000000L, 1L).otherwise(0L)).as("conv"))
        val ranked = Windows.denseIdsScalable(sp,
          Seq(col("score").desc, col("ck")), "rk")
        val totals = sp.agg(count(lit(1)).as("n"), sum(col("conv")).as("tc"))
        val wd = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ranked.crossJoin(broadcast(totals))
          .withColumn("decile", expr("((rk - 1) * 10) div n + 1"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_cust"), sum(col("conv")).as("n_conv"),
            max(col("n")).as("n"), max(col("tc")).as("tc"))
          .withColumn("conv_ppm", expr("n_conv * 1000000 div n_cust"))
          .withColumn("cum_conv", sum(col("n_conv")).over(wd))
          .withColumn("cum_n", sum(col("n_cust")).over(wd))
          .withColumn("cum_lift_ppm",
            expr("cum_conv * n * 1000000 div (cum_n * greatest(tc, 1))"))
          .select(col("decile"), col("n_cust"), col("n_conv"),
            col("conv_ppm"), col("cum_lift_ppm"))
          .orderBy("decile")
      }),

    // ---- q174: out-of-order lateness audit — the diagnostic that SIZES
    // a streaming watermark before any stream runs: replay the batch in
    // ARRIVAL order (event_id, the ingest sequence) and measure how far
    // event time runs behind the per-user running maximum. late_ppm
    // tells you how much data a zero-delay watermark would drop;
    // max_late_s is the delay bound that drops none. One user-
    // partitioned window in arrival order + a types-sized rollup.
    Q("q174_lateness_audit",
      Some("""WITH e AS (SELECT user_id, event_type, event_id,
             |                 epoch_us(ts) AS tsu FROM events),
             |r AS (SELECT event_type, tsu,
             |        MAX(tsu) OVER (PARTITION BY user_id ORDER BY event_id
             |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax
             |      FROM e),
             |l AS (SELECT event_type,
             |        CASE WHEN runmax > tsu THEN (runmax - tsu) // 1000000 END AS late_s
             |      FROM r)
             |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             |       CAST(COUNT(late_s) AS BIGINT) AS n_late,
             |       CAST(COUNT(late_s) * 1000000 // COUNT(*) AS BIGINT) AS late_ppm,
             |       CAST(COALESCE(MAX(late_s), 0) AS BIGINT) AS max_late_s,
             |       CAST(COALESCE(SUM(late_s), 0) AS BIGINT) AS sum_late_s
             |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("event_id"),
            eventTsu.as("tsu"))
          .withColumn("runmax", max(col("tsu")).over(w))
          .withColumn("late_s", when(col("runmax") > col("tsu"),
            expr("(runmax - tsu) div 1000000")))
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            count(col("late_s")).as("n_late"),
            expr("count(late_s) * 1000000 div count(1)").as("late_ppm"),
            coalesce(max(col("late_s")), lit(0L)).as("max_late_s"),
            coalesce(sum(col("late_s")), lit(0L)).as("sum_late_s"))
          .orderBy("event_type")
      }),

    // ---- q175: annotation label consensus with one reweighting round —
    // the RLHF/label-aggregation shape (Dawid-Skene's first EM step,
    // integer-exact): items are days, annotators are users, a user's
    // vote is their modal event type that day. Round 1: unweighted
    // majority per day. Accuracy: each annotator's agreement rate with
    // round 1, in ppm. Round 2: votes reweighted by annotator accuracy.
    // Every argmax uses the (count/weight DESC, type ASC) total order,
    // so both engines elect identical winners at every step. Costs: one
    // (day, user, type) rollup, two day-partitioned windows, one
    // users-sized accuracy frame broadcast back.
    Q("q175_label_consensus",
      Some("""WITH v0 AS (SELECT epoch_us(ts) // 86400000000 AS day, user_id, event_type,
             |                   CAST(COUNT(*) AS BIGINT) AS n
             |            FROM events GROUP BY 1, 2, 3),
             |v AS (SELECT day, user_id, event_type FROM (
             |        SELECT day, user_id, event_type,
             |          row_number() OVER (PARTITION BY day, user_id
             |                             ORDER BY n DESC, event_type) AS rk FROM v0)
             |      WHERE rk = 1),
             |r1 AS (SELECT day, event_type AS label1 FROM (
             |         SELECT day, event_type,
             |           row_number() OVER (PARTITION BY day
             |                              ORDER BY COUNT(*) DESC, event_type) AS rk
             |         FROM v GROUP BY day, event_type)
             |       WHERE rk = 1),
             |acc AS (SELECT v.user_id,
             |          CAST(SUM(CASE WHEN v.event_type = r1.label1 THEN 1 ELSE 0 END) * 1000000
             |               // COUNT(*) AS BIGINT) AS w
             |        FROM v JOIN r1 USING (day) GROUP BY 1),
             |r2 AS (SELECT day, event_type AS label2, nv FROM (
             |         SELECT v.day, v.event_type,
             |           CAST(SUM(acc.w) AS BIGINT) AS ws,
             |           CAST(COUNT(*) AS BIGINT) AS nv,
             |           row_number() OVER (PARTITION BY v.day
             |                              ORDER BY SUM(acc.w) DESC, v.event_type) AS rk
             |         FROM v JOIN acc USING (user_id) GROUP BY v.day, v.event_type)
             |       WHERE rk = 1),
             |nv AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_voters FROM v GROUP BY 1)
             |SELECT r1.day, r1.label1, r2.label2, nv.n_voters
             |FROM r1 JOIN r2 USING (day) JOIN nv USING (day)
             |ORDER BY day""".stripMargin),
      (s, d) => {
        // r15 note: `v` has four consumers and the runtime plan re-runs
        // its pipeline per consumer — but persisting it was MEASURED
        // SLOWER at sf0.1 (1.48 → 1.82 s min): the branches recompute
        // concurrently across cores while a persist serializes the DAG
        // behind one materialization. Left as recompute; see
        // OPTIMIZATION_r15.md (q175).
        val v = Tables.events(s, d)
          .groupBy(expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"),
            col("user_id"), col("event_type"))
          .agg(count(lit(1)).as("n"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("day", "user_id")
              .orderBy(col("n").desc, col("event_type"))))
          .filter(col("rk") === 1)
          .select("day", "user_id", "event_type")
        val r1 = v.groupBy("day", "event_type").agg(count(lit(1)).as("c"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("day").orderBy(col("c").desc, col("event_type"))))
          .filter(col("rk") === 1)
          .select(col("day"), col("event_type").as("label1"))
        val acc = v.join(r1, "day")
          .groupBy("user_id")
          .agg(expr("sum(case when event_type = label1 then 1 else 0 end) * 1000000 div count(1)")
            .as("w"))
        val r2 = v.join(broadcast(acc), "user_id")
          .groupBy("day", "event_type")
          .agg(sum(col("w")).as("ws"), count(lit(1)).as("nvt"))
          .withColumn("rk", row_number().over(
            Window.partitionBy("day").orderBy(col("ws").desc, col("event_type"))))
          .filter(col("rk") === 1)
          .select(col("day"), col("event_type").as("label2"))
        val nv = v.groupBy("day").agg(count(lit(1)).as("n_voters"))
        r1.join(r2, "day").join(nv, "day")
          .select(col("day"), col("label1"), col("label2"), col("n_voters"))
          .orderBy("day")
      }),

    // ---- q176: inter-arrival burstiness profile — the traffic-shape
    // histogram capacity planning reads: per-user gaps between
    // consecutive events, bucketed on a log2 scale by the exact
    // floor(log2(g+1)) = length(bin(g+1))−1 identity (the q138 trick —
    // integer-exact in both engines where a float log2 never is). One
    // user-partitioned lead window + a ~40-row bucket rollup; the
    // emitted min/max per bucket double-check the bucket boundaries
    // (min_g ≥ 2^b − 1, max_g < 2^(b+1) − 1 by construction).
    Q("q176_interarrival_profile",
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
             |g AS (SELECT (lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) - tsu)
             |             // 1000000 AS gs
             |      FROM e),
             |b AS (SELECT gs, CAST(length(bin(gs + 1)) - 1 AS BIGINT) AS bucket
             |      FROM g WHERE gs IS NOT NULL)
             |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n,
             |       MIN(gs) AS min_gap_s, MAX(gs) AS max_gap_s
             |FROM b GROUP BY 1 ORDER BY bucket""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_id"), eventTsu.as("tsu"))
          .withColumn("gs", expr("(lead(tsu, 1) over (partition by user_id order by tsu, event_id) - tsu) div 1000000"))
          .filter(col("gs").isNotNull)
          .withColumn("bucket", (length(bin(col("gs") + 1L)) - 1).cast("long"))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), min(col("gs")).as("min_gap_s"),
            max(col("gs")).as("max_gap_s"))
          .orderBy("bucket")
      }),

    // ---- q178: deadline-constrained funnel — q131's activation chain
    // with the attribution windows a real funnel carries: first view →
    // first click WITHIN 1 HOUR of it → first purchase WITHIN 24 HOURS
    // of that. Still one user-keyed agg + equi-join per step (linear in
    // steps, never a window over the event stream); the deadline is a
    // residual predicate on the per-step join, so fan-in stays the
    // per-user event count. Nulls propagate per step: a user with a
    // view but no in-window click shows (v1, null, null).
    Q("q178_deadline_funnel",
      Some("""WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
             |v AS (SELECT user_id, MIN(tsu) AS v1 FROM e WHERE event_type = 'view' GROUP BY 1),
             |c AS (SELECT e.user_id, MIN(e.tsu) AS c1
             |      FROM e JOIN v ON e.user_id = v.user_id
             |      WHERE e.event_type = 'click'
             |        AND e.tsu >= v.v1 AND e.tsu <= v.v1 + 3600000000
             |      GROUP BY 1),
             |p AS (SELECT e.user_id, MIN(e.tsu) AS p1
             |      FROM e JOIN c ON e.user_id = c.user_id
             |      WHERE e.event_type = 'purchase'
             |        AND e.tsu >= c.c1 AND e.tsu <= c.c1 + 86400000000
             |      GROUP BY 1)
             |SELECT v.user_id, v.v1, c.c1, p.p1
             |FROM v LEFT JOIN c ON v.user_id = c.user_id
             |       LEFT JOIN p ON v.user_id = p.user_id
             |ORDER BY v.user_id""".stripMargin),
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"), eventTsu.as("tsu"))
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min(col("tsu")).as("v1"))
        val c = e.filter(col("event_type") === "click").join(v, "user_id")
          .filter(col("tsu") >= col("v1") && col("tsu") <= col("v1") + 3600000000L)
          .groupBy("user_id").agg(min(col("tsu")).as("c1"))
        val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
          .filter(col("tsu") >= col("c1") && col("tsu") <= col("c1") + 86400000000L)
          .groupBy("user_id").agg(min(col("tsu")).as("p1"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .select(col("user_id"), col("v1"), col("c1"), col("p1"))
          .orderBy("user_id")
      }),

    // ---- q179: token-bucket rate-limiter audit — "how much of this
    // traffic would a 100-events-per-hour limiter reject?" replayed
    // EXACTLY: per arrival the bucket refills 1 token per elapsed 36 s
    // (truncated — the deterministic arrival-clock policy, documented),
    // caps at 100, accepts (−1 token) or rejects. Like L136 this is a
    // NON-ASSOCIATIVE fold, but with 3-component state — (last-arrival
    // second, tokens, rejected-count) packed into ONE BIGINT
    // (ts_s·2^8+tokens)·2^20+rej < 2^60 — so DuckDB's scalar-state
    // list_reduce replays the identical machine. Per-user ordered
    // arrays bounded by user activity; everything else map-side.
    Q("q179_rate_limiter",
      Some {
        val st = "(a // 1048576)"
        val rej = "(a % 1048576)"
        val last = s"($st // 256)"
        val tok = s"($st % 256)"
        val tok2 = s"least($tok + (x - $last) // 36, 100)"
        s"""WITH e AS (SELECT user_id, epoch_us(ts) // 1000000 AS ts_s, event_id FROM events),
           |l AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           |             list(CAST(ts_s AS BIGINT) ORDER BY ts_s, event_id) AS ds
           |      FROM e GROUP BY 1)
           |SELECT user_id, n_events,
           |       CAST(list_reduce(list_prepend(CAST(104857600 AS BIGINT), ds),
           |         (a, x) -> CASE WHEN $tok2 >= 1
           |                   THEN (x * 256 + $tok2 - 1) * 1048576 + $rej
           |                   ELSE (x * 256 + $tok2) * 1048576 + $rej + 1 END)
           |            % 1048576 AS BIGINT) AS n_rejected
           |FROM l ORDER BY user_id""".stripMargin
      },
      (s, d) => {
        val st = "(a div 1048576)"
        val rej = "(a % 1048576)"
        val last = s"($st div 256)"
        val tok = s"($st % 256)"
        val tok2 = s"least($tok + (x - $last) div 36, 100L)"
        Tables.events(s, d)
          .select(col("user_id"), expr("unix_micros(cast(ts as timestamp)) div 1000000").as("ts_s"),
            col("event_id"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_events"),
            sort_array(collect_list(struct(col("ts_s"), col("event_id")))).as("ds0"))
          .select(col("user_id"), col("n_events"),
            expr("transform(ds0, y -> y.ts_s)").as("ds"))
          .select(col("user_id"), col("n_events"),
            expr(s"""aggregate(ds, cast(104857600 as bigint),
                   |  (a, x) -> CASE WHEN $tok2 >= 1
                   |            THEN (x * 256 + $tok2 - 1) * 1048576 + $rej
                   |            ELSE (x * 256 + $tok2) * 1048576 + $rej + 1 END)
                   |% 1048576""".stripMargin).cast("long").as("n_rejected"))
          .orderBy("user_id")
      }),

    // ---- q180: temporal cold-start coverage audit — the eval-hygiene
    // companion to q118's leakage-safe split: after splitting time at
    // the 80% day, how much TEST traffic comes from users the training
    // window never saw? (A model keyed on user history scores those
    // cold.) thr = lo + (hi−lo)·8 div 10 exactly; train users are one
    // distinct frame; cold detection is a left join null-flag; per-type
    // exact ppm. The number that decides whether per-user features are
    // even usable on this split.
    Q("q180_coldstart_audit",
      Some("""WITH e AS (SELECT user_id, event_type,
             |                 epoch_us(ts) // 86400000000 AS day FROM events),
             |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM e),
             |t AS (SELECT lo + (hi - lo) * 8 // 10 AS thr FROM b),
             |tr AS (SELECT DISTINCT e.user_id FROM e, t WHERE e.day < t.thr),
             |te AS (SELECT e.user_id, e.event_type FROM e, t WHERE e.day >= t.thr)
             |SELECT te.event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
             |       CAST(SUM(CASE WHEN tr.user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_cold,
             |       CAST(SUM(CASE WHEN tr.user_id IS NULL THEN 1 ELSE 0 END) * 1000000
             |            // COUNT(*) AS BIGINT) AS cold_ppm
             |FROM te LEFT JOIN tr ON te.user_id = tr.user_id
             |GROUP BY 1 ORDER BY event_type""".stripMargin),
      (s, d) => {
        val e = Tables.events(s, d)
          .select(col("user_id"), col("event_type"),
            expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        // 1-row split-threshold scalar onto the scan (the q141 shape)
        val thr = e.agg(expr("min(day) + (max(day) - min(day)) * 8 div 10").as("thr"))
        val withThr = e.crossJoin(broadcast(thr))
        // train users are corpus-shaped — a plain shuffle left join, no
        // broadcast hint (Catalyst may still pick one at sf sizes)
        val train = withThr.filter(col("day") < col("thr"))
          .select(col("user_id")).distinct()
          .withColumn("seen", lit(1L))
        withThr.filter(col("day") >= col("thr"))
          .join(train, Seq("user_id"), "left")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_cold"),
            expr("sum(case when seen is null then 1 else 0 end) * 1000000 div count(1)")
              .as("cold_ppm"))
          .orderBy("event_type")
      }),

    // ---- q181: order↔lineitem financial reconciliation — the audit
    // every billing pipeline runs: does the order header total equal the
    // sum of its lines after discount and tax? Computed WITHOUT float
    // products (whose rounding would diverge across engines): price,
    // discount and tax each quantize to their 2-decimal grid first, the
    // per-line net is the exact integer ep_c·(100−disc_pct)·(100+tax_pct)
    // in cents·10^4 units, and the header comparison divides back to
    // cents only at the end. One fact×fact equi-join (bucketable on the
    // order key, the q81 layout) + per-order partial-agg; top-20
    // discrepancies by |diff| via TakeOrdered.
    Q("q181_order_reconciliation",
      Some("""WITH li AS (SELECT l_orderkey,
             |              CAST(COUNT(*) AS BIGINT) AS n_lines,
             |              CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)
             |                       * (100 - CAST(round(l_discount * 100) AS BIGINT))
             |                       * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS BIGINT) AS net_c4
             |            FROM lineitem GROUP BY 1),
             |j AS (SELECT o.o_orderkey, li.n_lines,
             |             CAST(round(o.o_totalprice * 100) AS BIGINT) AS o_total_c,
             |             CAST(li.net_c4 // 10000 AS BIGINT) AS lines_total_c
             |      FROM orders o JOIN li ON li.l_orderkey = o.o_orderkey)
             |SELECT o_orderkey, n_lines, o_total_c, lines_total_c,
             |       lines_total_c - o_total_c AS diff_c
             |FROM j
             |ORDER BY abs(lines_total_c - o_total_c) DESC, o_orderkey
             |LIMIT 20""".stripMargin),
      (s, d) => {
        val li = Tables.lineitem(s, d)
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_lines"),
            sum(cents(col("l_extendedprice")) *
              (lit(100L) - cents(col("l_discount"))) *
              (lit(100L) + cents(col("l_tax")))).as("net_c4"))
        Tables.orders(s, d)
          .select(col("o_orderkey"), cents(col("o_totalprice")).as("o_total_c"))
          .join(li, col("l_orderkey") === col("o_orderkey"))
          .select(col("o_orderkey"), col("n_lines"), col("o_total_c"),
            expr("net_c4 div 10000").as("lines_total_c"))
          .withColumn("diff_c", col("lines_total_c") - col("o_total_c"))
          .orderBy(abs(col("diff_c")).desc, col("o_orderkey"))
          .limit(20)
      }),

    // ---- q182: exact Gini coefficient of customer spend — the
    // inequality statistic, by the sort identity that replaces the n²
    // pairwise-difference definition: G = Σ(2i−n−1)·x_(i) / (n·Σx) over
    // ascending ranks i. Ranks from the scale-safe two-phase dense-id
    // path; spend quantized to kilodollars FIRST so (2i−n−1)·x_kd sums
    // stay far inside Long (the L110 overflow audit — raw cents would
    // overflow the ·1e6 at ~10^5 customers); one totals scalar. The n²
    // pair join never exists at any scale.
    Q("q182_gini_spend",
      Some("""WITH sp AS (SELECT o_custkey AS ck,
             |              CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000 AS BIGINT) AS s
             |            FROM orders GROUP BY 1),
             |r AS (SELECT s, row_number() OVER (ORDER BY s, ck) AS i FROM sp),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS tot FROM sp)
             |SELECT t.n AS n_cust, t.tot AS total_kd,
             |       CAST(SUM((2 * r.i - t.n - 1) * r.s) * 1000000
             |            // (t.n * greatest(t.tot, 1)) AS BIGINT) AS gini_ppm
             |FROM r CROSS JOIN t GROUP BY t.n, t.tot""".stripMargin),
      (s, d) => {
        val sp = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("ck"))
          .agg(expr("sum(cast(round(o_totalprice * 100) as bigint)) div 100000").as("s"))
        val ranked = Windows.denseIdsScalable(sp, Seq(col("s"), col("ck")), "i")
        val totals = sp.agg(count(lit(1)).as("n"), sum(col("s")).as("tot"))
        ranked.crossJoin(broadcast(totals))
          .agg(max(col("n")).as("n_cust"), max(col("tot")).as("total_kd"),
            expr("sum((2 * i - n - 1) * s) * 1000000 div (max(n) * greatest(max(tot), 1))")
              .as("gini_ppm"))
      }),

    // ---- q183: Lorenz curve by spend decile — q182's Gini rendered as
    // the 10 points a report plots: customers in ascending-spend order,
    // cumulative share of total spend at each decile boundary (exact
    // ppm, non-decreasing, ending at exactly 1e6). Same dense-id rank +
    // totals scalar as q182; after the rank everything is a 10-row
    // frame. The two queries share machinery deliberately — curve and
    // coefficient come from one rank pass at deployment.
    Q("q183_lorenz_curve",
      Some("""WITH sp AS (SELECT o_custkey AS ck,
             |              CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000 AS BIGINT) AS s
             |            FROM orders GROUP BY 1),
             |r AS (SELECT s, row_number() OVER (ORDER BY s, ck) AS i FROM sp),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(s) AS BIGINT) AS tot FROM sp),
             |d AS (SELECT ((i - 1) * 10) // t.n + 1 AS decile, s, t.tot
             |      FROM r CROSS JOIN t),
             |g AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
             |             CAST(SUM(s) AS BIGINT) AS spend_kd, MAX(tot) AS tot
             |      FROM d GROUP BY 1)
             |SELECT CAST(decile AS BIGINT) AS decile, n_cust,
             |       CAST(SUM(spend_kd) OVER (ORDER BY decile) * 1000000
             |            // greatest(tot, 1) AS BIGINT) AS cum_spend_ppm
             |FROM g ORDER BY decile""".stripMargin),
      (s, d) => {
        val sp = Tables.orders(s, d)
          .groupBy(col("o_custkey").as("ck"))
          .agg(expr("sum(cast(round(o_totalprice * 100) as bigint)) div 100000").as("s"))
        val ranked = Windows.denseIdsScalable(sp, Seq(col("s"), col("ck")), "i")
        val totals = sp.agg(count(lit(1)).as("n"), sum(col("s")).as("tot"))
        val wd = Window.orderBy("decile")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ranked.crossJoin(broadcast(totals))
          .withColumn("decile", expr("((i - 1) * 10) div n + 1"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n_cust"), sum(col("s")).as("spend_kd"),
            max(col("tot")).as("tot"))
          .withColumn("cum_spend_ppm",
            expr("sum(spend_kd) over (order by decile rows between unbounded preceding and current row) * 1000000 div greatest(tot, 1)"))
          .select(col("decile"), col("n_cust"), col("cum_spend_ppm"))
          .orderBy("decile")
      }),

    // ---- q184: lag-1 autocorrelation of daily volume per type — the
    // serial-dependence check run before ANY time-series feature ships
    // (high r1 = yesterday predicts today; near 0 = the daily counts are
    // noise and a lag feature is worthless). The q160 integer-exact corr
    // machinery over (y_t, y_{t+1}) pairs from ONE lead window on the
    // days-sized rollup — aggregate-first, so the corpus cost is a
    // (type, day) partial-agg and the statistics run on calendar-sized
    // frames.
    Q("q184_autocorr_lag1",
      Some("""WITH daily AS (SELECT event_type AS t, epoch_us(ts) // 86400000000 AS day,
             |                      CAST(COUNT(*) AS BIGINT) AS y
             |               FROM events GROUP BY 1, 2),
             |p AS (SELECT t, y AS x,
             |        lead(y) OVER (PARTITION BY t ORDER BY day) AS y2
             |      FROM daily),
             |s AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n,
             |        CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y2) AS BIGINT) AS sy,
             |        CAST(SUM(x * y2) AS BIGINT) AS sxy,
             |        CAST(SUM(x * x) AS BIGINT) AS sxx, CAST(SUM(y2 * y2) AS BIGINT) AS syy
             |      FROM p WHERE y2 IS NOT NULL GROUP BY 1),
             |u AS (SELECT t, n, n * sxy - sx * sy AS num,
             |        n * sxx - sx * sx AS a, n * syy - sy * sy AS b FROM s),
             |ia AS (SELECT t, n, num, a, b,
             |         CAST(floor(sqrt(CAST(a AS DOUBLE))) AS BIGINT) AS sa0,
             |         CAST(floor(sqrt(CAST(b AS DOUBLE))) AS BIGINT) AS sb0 FROM u),
             |ib AS (SELECT t, n, num, a, b,
             |         sa0 + (CASE WHEN (sa0+1)*(sa0+1) <= a THEN 1 ELSE 0 END) AS sa1,
             |         sb0 + (CASE WHEN (sb0+1)*(sb0+1) <= b THEN 1 ELSE 0 END) AS sb1 FROM ia),
             |ic AS (SELECT t, n, num,
             |         sa1 - (CASE WHEN sa1*sa1 > a THEN 1 ELSE 0 END) AS sa,
             |         sb1 - (CASE WHEN sb1*sb1 > b THEN 1 ELSE 0 END) AS sb FROM ib)
             |SELECT t AS event_type, n AS n_pairs,
             |       CAST(CASE WHEN num >= 0
             |            THEN (num * 1000000) // greatest(sa * sb, 1)
             |            ELSE -((-num) * 1000000) // greatest(sa * sb, 1) END AS BIGINT) AS r1_ppm
             |FROM ic ORDER BY event_type""".stripMargin),
      (s, d) => {
        def isqrtCorrected(v: org.apache.spark.sql.Column) = {
          val s0 = floor(sqrt(v.cast("double"))).cast("long")
          val s1 = s0 + when((s0 + 1L) * (s0 + 1L) <= v, 1L).otherwise(0L)
          s1 - when(s1 * s1 > v, 1L).otherwise(0L)
        }
        val daily = Tables.events(s, d)
          .groupBy(col("event_type").as("t"),
            expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
          .agg(count(lit(1)).as("y"))
        daily
          .withColumn("y2", lead(col("y"), 1).over(
            Window.partitionBy("t").orderBy("day")))
          .filter(col("y2").isNotNull)
          .groupBy("t")
          .agg(count(lit(1)).as("n"),
            sum(col("y")).as("sx"), sum(col("y2")).as("sy"),
            sum(col("y") * col("y2")).as("sxy"),
            sum(col("y") * col("y")).as("sxx"),
            sum(col("y2") * col("y2")).as("syy"))
          .withColumn("num", col("n") * col("sxy") - col("sx") * col("sy"))
          .withColumn("a", col("n") * col("sxx") - col("sx") * col("sx"))
          .withColumn("b", col("n") * col("syy") - col("sy") * col("sy"))
          .withColumn("sa", isqrtCorrected(col("a")))
          .withColumn("sb", isqrtCorrected(col("b")))
          .withColumn("r1_ppm",
            when(col("num") >= 0,
              expr("(num * 1000000) div greatest(sa * sb, 1)"))
              .otherwise(-expr("((-num) * 1000000) div greatest(sa * sb, 1)")))
          .select(col("t").as("event_type"), col("n").as("n_pairs"), col("r1_ppm"))
          .orderBy("event_type")
      }),

    // ---- q185: weekly seasonality strength (η²) — "is the day-of-week
    // profile signal or noise?" quantified as the between-dow share of
    // total variance, exactly: with S=Σv, S_g/n_g per dow, N days,
    // η² = [Σ_g S_g²·N div n_g − S²] / [N·Σv² − S²]. Daily revenue
    // quantized to 10k$ units FIRST (the L110 audit: raw kd would push
    // NUM·1e6 past 2^63), and the final ratio divides the DENOMINATOR
    // to ppm scale instead of multiplying the numerator — same result,
    // no overflow surface. Aggregate-first: a days rollup, a 7-row dow
    // rollup, three scalars.
    Q("q185_seasonality_strength",
      Some("""WITH daily AS (SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
             |                      CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 1000000 AS BIGINT) AS v
             |               FROM orders GROUP BY 1),
             |g AS (SELECT day % 7 AS dow, CAST(SUM(v) AS BIGINT) AS sg,
             |             CAST(COUNT(*) AS BIGINT) AS ng FROM daily GROUP BY 1),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(v) AS BIGINT) AS s,
             |             CAST(SUM(v * v) AS BIGINT) AS svv FROM daily),
             |b AS (SELECT CAST(SUM(sg * sg * t.n // ng) AS BIGINT) AS ssbn, t.n, t.s, t.svv
             |      FROM g CROSS JOIN t GROUP BY t.n, t.s, t.svv)
             |SELECT n AS n_days,
             |       CAST(ssbn - s * s AS BIGINT) AS num,
             |       CAST(n * svv - s * s AS BIGINT) AS den,
             |       CAST(CASE WHEN n * svv - s * s < 1000000 THEN 0
             |            ELSE (ssbn - s * s) // ((n * svv - s * s) // 1000000) END AS BIGINT) AS eta2_ppm
             |FROM b""".stripMargin),
      (s, d) => {
        val daily = Tables.orders(s, d)
          .groupBy(datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day"))
          .agg(expr("sum(cast(round(o_totalprice * 100) as bigint)) div 1000000").as("v"))
        val g = daily.groupBy(pmod(col("day"), lit(7L)).as("dow"))
          .agg(sum(col("v")).as("sg"), count(lit(1)).as("ng"))
        val t = daily.agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
          sum(col("v") * col("v")).as("svv"))
        g.crossJoin(broadcast(t))
          .groupBy("n", "s", "svv")
          .agg(sum(expr("sg * sg * n div ng")).as("ssbn"))
          .select(col("n").as("n_days"),
            (col("ssbn") - col("s") * col("s")).as("num"),
            (col("n") * col("svv") - col("s") * col("s")).as("den"))
          .withColumn("eta2_ppm",
            // degenerate guard: when total variance den < 1e6 the scaled
            // divisor would clamp to 1 and the "ppm" becomes the raw
            // numerator — emit 0 instead (a near-constant series has no
            // meaningful seasonality share at this quantization)
            expr("case when den < 1000000 then 0L " +
              "else num div (den div 1000000) end"))
      }),

    // ---- q186: CUSUM changepoint scan — WHERE the daily event level
    // shifted, exactly and linearly: D_t = Σ_{i≤t}(y_i·n − S) (deviation
    // from the overall mean scaled by n so no fraction ever appears);
    // the |D| maxima mark the most likely changepoints. The corpus folds
    // to a days rollup; the prefix runs over the CALENDAR-sized frame
    // (aggregate-first); top-5 by (|D| DESC, day) via TakeOrdered.
    Q("q186_cusum_changepoint",
      Some("""WITH daily AS (SELECT epoch_us(ts) // 86400000000 AS day,
             |                      CAST(COUNT(*) AS BIGINT) AS y
             |               FROM events GROUP BY 1),
             |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS s FROM daily),
             |c AS (SELECT day, y,
             |        CAST(SUM(y * t.n - t.s) OVER (ORDER BY day) AS BIGINT) AS cusum
             |      FROM daily CROSS JOIN t)
             |SELECT day, y, cusum FROM c
             |ORDER BY abs(cusum) DESC, day LIMIT 5""".stripMargin),
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
          .agg(count(lit(1)).as("y"))
        val t = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
        daily.crossJoin(broadcast(t))
          .withColumn("cusum", sum(col("y") * col("n") - col("s")).over(
            Window.orderBy("day")
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .select(col("day"), col("y"), col("cusum"))
          .orderBy(abs(col("cusum")).desc, col("day"))
          .limit(5)
      }),

    // ---- q187: sampling-design diagnostics — the two numbers read
    // BEFORE trusting any weighted estimate from q167's skewed sample:
    // effective sample size ESS = (Σw)²/Σw² (how many equal-weight
    // observations the weighted sample is worth) and the design effect
    // n·Σw²/(Σw)² (the variance inflation paid for the skew). Weights =
    // inverse inclusion probability in milli-units (256000 div rate —
    // small enough that (Σw)² stays inside Long at 10⁵ rows; the L110
    // audit again); the ppm ratio divides the denominator down, never
    // multiplies the numerator up. One scan + one row.
    Q("q187_sampling_diagnostics",
      Some {
        val hex2 = "CAST(list_sum(list_transform(generate_series(1, 2), " +
          "i -> (CASE WHEN ord(substr(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) >= 97 " +
          "THEN ord(substr(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) - 87 " +
          "ELSE ord(substr(md5(CAST(o_orderkey AS VARCHAR)), i, 1)) - 48 END) " +
          "* CAST(pow(16, 2 - i) AS BIGINT))) AS BIGINT)"
        s"""WITH o AS (SELECT least(CAST(round(o_totalprice * 100) AS BIGINT) // 10000000, 4) AS seg,
           |                  $hex2 AS pp
           |           FROM orders),
           |k AS (SELECT CASE WHEN seg >= 3 THEN CAST(256000 // 77 AS BIGINT)
           |                  ELSE CAST(256000 // 26 AS BIGINT) END AS w
           |      FROM o WHERE pp < (CASE WHEN seg >= 3 THEN 77 ELSE 26 END)),
           |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(w) AS BIGINT) AS sw,
           |             CAST(SUM(w * w) AS BIGINT) AS sww FROM k)
           |SELECT n AS n_sample,
           |       CAST(sw * sw // greatest(sww, 1) AS BIGINT) AS ess,
           |       CAST(n * sww // greatest(sw * sw // 1000000, 1) AS BIGINT) AS deff_ppm
           |FROM t""".stripMargin
      },
      (s, d) =>
        Tables.orders(s, d)
          .select(cents(col("o_totalprice")).as("v"),
            conv(substring(md5(col("o_orderkey").cast("string")), 1, 2), 16, 10)
              .cast("long").as("pp"))
          .withColumn("seg", least(expr("v div 10000000"), lit(4L)))
          .filter(col("pp") < when(col("seg") >= 3L, 77L).otherwise(26L))
          .withColumn("w", when(col("seg") >= 3L, 256000L / 77L).otherwise(256000L / 26L))
          .agg(count(lit(1)).as("n"), sum(col("w")).as("sw"),
            sum(col("w") * col("w")).as("sww"))
          .select(col("n").as("n_sample"),
            expr("sw * sw div greatest(sww, 1)").as("ess"),
            expr("n * sww div greatest(sw * sw div 1000000, 1)").as("deff_ppm"))),

    // ---- q188: greedy set cover over sources — "which 3 feeds cover
    // the most vocabulary?" — the submodular selection behind corpus
    // acquisition budgets, run as the classic greedy (each round picks
    // the source with the largest MARGINAL gain of unseen units;
    // within 1−1/e of optimal by Nemhauser). Units are word BIGRAMS
    // (unigrams saturate: this corpus's shared token vocabulary lets one
    // source cover everything and the greedy degenerates to one round —
    // bigrams are word-order-specific, so coverage gaps are real).
    // Three rounds, each ONE aggregate over a persisted per-gram frame
    // whose sources-sized result the driver reads (see [[greedySetCover]]).
    // Ties by source name; cumulative coverage in exact ppm of total
    // distinct grams.
    Q("q188_greedy_set_cover",
      Some("""WITH toks AS (SELECT source, string_split(text, ' ') AS ts FROM documents),
             |st AS (SELECT DISTINCT source, tok
             |       FROM (SELECT source,
             |               unnest(list_transform(generate_series(1, len(ts) - 1),
             |                 i -> ts[i] || ' ' || ts[i + 1])) AS tok
             |             FROM toks)),
             |tot AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS n FROM st),
             |g1 AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS gain FROM st GROUP BY 1),
             |w1 AS (SELECT source, gain FROM g1 ORDER BY gain DESC, source LIMIT 1),
             |c1 AS (SELECT DISTINCT st.tok FROM st JOIN w1 ON st.source = w1.source),
             |g2 AS (SELECT st.source, CAST(COUNT(*) AS BIGINT) AS gain
             |       FROM st LEFT JOIN c1 ON st.tok = c1.tok
             |       WHERE c1.tok IS NULL AND st.source NOT IN (SELECT source FROM w1)
             |       GROUP BY 1),
             |w2 AS (SELECT source, gain FROM g2 ORDER BY gain DESC, source LIMIT 1),
             |c2 AS (SELECT tok FROM c1 UNION
             |       SELECT DISTINCT st.tok FROM st JOIN w2 ON st.source = w2.source),
             |g3 AS (SELECT st.source, CAST(COUNT(*) AS BIGINT) AS gain
             |       FROM st LEFT JOIN c2 ON st.tok = c2.tok
             |       WHERE c2.tok IS NULL
             |         AND st.source NOT IN (SELECT source FROM w1 UNION SELECT source FROM w2)
             |       GROUP BY 1),
             |w3 AS (SELECT source, gain FROM g3 ORDER BY gain DESC, source LIMIT 1),
             |r AS (SELECT 1 AS round, source, gain FROM w1
             |      UNION ALL SELECT 2, source, gain FROM w2
             |      UNION ALL SELECT 3, source, gain FROM w3)
             |SELECT CAST(r.round AS BIGINT) AS round, r.source, r.gain,
             |       CAST(SUM(r.gain) OVER (ORDER BY r.round) * 1000000 // tot.n AS BIGINT) AS cum_cover_ppm
             |FROM r CROSS JOIN tot ORDER BY round""".stripMargin),
      (s, d) => greedySetCover(s, d)),

    // ---- q191: session depth & bounce profile — the product-analytics
    // daily report over q43's sessionization: per session-start day, how
    // many sessions, what share BOUNCED (single-event sessions — the
    // engagement red flag), and the mean session depth in exact micro
    // units. The q43 lag-gap construction folds the event stream to a
    // sessions frame (one user-keyed exchange); the report is a
    // days-sized rollup of that.
    Q("q191_session_profile",
      Some("""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
             |m AS (SELECT user_id, tsu, event_id,
             |        CASE WHEN lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) IS NULL
             |               OR tsu - lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) > 1800000000
             |             THEN 1 ELSE 0 END AS brk
             |      FROM e),
             |s AS (SELECT user_id, tsu, SUM(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
             |                                          ROWS UNBOUNDED PRECEDING) AS sid
             |      FROM m),
             |sess AS (SELECT user_id, sid, CAST(COUNT(*) AS BIGINT) AS depth,
             |                MIN(tsu) // 86400000000 AS day
             |         FROM s GROUP BY 1, 2)
             |SELECT day, CAST(COUNT(*) AS BIGINT) AS n_sessions,
             |       CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
             |       CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS bounce_ppm,
             |       CAST(SUM(depth) * 1000000 // COUNT(*) AS BIGINT) AS mean_depth_micro
             |FROM sess GROUP BY 1 ORDER BY day""".stripMargin),
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
        val sess = Tables.events(s, d)
          .select(col("user_id"), col("event_id"), eventTsu.as("tsu"))
          .withColumn("brk", when(lag(col("tsu"), 1).over(w).isNull ||
            col("tsu") - lag(col("tsu"), 1).over(w) > SessionGapUs, 1L).otherwise(0L))
          .withColumn("sid", sum(col("brk")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .groupBy("user_id", "sid")
          .agg(count(lit(1)).as("depth"), expr("min(tsu) div 86400000000").as("day"))
        sess.groupBy("day")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("depth") === 1L, 1L).otherwise(0L)).as("n_bounce"),
            expr("sum(case when depth = 1 then 1 else 0 end) * 1000000 div count(1)").as("bounce_ppm"),
            expr("sum(depth) * 1000000 div count(1)").as("mean_depth_micro"))
          .orderBy("day")
      })
  )

  /** q188's greedy set cover, as source-sized driver rounds.
    *
    * The bigrams are persisted once as `(tok, srcs)`: each distinct gram
    * with the set of sources that contain it. A round is then ONE aggregate
    * over that frame — a source's gain is the number of its grams that no
    * chosen source contains — and its result is collected. That result has
    * at most one row per source, so the driver state is bounded by the
    * number of sources per round, never by the vocabulary or by the
    * 2^sources subsets a histogram of `srcs` would hold. The driver picks
    * the winner (largest gain, then the lowest source in Spark's byte order
    * — the oracle's `ORDER BY gain DESC, source`) and the exact cumulative
    * coverage `sum(gain) * 1000000 div total`. A round where no source has a
    * positive gain ends the cover, as the oracle's empty `GROUP BY` adds no
    * row. Documents without a source add their grams to the total only.
    * Returns the ≤ 3 rows as a local frame.
    */
  private def greedySetCover(s: SparkSession, d: String): DataFrame = {
    val rounds = 3
    val grams = Tables.documents(s, d)
      // documents.parquet is one scan partition: spread the bigram explode
      // and its map-side dedup over every core first
      .repartition(col("doc_id"))
      .select(col("source"), explode(NativeText.wordNgrams(col("text"), 2)).as("tok"))
      .groupBy("tok").agg(collect_set(col("source")).as("srcs"))
      .persist()
    try {
      val total = grams.count()
      // the round's winner among the sources none of `chosen` covers
      def winner(chosen: Seq[String]): Option[(String, Long)] = {
        val open = if (chosen.isEmpty) grams
          else grams.filter(!arrays_overlap(col("srcs"), typedLit(chosen)))
        open.select(explode(col("srcs")).as("source"))
          .groupBy("source").agg(count(lit(1)).as("gain"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1)))
          .minByOption { case (src, gain) => (-gain, UTF8String.fromString(src)) }
      }
      @scala.annotation.tailrec
      def cover(picks: Vector[(String, Long)]): Vector[(String, Long)] =
        if (picks.size == rounds) picks
        else winner(picks.map(_._1)) match {
          case Some(w) => cover(picks :+ w)
          case None => picks
        }
      val picks = cover(Vector.empty)
      val rows = picks.zip(picks.scanLeft(0L)(_ + _._2).tail).zipWithIndex.map {
        case (((src, gain), cum), i) => Row(i + 1L, src, gain, cum * 1000000L / total)
      }
      s.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
        StructField("round", LongType, nullable = false),
        StructField("source", StringType),
        StructField("gain", LongType, nullable = false),
        StructField("cum_cover_ppm", LongType, nullable = false))))
    } finally { grams.unpersist(); () }
  }
}
