package graft.queries

import java.nio.file.Files

import graft.Tables.t
import graft.functions.{Scored, TopKAgg}
import graft.operators.SkewJoin
import graft.ops.{Compaction, GapFill, PageRank}
import graft.votes.NameUdfs
import org.apache.spark.sql.{Column, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Coverage for SURVEY.md §2 operator ids whose home is the `graft.votes`
  * domain library (name kernel, pivot export) or a sink/source shape,
  * re-expressed over the driver's synthetic tables so the DuckDB gate can
  * hash-check them: F1 codec, A6 ordered collect, P7 conditional emission,
  * S9 join-update write-back, S5+S7 CSV pivot sink + wide-CSV source
  * (write→read→melt roundtrip), and the name kernel F3/F4/F7/F10 driven
  * through the same UDFs the ER pipeline uses.
  */
object Extras {

  /** 8-bit 2-D Morton interleave as portable SQL text (bit j of x → bit
    * 2j, of y → bit 2j+1) — the same arithmetic `ops.ZOrder.zvalue`
    * builds with Column bit ops, so the s14 oracle is engine-exact.
    */
  private val zInterleaveSql: String = (0 until 8).flatMap(j => Seq(
    s"(((x >> $j) & 1) << ${2 * j})",
    s"(((y >> $j) & 1) << ${2 * j + 1})")).mkString(" | ")

  /** g4b oracle: 8 unrolled peel rounds over the co-purchase graph —
    * deeper than any measured convergence (6 rounds at sf0.01/sf0.1,
    * KCoreSpec), and safe to over-unroll because peeling past the
    * fixpoint is a no-op. Generated, not hand-written, so the round
    * count is one constant.
    */
  private val g4bOracle: String = {
    // AS MATERIALIZED is load-bearing: each round references the previous
    // CTE three times, so inlining expands 3^8 copies of the lineitem
    // scan (DuckDB dies on open file handles before it dies on work).
    val rounds = (1 to 8).map { i =>
      s"""k$i AS MATERIALIZED (SELECT node FROM (SELECT u AS node FROM e${i - 1} UNION ALL SELECT v FROM e${i - 1})
         |       GROUP BY 1 HAVING count(*) >= 80),
         |e$i AS MATERIALIZED (SELECT e${i - 1}.u, e${i - 1}.v FROM e${i - 1}
         |       JOIN k$i a ON a.node = e${i - 1}.u JOIN k$i b ON b.node = e${i - 1}.v)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e0 AS MATERIALIZED (SELECT DISTINCT a.p AS u, b.p AS v
       |       FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
       |$rounds
       |SELECT node, CAST(count(*) AS BIGINT) AS degree
       |FROM (SELECT u AS node FROM e8 UNION ALL SELECT v FROM e8)
       |GROUP BY 1""".stripMargin
  }

  /** g6 oracle: 8 unrolled min-combine BFS rounds. The measured
    * eccentricity from the 10 lowest-id sources GROWS slowly with scale
    * — 1/2/3 at sf0.001/0.01/0.1 (node count outruns densification) —
    * so the unroll depth must dominate the upward trend, not assume
    * density keeps it flat: 8 leaves ≥ 4 rounds of headroom over a
    * linear extrapolation to sf1. Over-unrolling is a no-op once the
    * min labels stabilize. MATERIALIZED for the same 3^rounds-inlining
    * reason as g4b.
    */
  private val g6Oracle: String = {
    val rounds = (1 to 8).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, min(d) AS d FROM (
         |        SELECT node, d FROM d${i - 1}
         |        UNION ALL
         |        SELECT sym.t AS node, d${i - 1}.d + 1 AS d
         |        FROM d${i - 1} JOIN sym ON sym.s = d${i - 1}.node)
         |       GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |e AS (SELECT DISTINCT a.p AS u, b.p AS v
       |      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
       |sym AS MATERIALIZED (SELECT u AS s, v AS t FROM e UNION ALL SELECT v, u FROM e),
       |src AS (SELECT DISTINCT s AS node FROM sym ORDER BY node LIMIT 10),
       |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS d FROM src),
       |$rounds
       |SELECT node, CAST(d AS BIGINT) AS dist FROM d8""".stripMargin
  }

  /** g7 oracle: 3 unrolled Bellman-Ford relaxation rounds over the
    * WEIGHTED co-purchase graph (edge cost = 11 − min(shared orders,
    * 10): heavier co-purchase ⇒ cheaper hop — a similarity distance).
    * Fixed-round like g1/g4, NOT convergent: weighted distances can
    * keep improving long after first touch, so the bounded-round
    * relaxation IS the published contract, replayed exactly.
    * MATERIALIZED as in g4b/g6.
    */
  private val g7Oracle: String = {
    val rounds = (1 to 3).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, min(d) AS d FROM (
         |        SELECT node, d FROM d${i - 1}
         |        UNION ALL
         |        SELECT sym.t AS node, d${i - 1}.d + sym.w AS d
         |        FROM d${i - 1} JOIN sym ON sym.s = d${i - 1}.node)
         |       GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |ew AS (SELECT u, v, 11 - least(cnt, 10) AS w FROM (
       |        SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS cnt
       |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)),
       |sym AS MATERIALIZED (SELECT u AS s, v AS t, w FROM ew
       |                     UNION ALL SELECT v, u, w FROM ew),
       |src AS (SELECT DISTINCT s AS node FROM sym ORDER BY node LIMIT 10),
       |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS d FROM src),
       |$rounds
       |SELECT node, CAST(d AS BIGINT) AS dist FROM d3""".stripMargin
  }

  /** g7b oracle: 12 unrolled FULL-relaxation rounds (the same round body
    * as g7's, deeper). After round r, min-plus relaxation labels equal
    * the minimum over all ≤ r-edge paths — for BOTH the oracle's full
    * re-relaxation and the operator's changed-label worklist (the
    * worklist relaxes every label the round after it improves, which is
    * exactly the set that can mint new ≤ r-edge minima). So the unroll
    * meets the convergent fixpoint whenever no shortest path uses more
    * than 12 edges — measured convergence is 1/2/3 improving rounds at
    * sf0.001/0.01/0.1 (SsspSpec + entry guard; the slow upward trend
    * mirrors g6's eccentricity, so 12 dominates a linear extrapolation
    * well past sf1); over-unrolling is a no-op at the fixpoint.
    * MATERIALIZED for the 3^rounds-inlining reason documented at g4b.
    */
  private val g7bUnroll = 12
  private val g7bOracle: String = {
    val rounds = (1 to g7bUnroll).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, min(d) AS d FROM (
         |        SELECT node, d FROM d${i - 1}
         |        UNION ALL
         |        SELECT sym.t AS node, d${i - 1}.d + sym.w AS d
         |        FROM d${i - 1} JOIN sym ON sym.s = d${i - 1}.node)
         |       GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
       |ew AS (SELECT u, v, 11 - least(cnt, 10) AS w FROM (
       |        SELECT a.p AS u, b.p AS v, CAST(count(*) AS BIGINT) AS cnt
       |        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2)),
       |sym AS MATERIALIZED (SELECT u AS s, v AS t, w FROM ew
       |                     UNION ALL SELECT v, u, w FROM ew),
       |src AS (SELECT DISTINCT s AS node FROM sym ORDER BY node LIMIT 10),
       |d0 AS MATERIALIZED (SELECT node, CAST(0 AS BIGINT) AS d FROM src),
       |$rounds
       |SELECT node, CAST(d AS BIGINT) AS dist FROM d$g7bUnroll""".stripMargin
  }

  /** Stable scratch path under java.io.tmpdir, namespaced by pid so
    * concurrent JVMs (verify vs bench) never collide; reused across
    * invocations within a process (writers use overwrite mode).
    */
  private[queries] def scratchDir(name: String): String = {
    val p = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), s"${name}_${ProcessHandle.current().pid()}")
    Files.createDirectories(p)
    p.toString
  }

  /** One SQL text, two engines: the `spark.sql` frontend entry runs this
    * string verbatim on Spark over temp views AND as its own DuckDB
    * oracle — portability of the dialect subset (ANSI joins, CTE, window,
    * HAVING-free cents-exact aggregation) is itself the assertion. The
    * only dialect guards: explicit BIGINT casts where DuckDB widens
    * (HUGEINT sums, BIGINT rank).
    */
  /** sql3: identical text runs on BOTH engines — GROUP BY ALL with
    * ORDER-independent output (check.py sorts rows).
    */
  private[queries] val sql3Text: String =
    """SELECT l_returnflag, l_linestatus,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      |FROM lineitem GROUP BY ALL""".stripMargin

  private val sql1Text: String =
    """WITH rev AS (
      |  SELECT n_name, year(o_orderdate) AS o_year,
      |         cast(sum(cast(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents,
      |         count(*) AS n_items
      |  FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |  GROUP BY n_name, year(o_orderdate)
      |)
      |SELECT n_name, o_year, rev_cents, n_items,
      |       cast(rank() OVER (PARTITION BY o_year ORDER BY rev_cents DESC, n_name) AS BIGINT) AS rk
      |FROM rev""".stripMargin

  /** sql2's DuckDB-dialect text — runnable by DuckDB as written, runnable
    * by Spark only through [[graft.sql.DuckDialect.translate]]; exercises
    * the translator's big families in one query (split, 1-based indexing,
    * lambda filter, ordered-aggregate fusion, floor division, the
    * FROM-comma generator). The `tk` CTE head-token sample is 1-based on
    * BOTH sides via the translation's element_at rebase.
    */
  private val sql2Text: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |f AS (SELECT doc_id, ws, list_filter(ws, x -> strlen(x) >= 4) AS lw FROM w),
      |tk AS (SELECT doc_id, ws[i] AS tok
      |       FROM w, unnest(generate_series(1, least(len(ws), 5))) AS u(i))
      |SELECT f.doc_id,
      |       CAST(len(f.ws) AS BIGINT) AS n_words,
      |       CAST(len(f.lw) AS BIGINT) AS n_long,
      |       CAST(len(f.ws) * 100 // greatest(len(f.lw), 1) AS BIGINT) AS ratio_pct,
      |       array_to_string(list(tk.tok ORDER BY tk.tok), ',') AS head_sorted
      |FROM f JOIN tk ON tk.doc_id = f.doc_id
      |GROUP BY 1, 2, 3, 4""".stripMargin

  /** Same SQL text on both engines (the sql1 pattern): NOT IN under
    * three-valued logic. Probe-side NULLs (every 97th order) must vanish.
    */
  private val u7Text: String =
    """SELECT o_orderkey, o_custkey
      |FROM orders
      |WHERE (CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END)
      |      NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)""".stripMargin

  /** Recursive CTE, same text both engines: a hierarchy walk over
    * synthetic parent links (id → 2·id — the doc table has no real
    * hierarchy; the recursion operator is what's under test). UNION ALL,
    * not UNION: Spark 4 supports only UNION ALL in recursive CTEs, and
    * the id-doubling graph is acyclic so recursion terminates without
    * dedup. Spark executes this as an iterative loop of joins (the same
    * machinery as graft.llm.Components, declared in SQL).
    */
  private val u8Text: String =
    """WITH RECURSIVE chain(root, id, depth) AS (
      |  SELECT doc_id, doc_id, 0 FROM documents WHERE doc_id % 97 = 1
      |  UNION ALL
      |  SELECT c.root, d.doc_id, c.depth + 1
      |  FROM chain c JOIN documents d ON d.doc_id = c.id * 2
      |)
      |SELECT root, max(depth) AS max_depth, count(*) AS n_nodes,
      |       cast(sum(id) AS BIGINT) AS sum_ids
      |FROM chain GROUP BY root""".stripMargin

  /** Correlated scalar subquery, same text both engines. Catalyst
    * decorrelates it into an aggregate + left outer join (one pass over
    * lineitem), not 15k point lookups; orders with no lineitems surface
    * the subquery's NULL.
    */
  private val u9Text: String =
    """SELECT o_orderkey,
      |  (SELECT max(l_linenumber) FROM lineitem
      |   WHERE l_orderkey = o_orderkey) AS max_line
      |FROM orders""".stripMargin

  /** Correlated LATERAL subquery with ORDER BY + LIMIT (top-2 lineitems
    * per order), same text both engines. Catalyst decorrelates the limit
    * into a partitioned window — the declarative form of w7's grouped
    * top-k, bound per outer row.
    */
  private val j13Text: String =
    """SELECT o_orderkey, l.l_linenumber, l.cents
      |FROM orders,
      |LATERAL (SELECT l_linenumber,
      |                cast(round(l_extendedprice * 100) AS BIGINT) AS cents
      |         FROM lineitem WHERE l_orderkey = o_orderkey
      |         ORDER BY cents DESC, l_linenumber LIMIT 2) l""".stripMargin

  /** sf dirs whose j11 bucketed tables this process already wrote. */
  private val bucketedBuilt =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  /** Hot-key join at its worst (every order lands on one of 10 keys) —
    * shared verbatim by j12 (manual deterministic salting) and j21
    * (Spark's native AQE skew split): both must equal the plain join.
    */
  private val skewJoinOracleSql: String =
    """WITH f AS (SELECT o_orderkey, o_custkey % 10 AS hot_key,
      |            cast(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
      |d AS (SELECT n_nationkey % 10 AS hot_key, min(n_name) AS grp
      |      FROM nation GROUP BY 1)
      |SELECT grp, count(*) AS n, cast(sum(cents) AS BIGINT) AS sum_cents
      |FROM f JOIN d USING (hot_key) GROUP BY grp""".stripMargin

  /** Hourly OHLC bars, exact cents, (us, event_id) total order — shared
    * verbatim by w16 (batch groupBy) and t37 (watermarked streaming
    * window): the bar aggregates are plain min/max over packed structs,
    * identical in both engines and both execution modes.
    */
  private[queries] val ohlcOracleSql: String =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS us, event_id,
      |            CAST(round(value * 100) AS BIGINT) AS cents FROM events),
      |w AS (SELECT *, (us // 3600000000) AS h,
      |        row_number() OVER (PARTITION BY event_type, us // 3600000000
      |                           ORDER BY us, event_id) AS rn_a,
      |        row_number() OVER (PARTITION BY event_type, us // 3600000000
      |                           ORDER BY us DESC, event_id DESC) AS rn_d
      |      FROM e)
      |SELECT event_type, CAST(h AS BIGINT) AS h,
      |  CAST(max(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open,
      |  CAST(max(cents) AS BIGINT) AS high,
      |  CAST(min(cents) AS BIGINT) AS low,
      |  CAST(max(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close,
      |  CAST(count(*) AS BIGINT) AS n_ticks
      |FROM w GROUP BY 1, 2""".stripMargin

  val entries: Map[String, Q] = Map(

    // ---- SQL1: the spark.sql entry point — temp views + the same SQL
    //      text the oracle runs. Catalyst plans it identically to the
    //      DataFrame form (broadcast dims, partial aggs), which is the
    //      point: SQL is a frontend, not a different engine. -------------
    "sql1_frontend" -> Q(sql1Text) { (s, dir) =>
      Seq("lineitem", "orders", "customer", "nation")
        .foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(sql1Text)
    },

    // ---- SQL2: the DuckDB-dialect entry point — the oracle text is
    //      deliberately written in the FOREIGN dialect (string_split,
    //      1-based ws[i] indexing, list(… ORDER BY) ordered aggregation,
    //      strlen/len, `//` floor division, FROM-comma unnest) and the
    //      entry runs graft.sql.DuckDialect.translate() over it before
    //      spark.sql. The driver's DuckDB gate runs the SAME untranslated
    //      text, so the TRANSLATOR itself is hash-checked here — the
    //      porting path a raw-SQL user actually takes (DialectParitySpec
    //      additionally pushes all 165 oracles through it). ------------
    "sql2_duckdb_dialect" -> Q(sql2Text) { (s, dir) =>
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(graft.sql.DuckDialect.translate(sql2Text))
    },

    // ---- SQL3: GROUP BY ALL / ORDER BY ALL — the shared modern-SQL
    //      shorthand (DuckDB popularized it, Spark 4 adopted it): every
    //      non-aggregate select item becomes a grouping key, so the
    //      query text needs no positional/name echo and survives column
    //      additions. The SAME text runs verbatim on both engines —
    //      frontend breadth with zero translation. ---------------------
    "sql3_group_by_all" -> Q(sql3Text) { (s, dir) =>
      t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sql3Text)
    },

    // ---- F1: chamber letter ↔ int codec (pa_legislature.py:7-23) -------
    "f1_chamber_codec" -> Q(
      """SELECT p_partkey,
        |       CASE WHEN substr(p_name, 1, 1) = 'h' THEN 1
        |            WHEN substr(p_name, 1, 1) = 's' THEN 2 END AS chamber,
        |       CASE WHEN substr(p_name, 1, 1) = 'h' THEN 'House'
        |            WHEN substr(p_name, 1, 1) = 's' THEN 'Senate' END AS chamber_name
        |FROM part
        |WHERE substr(p_name, 1, 1) IN ('h', 's')""".stripMargin) { (s, dir) =>
      val first = substring(col("p_name"), 1, 1)
      t(s, dir, "part")
        .filter(first.isin("h", "s"))
        .select(col("p_partkey"),
          when(first === "h", 1).when(first === "s", 2).as("chamber"),
          when(first === "h", "House").when(first === "s", "Senate").as("chamber_name"))
    },

    // ---- A6: collect-to-ordered-list per group (dump.py:33-35) ---------
    "a6_collect_ordered" -> Q(
      """SELECT user_id,
        |       array_to_string(list(event_type ORDER BY ts, event_id), ',') AS seq
        |FROM events GROUP BY user_id""".stripMargin) { (s, dir) =>
      // array_sort on (ts, event_id, event_type) structs = ORDER BY ts,
      // event_id (event_id is unique), computed map-side per group.
      t(s, dir, "events")
        .groupBy("user_id")
        .agg(array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          ",").as("seq"))
    },

    // ---- P7: conditional row emission gated on a group predicate -------
    //      (District/Party header rows only when any value present,
    //       dump.py:85-88)
    "p7_conditional_emit" -> Q(
      """SELECT lang, count(*) AS n_docs, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang HAVING bool_or(source = 'web')""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), max(col("n_chars")).as("max_chars"),
          expr("bool_or(source = 'web')").as("_any_web"))
        .filter(col("_any_web"))
        .drop("_any_web")
    },

    // ---- S9: batched join-update write-back (match_names.py:187-188:
    //      UPDATE votes SET member_id=? — here: re-point a fact column
    //      from a joined dimension) --------------------------------------
    "s9_join_update" -> Q(
      """SELECT o.o_orderkey,
        |       CASE WHEN c.c_mktsegment = 'BUILDING' THEN 'B'
        |            ELSE o.o_orderstatus END AS o_orderstatus
        |FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
      o.join(c, o("o_custkey") === c("c_custkey"), "left")
        .select(o("o_orderkey"),
          when(col("c_mktsegment") === "BUILDING", "B")
            .otherwise(o("o_orderstatus")).as("o_orderstatus"))
    },

    // ---- S5+S7: wide pivot CSV sink, then wide-CSV source + melt -------
    //      (dump.py:80-101 writes the matrix; README.md:9-28 consumers
    //       read it back. Roundtrip must preserve the long-form facts.)
    "s5_s7_csv_roundtrip" -> Q(
      """SELECT user_id, event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = t(s, dir, "events")
        .groupBy("user_id")
        .pivot("event_type", types)
        .agg(count(lit(1)))
        .na.fill(0)
      // fixed per-process dir + overwrite mode: verify/bench invoke each
      // query repeatedly, and a fresh createTempDirectory per call would
      // accumulate full table copies in /tmp across cycles
      val tmp = scratchDir("graft_s5s7")
      wide.write.mode("overwrite").option("header", "true").csv(tmp)
      val back = s.read.option("header", "true").option("inferSchema", "true").csv(tmp)
      back.select(col("user_id"),
          explode(map(types.flatMap(tp => Seq(lit(tp), col(tp))): _*))
            .as(Seq("event_type", "n")))
        .filter(col("n") > 0)
    },

    // ---- S11: JSONL sink + source roundtrip — the interchange format
    //      LLM corpora actually ship in; schema-on-read, one doc per line.
    //      Oracle = the source-of-truth table (roundtrip must be exact). --
    "s11_jsonl_roundtrip" -> Q(
      """SELECT doc_id, text, lang, source FROM documents""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("graft_s11")
      t(s, dir, "documents").select("doc_id", "text", "lang", "source")
        .write.mode("overwrite").json(tmp)
      s.read.schema("doc_id BIGINT, text STRING, lang STRING, source STRING")
        .json(tmp)
    },

    // ---- S10 (scale layout): partitioned parquet sink + pruned read ----
    //      The 100 TB fact layout: write partitioned by the pruning key,
    //      read back with a partition filter → only matching directories
    //      are scanned (PartitionFilters in the plan).
    "s10_partitioned_roundtrip" -> Q(
      """SELECT event_type, user_id, count(*) AS n
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("graft_s10")
      graft.sources.PartitionedStore.writePartitioned(
        t(s, dir, "events").select("event_id", "user_id", "event_type"),
        tmp, Seq("event_type"))
      graft.sources.PartitionedStore.read(s, tmp)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy("event_type", "user_id")
        .agg(count(lit(1)).as("n"))
    },

    // ---- S19 (scale layout): DYNAMIC partition pruning — the runtime
    //      complement of s10's static pruning: the fact is partitioned on
    //      the join key, the dim filter is on a NON-key attribute (so no
    //      static partition predicate exists at plan time), and Catalyst
    //      injects a dynamicpruningexpression into the fact scan that
    //      reuses the broadcast dim's key set — at 100 TB the difference
    //      between scanning 2/7 of the fact and all of it, decided at
    //      runtime. require()d on the plan: verify fails loudly if DPP
    //      ever stops firing. --------------------------------------------
    "s19_dynamic_pruning" -> Q(
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("graft_s19")
      t(s, dir, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(tmp)
      val dim = t(s, dir, "orders").select("o_orderpriority").distinct()
        .withColumn("tier",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "fast")
            .otherwise("slow"))
      val joined = s.read.parquet(tmp)
        .join(broadcast(dim.filter(col("tier") === "fast")), Seq("o_orderpriority"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      val planStr = joined.queryExecution.executedPlan.toString
      require(planStr.toLowerCase.contains("dynamicpruning"),
        "runtime partition pruning must reach the fact scan (DPP regression)")
      joined
    },

    // ---- S14 (scale layout): Z-order multi-dimensional clustering ------
    //      The data-skipping layout for scans filtering on MORE than one
    //      column (ops.ZOrder): interleave (custkey, order-day) bits →
    //      contiguous z-ranges are close in BOTH dimensions, so per-file
    //      min/max stats prune each dimension independently (a 1-D sort
    //      prunes only its own key). The checked output is the per-z-block
    //      stats themselves — count + min/max of both dims per 1024-wide
    //      z bucket — pure integer bit arithmetic, identical in both
    //      engines; the pruning-ratio claim (y-only filter touches ≤ 16/64
    //      z partitions vs 64/64 for an x-sort) is asserted in ZOrderSpec.
    "s14_zorder_stats" -> Q(
      s"""WITH b AS (SELECT o_custkey % 256 AS x,
         |            datediff('day', DATE '1992-01-01', o_orderdate) % 256 AS y
         |           FROM orders),
         |z AS (SELECT x, y, $zInterleaveSql AS z FROM b)
         |SELECT z >> 10 AS bucket, count(*) AS n,
         |       min(x) AS min_x, max(x) AS max_x,
         |       min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1""".stripMargin) { (s, dir) =>
      val b = t(s, dir, "orders").select(
        (col("o_custkey") % 256).cast("long").as("x"),
        (datediff(col("o_orderdate"), lit("1992-01-01")) % 256).cast("long").as("y"))
      b.withColumn("z", graft.ops.ZOrder.zvalue(Seq(col("x"), col("y")), 8))
        .groupBy(shiftright(col("z"), 10).as("bucket"))
        .agg(count(lit(1)).as("n"),
          min("x").as("min_x"), max("x").as("max_x"),
          min("y").as("min_y"), max("y").as("max_y"))
    },

    // ---- J9: as-of join (latest order at or before each event, per
    //      customer) — tagged-union + window, one shuffle, no range probe
    "j9_asof_join" -> Q(
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |            o_orderdate::timestamp + (o_orderkey % 86400) * INTERVAL 1 SECOND AS ts2
        |           FROM orders)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS last_orderkey
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.ts2""".stripMargin,
      // ansi twin: Spark has no ASOF JOIN — a correlated LATERAL picking
      // the greatest at-or-before row expresses the same contract ((key,
      // ts2) is unique on this projection, so the orderkey tie-break is
      // inert; it just keeps the twin deterministic)
      ansi = """WITH o AS (SELECT o_custkey, o_orderkey,
        |            timestampadd(SECOND, o_orderkey % 86400,
        |                         CAST(o_orderdate AS TIMESTAMP)) AS ts2
        |           FROM orders)
        |SELECT e.event_id, e.user_id, l.o_orderkey AS last_orderkey
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o.o_orderkey FROM o
        |  WHERE o.o_custkey = e.user_id AND o.ts2 <= e.ts
        |  ORDER BY o.ts2 DESC, o.o_orderkey DESC LIMIT 1) l""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
      val ord = t(s, dir, "orders").select(
        col("o_custkey").as("user_id"),
        col("o_orderkey").as("last_orderkey"),
        expr("cast(o_orderdate as timestamp) + make_dt_interval(0, 0, 0, o_orderkey % 86400)")
          .as("ts2"))
      graft.operators.AsofJoin(ev, ord, "user_id", "ts", "ts2",
          Seq("last_orderkey"))
        .select("event_id", "user_id", "last_orderkey")
    },

    // ---- J20: as-of join WITH TOLERANCE (pandas/polars
    //      merge_asof(tolerance=…)) — j9's latest-at-or-before match,
    //      nulled when staler than 3 days: "last known value" stops
    //      being trustworthy past the staleness budget. Same one-shuffle
    //      window; the right time rides the payload and one post-pass
    //      nulls out-of-budget matches atomically. DuckDB ASOF has no
    //      tolerance either — its oracle applies the same pick-then-
    //      filter identity (the latest at-or-before row either IS the
    //      within-budget match or no row is). -------------------------
    "j20_asof_tolerance" -> Q(
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |            o_orderdate::timestamp + (o_orderkey % 86400) * INTERVAL 1 SECOND AS ts2
        |           FROM orders)
        |SELECT e.event_id, e.user_id,
        |       CASE WHEN o.ts2 >= e.ts - INTERVAL 3 DAY THEN o.o_orderkey
        |            END AS recent_orderkey
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts >= o.ts2""".stripMargin,
      ansi = """WITH o AS (SELECT o_custkey, o_orderkey,
        |            timestampadd(SECOND, o_orderkey % 86400,
        |                         CAST(o_orderdate AS TIMESTAMP)) AS ts2
        |           FROM orders)
        |SELECT e.event_id, e.user_id, l.o_orderkey AS recent_orderkey
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o.o_orderkey FROM o
        |  WHERE o.o_custkey = e.user_id AND o.ts2 <= e.ts
        |    AND o.ts2 >= e.ts - INTERVAL 3 DAY
        |  ORDER BY o.ts2 DESC, o.o_orderkey DESC LIMIT 1) l""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
      val ord = t(s, dir, "orders").select(
        col("o_custkey").as("user_id"),
        col("o_orderkey").as("recent_orderkey"),
        expr("cast(o_orderdate as timestamp) + make_dt_interval(0, 0, 0, o_orderkey % 86400)")
          .as("ts2"))
      graft.operators.AsofJoin.backwardWithin(ev, ord, "user_id", "ts", "ts2",
          Seq("recent_orderkey"), toleranceSeconds = 3L * 86400L)
        .select("event_id", "user_id", "recent_orderkey")
    },

    // ---- J19: FORWARD as-of join (next order at or after each event,
    //      per customer) — the mirror contract of j9 through the same
    //      one-shuffle tagged-union window, frame looking FORWARD;
    //      DuckDB's ASOF handles the <= direction natively, the ansi
    //      twin flips the LATERAL's ordering ------------------------
    "j19_asof_forward" -> Q(
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |            o_orderdate::timestamp + (o_orderkey % 86400) * INTERVAL 1 SECOND AS ts2
        |           FROM orders)
        |SELECT e.event_id, e.user_id, o.o_orderkey AS next_orderkey
        |FROM events e ASOF LEFT JOIN o
        |  ON e.user_id = o.o_custkey AND e.ts <= o.ts2""".stripMargin,
      ansi = """WITH o AS (SELECT o_custkey, o_orderkey,
        |            timestampadd(SECOND, o_orderkey % 86400,
        |                         CAST(o_orderdate AS TIMESTAMP)) AS ts2
        |           FROM orders)
        |SELECT e.event_id, e.user_id, l.o_orderkey AS next_orderkey
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o.o_orderkey FROM o
        |  WHERE o.o_custkey = e.user_id AND o.ts2 >= e.ts
        |  ORDER BY o.ts2 ASC, o.o_orderkey ASC LIMIT 1) l""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events").select("event_id", "user_id", "ts")
      val ord = t(s, dir, "orders").select(
        col("o_custkey").as("user_id"),
        col("o_orderkey").as("next_orderkey"),
        expr("cast(o_orderdate as timestamp) + make_dt_interval(0, 0, 0, o_orderkey % 86400)")
          .as("ts2"))
      graft.operators.AsofJoin.forward(ev, ord, "user_id", "ts", "ts2",
          Seq("next_orderkey"))
        .select("event_id", "user_id", "next_orderkey")
    },

    // ---- J10: range join (events inside 2-hour windows opened by each
    //      signup) — binned equi-join, not a nested loop -----------------
    "j10_range_join" -> Q(
      """WITH w AS (SELECT event_id AS win_id, ts AS w_start,
        |            ts + INTERVAL 2 HOUR AS w_end
        |           FROM events WHERE event_type = 'signup')
        |SELECT w.win_id, count(*) AS n_events
        |FROM w JOIN events e ON e.ts >= w.w_start AND e.ts <= w.w_end
        |GROUP BY w.win_id""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("win_id"), col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("w_end"))
      graft.operators.RangeJoin(ev.select(col("ts")), "ts",
          windows, "w_start", "w_end", binSeconds = 7200)
        .groupBy("win_id")
        .agg(count(lit(1)).as("n_events"))
    },

    // ---- J14: interval-overlap join (signup windows × purchase windows)
    //      — the interval×interval sibling of j10: both sides bin, pairs
    //      emit exactly once in the first common bin (positional dedup,
    //      no distinct), exact overlap predicate behind the equi-join. --
    "j14_interval_overlap_join" -> Q(
      """WITH a AS (SELECT event_id AS a_id, ts AS a_start,
        |            ts + INTERVAL 2 HOUR AS a_end
        |           FROM events WHERE event_type = 'signup'),
        |b AS (SELECT event_id AS b_id, ts AS b_start,
        |       ts + INTERVAL 1 HOUR AS b_end
        |      FROM events WHERE event_type = 'purchase')
        |SELECT a_id, b_id FROM a JOIN b
        |ON a_start <= b_end AND b_start <= a_end""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val a = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("a_id"), col("ts").as("a_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("a_end"))
      val b = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("b_id"), col("ts").as("b_start"),
          (col("ts") + expr("INTERVAL 1 HOURS")).as("b_end"))
      graft.operators.IntervalJoin(a, "a_start", "a_end",
          b, "b_start", "b_end", binSeconds = 7200)
        .select("a_id", "b_id")
    },

    // ---- J15: point-in-time join against the SCD2 dimension — s15's
    //      history composed with ops.TemporalJoin: each lineitem looks up
    //      its customer's order-status run valid at l_shipdate. Equi-join
    //      on the key, temporal predicate in the join condition (no
    //      binning — the key carries the selectivity). ------------------
    "j15_temporal_dim_join" -> Q(
      """WITH o AS (SELECT o_custkey, o_orderdate, o_orderkey, o_orderstatus,
        |            lag(o_orderstatus) OVER w AS prev,
        |            row_number() OVER w AS rn
        |           FROM orders
        |           WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
        |r AS (SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey FROM o
        |      WHERE rn = 1 OR prev IS DISTINCT FROM o_orderstatus),
        |v AS (SELECT o_custkey, o_orderstatus, o_orderdate AS valid_from,
        |       lead(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS valid_to
        |      FROM r),
        |p AS (SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o2.o_custkey
        |      FROM lineitem l JOIN orders o2 ON l.l_orderkey = o2.o_orderkey)
        |SELECT p.l_orderkey, p.l_linenumber, v.o_orderstatus AS status_at_ship
        |FROM p JOIN v ON p.o_custkey = v.o_custkey
        | AND p.l_shipdate >= v.valid_from
        | AND (v.valid_to IS NULL OR p.l_shipdate < v.valid_to)""".stripMargin) { (s, dir) =>
      val dim = graft.ops.Scd2.history(t(s, dir, "orders"),
        "o_custkey", "o_orderdate", "o_orderkey", "o_orderstatus")
      val facts = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_shipdate"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
      graft.ops.TemporalJoin.pointInTime(
          facts, "o_custkey", "l_shipdate", dim, "o_custkey")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("o_orderstatus").as("status_at_ship"))
    },

    // ---- J16: edit-distance (Levenshtein ≤ 1) similarity self-join —
    //      symmetric-delete (SymSpell) candidate generation: recall 1.0
    //      by construction, no cartesian, banded-levenshtein verify
    //      (ops.EditDistanceJoin scaladoc has the completeness proof).
    //      The oracle IS the quadratic definition — fine at sf, which is
    //      exactly why the blocked path exists for scale. ---------------
    "j16_editdist_join" -> Q(
      """WITH c AS (SELECT c_custkey, c_name FROM customer)
        |SELECT a.c_custkey AS id1, b.c_custkey AS id2
        |FROM c a JOIN c b ON a.c_custkey < b.c_custkey
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 1
        |  AND levenshtein(a.c_name, b.c_name) <= 1""".stripMargin) { (s, dir) =>
      // fanned out: the single-file customer scan plans as ONE task, and
      // the variant explode would otherwise run serially in it
      graft.ops.EditDistanceJoin.ed1Pairs(
          PipelineOps.fanOut(s, t(s, dir, "customer")), "c_custkey", "c_name")
        .select("id1", "id2")
    },

    // ---- J16b: Levenshtein ≤ 2 — the k symmetric deletes can't reach,
    //      via the PassJoin partition filter (3 segments, pigeonhole: 2
    //      edits leave one untouched; probe enumerates its ±2-shifted
    //      copies). Recall 1.0 by construction + banded verify; hot
    //      boilerplate segment keys ("Customer#…" prefixes are shared by
    //      the WHOLE corpus) expand through the bipartite chunk guard,
    //      never one task. Subset-keyed so the quadratic DuckDB oracle
    //      stays tractable at every sf. ---------------------------------
    "j16b_editdist2_join" -> Q(
      """WITH c AS (SELECT c_custkey, c_name FROM customer WHERE c_custkey < 2000)
        |SELECT a.c_custkey AS id1, b.c_custkey AS id2
        |FROM c a JOIN c b ON a.c_custkey < b.c_custkey
        |WHERE abs(length(a.c_name) - length(b.c_name)) <= 2
        |  AND levenshtein(a.c_name, b.c_name) <= 2""".stripMargin) { (s, dir) =>
      graft.ops.EditDistanceJoin.ed2Pairs(
          PipelineOps.fanOut(s, t(s, dir, "customer")).filter(col("c_custkey") < 2000),
          "c_custkey", "c_name")
        .select("id1", "id2")
    },

    // ---- U4: intersect (engine completeness; the reference has none) ---
    "u4_intersect" -> Q(
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      o.filter(col("o_orderstatus") === "F").select("o_custkey")
        .intersect(o.filter(col("o_orderstatus") === "O").select("o_custkey"))
    },

    // ---- J11: co-bucketed shuffle-free join — both sides persisted as
    //      same-bucketed managed tables, so the sort-merge join reads
    //      co-located buckets with ZERO exchanges (require()d on the
    //      plan: verify fails loudly on regression). The layout answer
    //      to "this fact-fact join shuffles 100 TB nightly". ------------
    "j11_bucketed_join" -> Q(
      """SELECT o_orderstatus, count(*) AS n,
        |       cast(sum(cast(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin) { (s, dir) =>
      import graft.sources.PartitionedStore
      // Build the bucketed layout once per (process, sf dir): the subject
      // of this entry is the zero-exchange JOIN over an existing bucketed
      // layout (s10/s12 measure sinks); source data per dir is immutable
      // within a run, so the repeat invocation reuses the tables. Table
      // names embed the sanitized dir path plus a SHA-256 prefix of the
      // RAW path — sanitizing alone is not injective (".../sf0.1" and
      // ".../sf0_1" collide), and a collision would overwrite the first
      // dir's tables while its memo entry still says "built" — and
      // the memo is recorded only AFTER a successful build — a failed
      // write retries next invocation instead of poisoning the process.
      // (Queries run sequentially in this harness; a concurrent runner
      // would need the memo to hold a completed future instead.)
      val digest = java.security.MessageDigest.getInstance("SHA-256")
        .digest(dir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString
      val sfx = dir.replaceAll("[^A-Za-z0-9]", "_") + "_" + digest
      val (ot, lt) = (s"j11_orders_$sfx", s"j11_lineitem_$sfx")
      if (!bucketedBuilt.contains(dir)) {
        val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus")
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
        PartitionedStore.writeBucketed(o, ot, 8, Seq("o_orderkey"))
        PartitionedStore.writeBucketed(li, lt, 8, Seq("o_orderkey"))
        bucketedBuilt.put(dir, true)
      }
      val joined = PartitionedStore.bucketedJoin(s, ot, lt, Seq("o_orderkey"))
      require(PartitionedStore.shuffleFree(joined),
        "bucketed join must plan without exchanges")
      joined.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"))
    },

    // ---- U5: EXCEPT ALL / INTERSECT ALL (multiset semantics — bag
    //      difference keeps multiplicity, unlike U1's anti-join) ---------
    "u5_except_all" -> Q(
      """SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'N'
        |EXCEPT ALL
        |SELECT l_orderkey FROM lineitem WHERE l_linestatus = 'F'""".stripMargin) { (s, dir) =>
      val li = t(s, dir, "lineitem")
      li.filter(col("l_returnflag") === "N").select("l_orderkey")
        .exceptAll(li.filter(col("l_linestatus") === "F").select("l_orderkey"))
    },

    // ---- U6: LEFT SEMI join as a first-class query — the existence
    //      filter the library uses internally (Completeness gate, d1
    //      dedup verify, e2 recall) surfaced with an EXISTS oracle.
    //      Semi-join never duplicates or widens the probe side, so at
    //      100 TB it shuffles only the join keys of the build side. ----
    "u6_semi_join" -> Q(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderstatus = 'F')""".stripMargin) { (s, dir) =>
      val c = t(s, dir, "customer")
      val keys = t(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("c_custkey"))
      c.join(keys, Seq("c_custkey"), "left_semi").select("c_custkey", "c_name")
    },

    // ---- F20: higher-order array functions in the scan path — the
    //      codegen-friendly alternative to a UDF for per-row array math
    //      (aggregate/reduce, zip_with, filter, exists) -----------------
    "f20_higher_order" -> Q(
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents)
        |SELECT doc_id,
        |       cast(list_sum(list_transform(ws, x -> strlen(x))) AS BIGINT) AS total_chars,
        |       len(list_filter(ws, x -> strlen(x) > 4)) AS n_long,
        |       list_has_any(ws, ['spark', 'table']) AS mentions_engine,
        |       cast(list_sum(list_transform(generate_series(1, len(ws)),
        |            i -> CASE WHEN ws[i] = ws[len(ws) - i + 1] THEN 1 ELSE 0 END)) AS BIGINT) AS n_palindrome_pos
        |FROM w""".stripMargin) { (s, dir) =>
      val ws = split(col("text"), " ")
      t(s, dir, "documents")
        .select(col("doc_id"),
          aggregate(transform(ws, x => length(x)), lit(0L),
            (acc, x) => acc + x).as("total_chars"),
          size(filter(ws, x => length(x) > 4)).as("n_long"),
          exists(ws, x => x === "spark" || x === "table").as("mentions_engine"),
          aggregate(zip_with(ws, reverse(ws),
              (a, b) => when(a === b, 1L).otherwise(0L)), lit(0L),
            (acc, x) => acc + x).as("n_palindrome_pos"))
    },

    // ---- A12: ordered-set aggregates (exact percentiles / median) ------
    "a12_percentiles" -> Q(
      """SELECT l_returnflag,
        |       round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |       round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
        |       round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90"),
          round(expr("percentile(l_extendedprice, 0.99)"), 4).as("p99"))
    },

    // ---- A25: robust outlier gate (median + MAD) — the data-quality
    //      filter that survives the outliers it is hunting (mean/stddev
    //      z-scores move WITH contamination; the median and the median
    //      absolute deviation don't). Two exact-percentile passes over
    //      integer cents: every intermediate (med at .5 granularity,
    //      dev, mad at .25) is an exactly-representable double, so both
    //      engines compare dev > 3·MAD identically. The med/mad tables
    //      are one row per type — broadcast joins, no second wide
    //      shuffle. -----------------------------------------------------
    "a25_robust_outliers" -> Q(
      """WITH e AS (SELECT event_type,
        |            CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT event_type, quantile_cont(cents, 0.5) AS med
        |      FROM e GROUP BY 1),
        |d AS (SELECT e.event_type, med, abs(cents - med) AS dev
        |      FROM e JOIN m USING (event_type)),
        |s AS (SELECT event_type, med, quantile_cont(dev, 0.5) AS mad
        |      FROM d GROUP BY 1, 2)
        |SELECT d.event_type, round(s.med, 4) AS median_cents,
        |       round(s.mad, 4) AS mad_cents,
        |       CAST(count(CASE WHEN dev > 3 * s.mad THEN 1 END) AS BIGINT) AS n_outliers,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM d JOIN s ON d.event_type = s.event_type
        |GROUP BY 1, 2, 3""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events").select(col("event_type"),
        round(col("value") * 100).cast("long").as("cents"))
      val m = e.groupBy("event_type")
        .agg(expr("percentile(cents, 0.5)").as("med"))
      val d = e.join(broadcast(m), "event_type")
        .withColumn("dev", abs(col("cents") - col("med")))
      val mad = d.groupBy("event_type", "med")
        .agg(expr("percentile(dev, 0.5)").as("mad"))
      d.drop("med").join(broadcast(mad), "event_type")
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(when(col("dev") > col("mad") * 3, 1)).as("n_outliers"),
          count(lit(1)).as("n"))
        .select(col("event_type"), round(col("med"), 4).as("median_cents"),
          round(col("mad"), 4).as("mad_cents"), col("n_outliers"), col("n"))
    },

    // ---- A15: sketch aggregates — HLL++ distinct count and quantile-
    //      sketch percentile. The constant-memory path when exact
    //      distinct/percentile state would blow up at corpus scale; no
    //      DuckDB-portable oracle (different sketch families), so the
    //      error bounds vs the exact aggregates are asserted in
    //      PropertiesSpec. ------------------------------------------------
    "a15_approx_sketches" -> Q.rowsOnly { (s, dir) =>
      t(s, dir, "events")
        .groupBy("event_type")
        .agg(
          approx_count_distinct(col("user_id")).as("approx_users"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("p50_approx"),
          count(lit(1)).as("n"))
    },

    // ---- A14: cube (all grouping-set combinations) ---------------------
    "a14_cube" -> Q(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |       coalesce(l_linestatus, 'ALL') AS status,
        |       cast(sum(cast(round(l_quantity) AS bigint)) AS bigint) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
    },

    // ---- A13: rollup (hierarchical subtotals) --------------------------
    "a13_rollup" -> Q(
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |       coalesce(l_linestatus, 'ALL') AS status,
        |       cast(sum(cast(round(l_quantity) AS bigint)) AS bigint) AS sum_qty,
        |       count(*) AS n
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin) { (s, dir) =>
      // round() before the integer cast: DuckDB's double→bigint cast
      // rounds while Spark's truncates — identical only via explicit round
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          count(lit(1)).as("n"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("sum_qty"), col("n"))
    },

    // ---- A22: arbitrary GROUPING SETS (the general form a13's ROLLUP
    //      and a14's CUBE are shorthands for) via Spark 4's native
    //      Dataset.groupingSets — here the cross-tab margins WITHOUT the
    //      all-pairs interior a cube would add. grouping() bits
    //      disambiguate a real value from a rolled-up one, which the
    //      'ALL' coalesce alone cannot (it would collide with genuine
    //      NULL group keys). One pass, one shuffle — not four unioned
    //      aggregations. ------------------------------------------------
    "a22_grouping_sets" -> Q(
      """SELECT coalesce(o_orderstatus, 'ALL') AS st,
        |       coalesce(o_orderpriority, 'ALL') AS pri,
        |       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), (o_orderpriority), ())""".stripMargin) { (s, dir) =>
      t(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          (grouping(col("o_orderstatus")) * 2 +
            grouping(col("o_orderpriority"))).cast("long").as("gid"))
        .select(coalesce(col("o_orderstatus"), lit("ALL")).as("st"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("pri"),
          col("gid"), col("n"), col("cents"))
    },

    // ---- W4: ranking / lag / lead window family ------------------------
    "w4_ranking_windows" -> Q(
      """SELECT o_custkey, o_orderkey,
        |       rank() OVER w AS rk,
        |       dense_rank() OVER w AS drk,
        |       lag(o_orderkey) OVER w AS prev_order,
        |       lead(o_orderkey) OVER w AS next_order,
        |       cast(sum(round(o_totalprice * 100)::BIGINT) OVER
        |         (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
      val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(w).as("rk"),
          dense_rank().over(w).as("drk"),
          lag(col("o_orderkey"), 1).over(w).as("prev_order"),
          lead(col("o_orderkey"), 1).over(w).as("next_order"),
          sum(round(col("o_totalprice") * 100).cast("long")).over(wRun).as("run_cents"))
    },

    // ---- W5: frame-bounded window family — moving average, quartile
    //      buckets, distribution ranks, first/last in partition. Ordered
    //      by event_id (unique) so Spark's µs and DuckDB's ns views of the
    //      nanos timestamps can't order ties differently. ----------------
    "w5_frame_windows" -> Q(
      """WITH e AS (SELECT event_id, user_id, event_type,
        |            cast(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |       avg(cents) OVER (w ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS mov_avg3,
        |       cast(ntile(4) OVER w AS BIGINT) AS quartile,
        |       percent_rank() OVER w AS prk,
        |       cume_dist() OVER w AS cd,
        |       first_value(event_type) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_type,
        |       last_value(event_type) OVER (w ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_type
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""".stripMargin,
      // ansi twin: Spark supports the WINDOW clause but not refining a
      // named window inline (`OVER (w ROWS …)`) — expand each window
      ansi = """WITH e AS (SELECT event_id, user_id, event_type,
        |            cast(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |       avg(cents) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS mov_avg3,
        |       cast(ntile(4) OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT) AS quartile,
        |       percent_rank() OVER (PARTITION BY user_id ORDER BY event_id) AS prk,
        |       cume_dist() OVER (PARTITION BY user_id ORDER BY event_id) AS cd,
        |       first_value(event_type) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_type,
        |       last_value(event_type) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS last_type
        |FROM e""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy("event_id")
      val wMov = w.rowsBetween(-1, 1)
      val wHead = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wTail = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .select(col("event_id"), col("user_id"),
          avg(col("cents")).over(wMov).as("mov_avg3"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("prk"),
          cume_dist().over(w).as("cd"),
          first_value(col("event_type")).over(wHead).as("first_type"),
          last_value(col("event_type")).over(wTail).as("last_type"))
    },

    // ---- W7: grouped top-k via a bounded typed Aggregator — map-side
    //      combinable (each task forwards ≤ k rows per group), so the
    //      shuffle is (groups × k × tasks), not the table. The window
    //      formulation w4 uses (the oracle here) shuffles and sorts every
    //      row of every group — fine for ranking ALL rows, wasteful when
    //      only the top k survive. ---------------------------------------
    "w7_grouped_topk" -> Q(
      """WITH s AS (SELECT o_orderpriority,
        |            cast(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey,
        |            row_number() OVER (PARTITION BY o_orderpriority
        |              ORDER BY cast(round(o_totalprice * 100) AS BIGINT) DESC, o_orderkey) AS rk
        |           FROM orders)
        |SELECT o_orderpriority, cast(rk AS BIGINT) AS rank, cents, o_orderkey
        |FROM s WHERE rk <= 3""".stripMargin) { (s, dir) =>
      val topk = udaf(new TopKAgg(3), Encoders.product[Scored])
      t(s, dir, "orders")
        .select(col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("score"),
          col("o_orderkey").cast("long").as("id"))
        .groupBy("o_orderpriority")
        .agg(topk(col("score"), col("id")).as("_topk"))
        .select(col("o_orderpriority"), posexplode(col("_topk")))
        .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rank"),
          col("col.score").as("cents"), col("col.id").as("o_orderkey"))
    },

    // ---- W8: calendar gap-fill + forward fill — densify a sparse per-
    //      user daily aggregate to a contiguous series (feature pipelines,
    //      as-of state). Per-key spine from its own [min,max] span (no
    //      global date dim), equi-join back, one running last(ignoreNulls)
    //      window. Values are exact cents; day stringified for parity. ----
    "w8_gapfill" -> Q(
      """WITH d AS (SELECT user_id, ts::DATE AS day,
        |            cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |          FROM s),
        |j AS (SELECT spine.user_id, spine.day, d.cents FROM spine
        |      LEFT JOIN d ON d.user_id = spine.user_id AND d.day = spine.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents,
        |       cents IS NULL AS filled
        |FROM j""".stripMargin,
      // ansi twin: Spark forbids a generator nested inside a cast
      // (sequence over dates already yields DATE elements, so the cast
      // drops) and spells IGNORE NULLS outside the value argument
      ansi = """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |            cast(sum(cast(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
        |spine AS (SELECT user_id, day
        |          FROM s LATERAL VIEW explode(sequence(d0, d1, INTERVAL 1 DAY)) u AS day),
        |j AS (SELECT spine.user_id, spine.day, d.cents FROM spine
        |      LEFT JOIN d ON d.user_id = spine.user_id AND d.day = spine.day)
        |SELECT user_id, date_format(day, 'yyyy-MM-dd') AS day,
        |       last_value(cents) IGNORE NULLS OVER (PARTITION BY user_id ORDER BY day
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents,
        |       cents IS NULL AS filled
        |FROM j""".stripMargin) { (s, dir) =>
      val dailyAgg = t(s, dir, "events")
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      GapFill.daily(dailyAgg, "user_id", "day", "cents")
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("cents"), col("filled"))
    },

    // ---- W11: linear interpolation over calendar gaps — w8's spine with
    //      the interpolated value emitted as an EXACT rational num/den
    //      (integer arithmetic only; no IEEE division to diverge between
    //      engines). Interior gaps always have both neighbors because the
    //      spine is bounded per key. ------------------------------------
    "w11_interpolate" -> Q(
      """WITH d AS (SELECT user_id, ts::DATE AS day,
        |            CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
        |spine AS (SELECT user_id, unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |          FROM s),
        |j AS (SELECT spine.user_id, spine.day, d.cents FROM spine
        |      LEFT JOIN d ON d.user_id = spine.user_id AND d.day = spine.day),
        |w AS (SELECT user_id, day, cents,
        |        CAST(day - DATE '1970-01-01' AS BIGINT) AS h,
        |        last_value(cents IGNORE NULLS) OVER wp AS pc,
        |        last_value(CASE WHEN cents IS NOT NULL
        |          THEN CAST(day - DATE '1970-01-01' AS BIGINT) END IGNORE NULLS) OVER wp AS ph,
        |        first_value(cents IGNORE NULLS) OVER wn AS nc,
        |        first_value(CASE WHEN cents IS NOT NULL
        |          THEN CAST(day - DATE '1970-01-01' AS BIGINT) END IGNORE NULLS) OVER wn AS nh
        |      FROM j
        |      WINDOW wp AS (PARTITION BY user_id ORDER BY day
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             wn AS (PARTITION BY user_id ORDER BY day
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       CAST(CASE WHEN cents IS NOT NULL THEN cents
        |            ELSE pc*(nh-ph) + (nc-pc)*(h-ph) END AS BIGINT) AS num,
        |       CAST(CASE WHEN cents IS NOT NULL THEN 1 ELSE nh-ph END AS BIGINT) AS den,
        |       cents IS NULL AS filled
        |FROM w""".stripMargin,
      // ansi twin: Spark spells IGNORE NULLS outside the value argument,
      // sequence over dates needs no cast, and date difference is datediff
      ansi = """WITH d AS (SELECT user_id, CAST(ts AS DATE) AS day,
        |            CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
        |           FROM events GROUP BY 1, 2),
        |s AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM d GROUP BY 1),
        |spine AS (SELECT user_id, day
        |          FROM s LATERAL VIEW explode(sequence(d0, d1, INTERVAL 1 DAY)) u AS day),
        |j AS (SELECT spine.user_id, spine.day, d.cents FROM spine
        |      LEFT JOIN d ON d.user_id = spine.user_id AND d.day = spine.day),
        |w AS (SELECT user_id, day, cents,
        |        CAST(datediff(day, DATE '1970-01-01') AS BIGINT) AS h,
        |        last_value(cents) IGNORE NULLS OVER wp AS pc,
        |        last_value(CASE WHEN cents IS NOT NULL
        |          THEN CAST(datediff(day, DATE '1970-01-01') AS BIGINT) END) IGNORE NULLS OVER wp AS ph,
        |        first_value(cents) IGNORE NULLS OVER wn AS nc,
        |        first_value(CASE WHEN cents IS NOT NULL
        |          THEN CAST(datediff(day, DATE '1970-01-01') AS BIGINT) END) IGNORE NULLS OVER wn AS nh
        |      FROM j
        |      WINDOW wp AS (PARTITION BY user_id ORDER BY day
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |             wn AS (PARTITION BY user_id ORDER BY day
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, date_format(day, 'yyyy-MM-dd') AS day,
        |       CAST(CASE WHEN cents IS NOT NULL THEN cents
        |            ELSE pc*(nh-ph) + (nc-pc)*(h-ph) END AS BIGINT) AS num,
        |       CAST(CASE WHEN cents IS NOT NULL THEN 1 ELSE nh-ph END AS BIGINT) AS den,
        |       cents IS NULL AS filled
        |FROM w""".stripMargin) { (s, dir) =>
      val dailyAgg = t(s, dir, "events")
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      GapFill.dailyInterpolated(dailyAgg, "user_id", "day", "cents")
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("num"), col("den"), col("filled"))
    },

    // ---- W13: RUNNING DISTINCT count — the window SQL can't write
    //      directly (count(DISTINCT) over an ordered frame is illegal in
    //      both engines): reduce each entity to its FIRST occurrence
    //      (one agg), then a plain running sum of the first-occurrence
    //      counts IS the cumulative distinct series. Two shuffles total,
    //      no quadratic frame re-scan — at 100 TB the difference between
    //      a per-day dashboard query and an impossible one. ------------
    "w13_running_distinct" -> Q(
      """WITH f AS (SELECT l_partkey, min(l_shipdate) AS first_day
        |           FROM lineitem GROUP BY 1),
        |d AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_parts
        |      FROM f GROUP BY 1)
        |SELECT strftime(day, '%Y-%m-%d') AS day, new_parts,
        |       CAST(sum(new_parts) OVER (ORDER BY day
        |            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_parts
        |FROM d""".stripMargin) { (s, dir) =>
      val w = Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "lineitem")
        .groupBy("l_partkey").agg(min(col("l_shipdate")).as("day"))
        .groupBy("day").agg(count(lit(1)).as("new_parts"))
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("new_parts"), sum(col("new_parts")).over(w).as("cum_parts"))
    },

    // ---- W14: time-weighted average (TWAP) — each observation holds
    //      until the user's next event, so its weight is the gap to that
    //      event, NOT 1/n (the plain mean over-weights burst periods and
    //      under-weights long steady ones). Weights are exact integer
    //      microseconds × exact integer cents; the only float op is one
    //      final identical division of two < 2^53 integers, so both
    //      engines round identically. Deterministic tie order (ts,
    //      event_id); each user's last event carries no interval. -------
    "w14_time_weighted_avg" -> Q(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us, event_id,
        |            CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |x AS (SELECT user_id, cents,
        |       lead(us) OVER (PARTITION BY user_id ORDER BY us, event_id) - us AS dt
        |      FROM e)
        |SELECT user_id,
        |  CAST(count(*) AS BIGINT) AS n_intervals,
        |  CAST(sum(dt) AS BIGINT) AS dt_us_total,
        |  round(sum(cents * dt) * 1.0 / sum(dt), 6) AS twap_cents
        |FROM x WHERE dt IS NOT NULL GROUP BY 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("us"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        .withColumn("dt", lead(col("us"), 1).over(w) - col("us"))
        .filter(col("dt").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_intervals"),
          sum(col("dt")).as("dt_us_total"),
          round(sum(col("cents") * col("dt")) * 1.0 / sum(col("dt")), 6)
            .as("twap_cents"))
    },

    // ---- W15: exponentially-weighted state (EWMA fold, α = ½) — the
    //      sequential smoother w14's interval weighting can't express:
    //      s_n = x_n + s_{n-1}/2, folded over each user's events in
    //      event order. α = ½ keeps every step dyadic (cents × 2^-k),
    //      and the fold ORDER is pinned by packing (Δus, cents) into one
    //      sortable BIGINT — collect_list order is nondeterministic, the
    //      sorted packed array is not, and both engines then execute the
    //      identical IEEE op sequence. Scale shape: one groupBy carrying
    //      (pack, sort, fold) as per-row array math; the min-us join is
    //      a broadcast of one row per user. -----------------------------
    "w15_ewma" -> Q(
      """WITH e AS (SELECT user_id, epoch_us(ts) AS us,
        |            CAST(round(value * 100) AS BIGINT) AS cents FROM events),
        |m AS (SELECT user_id, min(us) AS us0 FROM e GROUP BY 1),
        |p AS (SELECT e.user_id, ((us - us0) // 1000) * 4194304 + cents AS pk
        |      FROM e JOIN m USING (user_id)),
        |g AS (SELECT user_id, list_sort(list(pk)) AS pks,
        |       CAST(count(*) AS BIGINT) AS n FROM p GROUP BY 1)
        |SELECT user_id, n,
        |  round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
        |    list_transform(pks, x -> CAST(x % 4194304 AS DOUBLE))),
        |    (a, b) -> a / 2 + b), 6) AS ewma_cents
        |FROM g""".stripMargin) { (s, dir) =>
      val e = t(s, dir, "events").select(col("user_id"),
        unix_micros(col("ts")).as("us"),
        round(col("value") * 100).cast("long").as("cents"))
      val m = e.groupBy("user_id").agg(min(col("us")).as("us0"))
      e.join(broadcast(m), "user_id")
        .select(col("user_id"),
          // Δms × 2^22 + cents: Δµs × 2^22 overflows BIGINT on a
          // 30-day span; ms ties sort by the cents payload — same
          // packed value, same order, on both engines
          (((col("us") - col("us0")) / 1000).cast("long") * 4194304L +
            col("cents")).as("pk"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("pk"))).as("pks"),
          count(lit(1)).as("n"))
        .select(col("user_id"), col("n"),
          round(aggregate(
            transform(col("pks"), x => (x % 4194304L).cast("double")),
            lit(0.0), (a, b) => a / 2 + b), 6).as("ewma_cents"))
    },

    // ---- W16: OHLC resample bars — the time-series DOWNSAMPLING shape
    //      (tick stream → per-bucket open/high/low/close/volume bars)
    //      that w14's TWAP and w15's EWMA don't cover: first/last are
    //      positional, not weighted. Open/close are min/max over a
    //      packed (us, event_id, cents) struct — (us, event_id) is a
    //      unique total order, so the bar is deterministic under any
    //      partitioning and the whole thing is ONE map-side-combinable
    //      groupBy (no window, no sort): the 100 TB shape, since bars
    //      are tiny and ticks never shuffle more than once. Exact cents
    //      end-to-end. -------------------------------------------------
    "w16_ohlc_bars" -> Q(ohlcOracleSql) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), unix_micros(col("ts")).as("us"),
          col("event_id"), round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), expr("us div 3600000000").as("h"))
        .agg(
          min(struct(col("us"), col("event_id"), col("cents")))
            .getField("cents").as("open"),
          max(col("cents")).as("high"),
          min(col("cents")).as("low"),
          max(struct(col("us"), col("event_id"), col("cents")))
            .getField("cents").as("close"),
          count(lit(1)).as("n_ticks"))
    },

    // ---- W9: event-time RANGE frame — trailing 1-hour sum/count per
    //      user, bounded by TIME not row position (w5's ROWS frames can't
    //      express "last hour"). Ordered on floor-seconds so both engines
    //      see identical peer groups and frame bounds; RANGE frames are
    //      tie-safe by construction (all peers share the frame). ---------
    "w9_range_frame" -> Q(
      """WITH e AS (SELECT event_id, user_id,
        |            CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |            CAST(round(value * 100) AS BIGINT) AS cents FROM events)
        |SELECT event_id, user_id,
        |  CAST(sum(cents) OVER w AS BIGINT) AS trail_cents,
        |  CAST(count(*) OVER w AS BIGINT) AS trail_n
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY sec
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("sec"))
        .rangeBetween(-3600, 0)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("sec"),
          round(col("value") * 100).cast("long").as("cents"))
        .select(col("event_id"), col("user_id"),
          sum(col("cents")).over(w).as("trail_cents"),
          count(lit(1)).over(w).cast("long").as("trail_n"))
    },

    // ---- A16: grouped statistical aggregates (mean / population stddev /
    //      correlation) via EXACT integer moments: the five sums
    //      accumulate as integers (order-independent, map-side
    //      combinable), and each output is ONE identical correctly-
    //      rounded double chain on both engines, so the usual float-
    //      accumulation-order nondeterminism never exists. ---------------
    "a16_grouped_stats" -> Q(
      """WITH m AS (SELECT l_returnflag,
        |            count(*) AS n,
        |            CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sx,
        |            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sy,
        |            CAST(sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sxx,
        |            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS syy,
        |            CAST(sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sxy
        |           FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CAST(round(1000000.0 * sy / n) AS BIGINT) AS mean_cents_micro,
        |  CAST(round(1000000.0 * sqrt(n * sxx - sx * sx) / n) AS BIGINT) AS std_qty_micro,
        |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
        |    CAST(round(1000000.0 * (n * sxy - sx * sy) /
        |      sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) AS BIGINT)
        |  END AS corr_micro
        |FROM m""".stripMargin) { (s, dir) =>
      val x = round(col("l_quantity")).cast("long")
      val y = round(col("l_extendedprice") * 100).cast("long")
      // moments accumulate as decimal(38,0) — exact like DuckDB's HUGEINT
      // sums, and sum-of-squares at full scale overflows a long sum
      def dsum(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
      val m = t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum(x).as("sx"), dsum(y).as("sy"),
          dsum(x * x).as("sxx"), dsum(y * y).as("syy"),
          dsum(x * y).as("sxy"))
      val n = col("n").cast("double")
      val vx = n * col("sxx") - col("sx") * col("sx")
      val vy = n * col("syy") - col("sy") * col("sy")
      m.select(col("l_returnflag"), col("n"),
        round(lit(1000000.0) * col("sy") / n).cast("long").as("mean_cents_micro"),
        round(lit(1000000.0) * sqrt(vx) / n).cast("long").as("std_qty_micro"),
        // degenerate (zero-variance / n=1) groups: corr undefined -> null;
        // an unguarded 0/0 would cast NaN/Inf differently per engine
        when(vx > 0 && vy > 0,
          round(lit(1000000.0) * (n * col("sxy") - col("sx") * col("sy")) /
            sqrt(vx * vy)).cast("long"))
          .as("corr_micro"))
    },

    // ---- A17: ordered funnel (signup → purchase → click) — each stage's
    //      first hit must be strictly AFTER the previous stage's: three
    //      conditional-min windows over ONE user partition (single
    //      exchange, each window referencing the previous stage's time),
    //      then one row per user. The product-analytics query a plain
    //      per-type min gets wrong (it ignores order). ------------------
    "a17_funnel_stages" -> Q(
      """WITH u AS (SELECT user_id,
        |            min(CASE WHEN event_type = 'signup' THEN ts END) AS s
        |           FROM events GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS p FROM events e JOIN u USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.ts > u.s GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS c FROM events e JOIN p USING (user_id)
        |      WHERE e.event_type = 'click' AND e.ts > p.p GROUP BY 1)
        |SELECT u.user_id, u.s IS NOT NULL AS did_signup,
        |  p.p IS NOT NULL AS did_purchase, c.c IS NOT NULL AS did_click,
        |  CAST(floor(epoch(p.p)) - floor(epoch(u.s)) AS BIGINT) AS signup_to_purchase_sec
        |FROM u LEFT JOIN p USING (user_id) LEFT JOIN c USING (user_id)""".stripMargin) { (s, dir) =>
      val wU = Window.partitionBy("user_id")
      t(s, dir, "events")
        .withColumn("s",
          min(when(col("event_type") === "signup", col("ts"))).over(wU))
        .withColumn("p",
          min(when(col("event_type") === "purchase" && col("ts") > col("s"),
            col("ts"))).over(wU))
        .withColumn("c",
          min(when(col("event_type") === "click" && col("ts") > col("p"),
            col("ts"))).over(wU))
        .select(col("user_id"), col("s").isNotNull.as("did_signup"),
          col("p").isNotNull.as("did_purchase"),
          col("c").isNotNull.as("did_click"),
          (unix_timestamp(col("p")) - unix_timestamp(col("s")))
            .as("signup_to_purchase_sec"))
        .distinct()
    },

    // ---- A18: cohort retention — users grouped by first-seen day, and
    //      the classic (cohort, weeks-since) distinct-active matrix. One
    //      user-keyed aggregation for the cohort dim, one keyed join
    //      back, one matrix aggregation; day-granular cohorts so neither
    //      engine's week-start convention leaks in. ---------------------
    "a18_cohort_retention" -> Q(
      """WITH f AS (SELECT user_id, min(ts::DATE) AS d0 FROM events GROUP BY 1),
        |a AS (SELECT e.user_id, f.d0,
        |       date_diff('day', f.d0, e.ts::DATE) // 7 AS wk
        |      FROM events e JOIN f USING (user_id))
        |SELECT strftime(d0, '%Y-%m-%d') AS cohort_day,
        |  CAST(wk AS BIGINT) AS week_offset,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM a GROUP BY 1, 2""".stripMargin) { (s, dir) =>
      val ev = t(s, dir, "events")
      val f = ev.groupBy("user_id").agg(min(col("ts").cast("date")).as("d0"))
      ev.join(f, "user_id")
        .select(col("user_id"), col("d0"),
          expr("CAST(datediff(CAST(ts AS DATE), d0) div 7 AS BIGINT)")
            .as("week_offset"))
        .groupBy(date_format(col("d0"), "yyyy-MM-dd").as("cohort_day"),
          col("week_offset"))
        .agg(count_distinct(col("user_id")).as("n_users"))
    },

    // ---- A19: heavy hitters — dominant items via a mergeable Misra–Gries
    //      sketch (functions.HeavyHittersAgg): bounded state, map-side
    //      combinable — each task forwards ≤ m counters, never the item
    //      stream — then an exact semi-join confirm pass so the PUBLISHED
    //      counts are deterministic (the sketch decides what is worth
    //      counting; the confirm pass does the counting). The item stream
    //      is a scale-free skewed projection of events (30% of rows land
    //      on 3 hot items, the rest spread over ~13k cold items) because
    //      the synthetic columns are all near-uniform; capacity 16 < the
    //      distinct count, so the sketch genuinely saturates and the MG
    //      guarantee (share > n/17 ⇒ present) is what carries the hot
    //      items through, at every scale factor. ------------------------
    "a19_heavy_hitters" -> Q(HeavyHitters.oracleSql) { (s, dir) =>
      val items = t(s, dir, "events").select(HeavyHitters.itemCol.as("item"))
      // one pass: sketch + total count together (both map-side combinable)
      val sketch = items.agg(HeavyHitters.mgSketch(col("item")).as("cands"),
        count(lit(1)).as("n_total"))
      HeavyHitters.confirm(items, sketch)
    },

    // ---- A24: EXACT mergeable distinct counts via bitmap aggregates —
    //      a23's pattern (build partials, merge later) with bitmaps in
    //      place of HLL: bitmap_bucket_number shards the id space into
    //      fixed 32k-bit buckets, per-(type, day, bucket) bitmaps build
    //      map-side, bitmap_or_agg merges the day partials, bitmap_count
    //      sums to the EXACT distinct count. The warehouse trade: exact
    //      where HLL is ±2%, state linear in the distinct-id RANGE per
    //      bucket (vs HLL's constant) — right when ids are dense
    //      (users, docs), wrong for sparse 64-bit hashes. Exactness is
    //      what makes this one hash-oracle-checkable. ------------------
    "a24_bitmap_distinct" -> Q(
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
        .groupBy(col("event_type"), col("day"),
          expr("bitmap_bucket_number(user_id)").as("bucket"))
        .agg(expr("bitmap_construct_agg(bitmap_bit_position(user_id))").as("bm"))
        .groupBy("event_type", "bucket")
        .agg(expr("bitmap_or_agg(bm)").as("bm"))
        .groupBy("event_type")
        .agg(sum(expr("bitmap_count(bm)")).as("n_users"))
    },

    // ---- A23: MERGEABLE distinct-count sketches — the persist-partials /
    //      union-later warehouse pattern a15's one-shot
    //      approx_count_distinct can't express: per-type HLL sketches
    //      (DataSketches, binary column) are built ONCE, then merged with
    //      hll_union_agg into the whole-corpus estimate — at 100 TB the
    //      per-partition/per-day sketches persist and a rollup touches
    //      kilobytes, never the fact table. Register updates are
    //      max-based, so a sketch is a pure function of its input SET
    //      (partitioning/order-independent) and the merged rollup is
    //      deterministic. No SQL engine shares the sketch format ⇒
    //      rows-only; SketchSpec pins merged == direct equality and the
    //      error bound vs exact. ---------------------------------------
    "a23_hll_mergeable" -> Q.rowsOnly { (s, dir) =>
      val ev = t(s, dir, "events")
      val perType = ev.groupBy("event_type")
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          count_distinct(col("user_id")).as("exact_users"))
        .localCheckpoint(true) // sketches built once, reused twice below
      val per = perType.select(col("event_type"),
        hll_sketch_estimate(col("sk")).as("est_users"), col("exact_users"))
      val merged = perType
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_users"))
        .crossJoin(broadcast(
          ev.agg(count_distinct(col("user_id")).as("exact_users"))))
        .select(lit("ALL_merged").as("event_type"),
          col("est_users"), col("exact_users"))
      val direct = ev
        .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("est_users"),
          count_distinct(col("user_id")).as("exact_users"))
        .select(lit("ALL_direct").as("event_type"),
          col("est_users"), col("exact_users"))
      per.unionByName(merged).unionByName(direct)
    },

    // ---- A20: grouped OLS regression (price-on-quantity slope/intercept
    //      per return flag) — the a16 exact-integer-moments machinery
    //      driving a second statistical output family: decimal(38) sums,
    //      then ONE identical correctly-rounded double chain per output
    //      on both engines; zero-variance groups yield null, never a
    //      divide-by-zero NaN. --------------------------------------------
    "a20_grouped_ols" -> Q(
      """WITH m AS (SELECT l_returnflag,
        |            count(*) AS n,
        |            CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sx,
        |            CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sy,
        |            CAST(sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS sxx,
        |            CAST(sum(CAST(round(l_quantity) AS BIGINT) * CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) AS sxy
        |           FROM lineitem GROUP BY 1)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    CAST(round(1000000.0 * (n * sxy - sx * sy) / (n * sxx - sx * sx)) AS BIGINT)
        |  END AS slope_micro,
        |  CASE WHEN n * sxx - sx * sx > 0 THEN
        |    CAST(round(1000000.0 * (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n) AS BIGINT)
        |  END AS intercept_micro
        |FROM m""".stripMargin) { (s, dir) =>
      val x = round(col("l_quantity")).cast("long")
      val y = round(col("l_extendedprice") * 100).cast("long")
      def dsum(c: Column) = sum(c.cast("decimal(38,0)")).cast("double")
      val m = t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          dsum(x).as("sx"), dsum(y).as("sy"),
          dsum(x * x).as("sxx"), dsum(x * y).as("sxy"))
      val n = col("n").cast("double")
      val vx = n * col("sxx") - col("sx") * col("sx")
      val slope = (n * col("sxy") - col("sx") * col("sy")) / vx
      m.select(col("l_returnflag"), col("n"),
        // (1e6 * num) / den, NOT 1e6 * (num/den): the oracle's chain is
        // left-associative and the two orders can round 1 ulp apart
        when(vx > 0,
          round(lit(1000000.0) * (n * col("sxy") - col("sx") * col("sy")) / vx)
            .cast("long"))
          .as("slope_micro"),
        when(vx > 0,
          round(lit(1000000.0) * (col("sy") - slope * col("sx")) / n)
            .cast("long"))
          .as("intercept_micro"))
    },

    // ---- G1: PageRank — the iterative graph computation beyond d7's
    //      connected components, INTEGER-EXACT so a SQL oracle can replay
    //      all three unrolled iterations bit-for-bit (ops.PageRank: ranks
    //      in micro-units, contribution = rank div degree, damping as
    //      150000 + 85·Σ div 100 — integer sums have no accumulation
    //      order). Graph = customer↔supplier trade edges symmetrized, so
    //      no node dangles and node ids can't collide (even/odd). ---------
    "g1_pagerank" -> Q(
      """WITH eo AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM eo UNION ALL SELECT dst, src FROM eo),
        |nd AS (SELECT DISTINCT src AS node FROM e),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nd),
        |i1 AS (SELECT e.dst AS node, sum(r0.r // d.deg) AS s
        |       FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
        |r1 AS (SELECT nd.node, CAST(150000 + (85 * coalesce(i1.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nd LEFT JOIN i1 USING (node)),
        |i2 AS (SELECT e.dst AS node, sum(r1.r // d.deg) AS s
        |       FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT nd.node, CAST(150000 + (85 * coalesce(i2.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nd LEFT JOIN i2 USING (node)),
        |i3 AS (SELECT e.dst AS node, sum(r2.r // d.deg) AS s
        |       FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT nd.node, CAST(150000 + (85 * coalesce(i3.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nd LEFT JOIN i3 USING (node))
        |SELECT node, r AS rank_micro FROM r3""".stripMargin) { (s, dir) =>
      val eo = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val e = eo.unionByName(
        eo.select(col("dst").as("src"), col("src").as("dst")))
      PageRank.run(e, iterations = 3)
    },

    // ---- G8: PERSONALIZED PageRank — g1's integer-exact arithmetic
    //      with teleport mass landing only on a source set (customers
    //      with key % 50 = 0 ⟺ node % 100 = 0 under the even/odd id
    //      scheme): ranks measure proximity TO the sources — the
    //      recommendation / trust-propagation form — and nodes
    //      unreachable from every source stay at exactly 0. Same trade
    //      graph, three unrolled oracle rounds, bit-for-bit. ----------
    "g8_ppr" -> Q(
      """WITH eo AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM eo UNION ALL SELECT dst, src FROM eo),
        |nd AS (SELECT DISTINCT src AS node FROM e),
        |d AS (SELECT src, count(*) AS deg FROM e GROUP BY 1),
        |r0 AS (SELECT node,
        |        CAST(CASE WHEN node % 100 = 0 THEN 1000000 ELSE 0 END AS BIGINT) AS r
        |       FROM nd),
        |i1 AS (SELECT e.dst AS node, sum(r0.r // d.deg) AS s
        |       FROM e JOIN d USING (src) JOIN r0 ON r0.node = e.src GROUP BY 1),
        |r1 AS (SELECT nd.node,
        |        CAST(CASE WHEN nd.node % 100 = 0 THEN 150000 ELSE 0 END
        |             + (85 * coalesce(i1.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nd LEFT JOIN i1 USING (node)),
        |i2 AS (SELECT e.dst AS node, sum(r1.r // d.deg) AS s
        |       FROM e JOIN d USING (src) JOIN r1 ON r1.node = e.src GROUP BY 1),
        |r2 AS (SELECT nd.node,
        |        CAST(CASE WHEN nd.node % 100 = 0 THEN 150000 ELSE 0 END
        |             + (85 * coalesce(i2.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nd LEFT JOIN i2 USING (node)),
        |i3 AS (SELECT e.dst AS node, sum(r2.r // d.deg) AS s
        |       FROM e JOIN d USING (src) JOIN r2 ON r2.node = e.src GROUP BY 1),
        |r3 AS (SELECT nd.node,
        |        CAST(CASE WHEN nd.node % 100 = 0 THEN 150000 ELSE 0 END
        |             + (85 * coalesce(i3.s, 0)) // 100 AS BIGINT) AS r
        |       FROM nd LEFT JOIN i3 USING (node))
        |SELECT node, r AS rank_micro FROM r3""".stripMargin) { (s, dir) =>
      val eo = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val e = eo.unionByName(
        eo.select(col("dst").as("src"), col("src").as("dst")))
      val sources = t(s, dir, "customer")
        .select((col("c_custkey") * 2).as("node"))
        .filter(col("node") % 100 === 0)
      PageRank.runPersonalized(e, sources, iterations = 3)
    },

    // ---- G9: degree statistics + assortativity — the graph-shape
    //      numbers a partitioning strategy is chosen FROM (max degree
    //      says whether per-vertex neighborhoods fit a task; degree
    //      correlation says whether hubs attach to hubs, the skew-join
    //      risk profile). Assortativity = Pearson r of (deg src, deg
    //      dst) over edges, via a16's exact-integer-moments discipline:
    //      the five sums are exact (< 2^53), the final combination is
    //      ONE identical double chain on both engines. -----------------
    "g9_degree_stats" -> Q(
      """WITH eo AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM eo UNION ALL SELECT dst, src FROM eo),
        |d AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1),
        |x AS (SELECT d1.deg AS dx, d2.deg AS dy
        |      FROM e JOIN d d1 ON d1.src = e.src JOIN d d2 ON d2.src = e.dst),
        |m AS (SELECT CAST(count(*) AS DOUBLE) AS n,
        |       CAST(sum(dx) AS DOUBLE) AS sx, CAST(sum(dy) AS DOUBLE) AS sy,
        |       CAST(sum(dx * dx) AS DOUBLE) AS sxx,
        |       CAST(sum(dy * dy) AS DOUBLE) AS syy,
        |       CAST(sum(dx * dy) AS DOUBLE) AS sxy FROM x)
        |SELECT (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_nodes,
        |       CAST(n AS BIGINT) AS n_edges,
        |       (SELECT CAST(max(deg) AS BIGINT) FROM d) AS max_deg,
        |       round((n * sxy - sx * sy) /
        |             sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
        |         AS assortativity
        |FROM m""".stripMargin) { (s, dir) =>
      val eo = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val e = eo.unionByName(
        eo.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(false)
      val d = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint(false)
      val x = e.join(d.withColumnRenamed("src", "_s1").withColumnRenamed("deg", "dx"),
          col("src") === col("_s1"))
        .join(d.withColumnRenamed("src", "_s2").withColumnRenamed("deg", "dy"),
          col("dst") === col("_s2"))
        .select("dx", "dy")
      val m = x.agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("dx")).cast("double").as("sx"),
        sum(col("dy")).cast("double").as("sy"),
        sum(col("dx") * col("dx")).cast("double").as("sxx"),
        sum(col("dy") * col("dy")).cast("double").as("syy"),
        sum(col("dx") * col("dy")).cast("double").as("sxy"))
      val stats = d.agg(count(lit(1)).as("n_nodes"), max(col("deg")).as("max_deg"))
      m.crossJoin(broadcast(stats))
        .select(col("n_nodes"), col("n").cast("long").as("n_edges"),
          col("max_deg"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")) *
              (col("n") * col("syy") - col("sy") * col("sy"))), 6)
            .as("assortativity"))
    },

    // ---- G2: synchronous label propagation (community detection) — the
    //      third graph-analytics member next to d7's components and g1's
    //      PageRank: every node adopts its neighbors' most frequent label
    //      (ties → smallest), two synchronous rounds. Deterministic by
    //      construction, so the oracle replays both rounds; the per-round
    //      argmax is a map-side-combinable max(struct), never a window
    //      sort over the neighbor-label table. ---------------------------
    "g2_label_propagation" -> Q(
      """WITH eo AS (SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        |            FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
        |e AS (SELECT src, dst FROM eo UNION ALL SELECT dst, src FROM eo),
        |l0 AS (SELECT DISTINCT src AS node, src AS lab FROM e),
        |v1 AS (SELECT e.dst AS node, l.lab, count(*) AS c
        |       FROM e JOIN l0 l ON l.node = e.src GROUP BY 1, 2),
        |l1 AS (SELECT node, lab FROM (
        |        SELECT node, lab, row_number() OVER
        |          (PARTITION BY node ORDER BY c DESC, lab) rn FROM v1)
        |       WHERE rn = 1),
        |v2 AS (SELECT e.dst AS node, l.lab, count(*) AS c
        |       FROM e JOIN l1 l ON l.node = e.src GROUP BY 1, 2),
        |l2 AS (SELECT node, lab FROM (
        |        SELECT node, lab, row_number() OVER
        |          (PARTITION BY node ORDER BY c DESC, lab) rn FROM v2)
        |       WHERE rn = 1)
        |SELECT node, lab AS label FROM l2""".stripMargin) { (s, dir) =>
      val eo = t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(t(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      val e = eo.unionByName(
        eo.select(col("dst").as("src"), col("src").as("dst")))
        .localCheckpoint(false)
      var labels = e.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lab"))
        .localCheckpoint(false)
      for (_ <- 0 until 2) {
        labels = e.join(labels.withColumnRenamed("node", "src"), "src")
          .groupBy(col("dst").as("node"), col("lab"))
          .agg(count(lit(1)).as("_c"))
          // argmax (count DESC, label ASC) as one combinable max(struct)
          .groupBy("node")
          .agg(max(struct(col("_c"), (-col("lab")).as("_neg"),
            col("lab").as("_lab"))).as("_b"))
          .select(col("node"), col("_b._lab").as("lab"))
          .localCheckpoint(false)
      }
      labels.select(col("node"), col("lab").as("label"))
    },

    // ---- G3: triangle counting — the clustering-structure metric next
    //      to components/PageRank/LPA: the FULL co-purchase graph (parts
    //      sharing an order — r4: the r3 `% 4` order sample is gone),
    //      DEGREE-oriented enumeration (graft.ops.Triangles): every wedge
    //      generates at its (degree, id)-lowest vertex, capping the wedge
    //      fan-out at O(m^1.5) regardless of skew — the id-oriented form
    //      blows up as C(deg, 2) on a hot node (probed in TrianglesSpec;
    //      g3b keeps the id-oriented twin green on a bounded scope).
    //      Orientation changes the enumeration, never the triangle set,
    //      so the oracle replays the same degree-oriented equi-join
    //      pipeline. ----------------------------------------------------
    "g3_triangle_count" -> Q(
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1),
        |o AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |                  THEN e.u ELSE e.v END AS s,
        |             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |                  THEN e.v ELSE e.u END AS t
        |      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        |w AS (SELECT w1.s AS s, least(w1.t, w2.t) AS u, greatest(w1.t, w2.t) AS v
        |      FROM o w1 JOIN o w2 ON w1.s = w2.s AND w1.t < w2.t),
        |tri AS (SELECT w.s AS a, w.u AS b, w.v AS c
        |        FROM w JOIN e ON e.u = w.u AND e.v = w.v),
        |nodes AS (SELECT a AS node FROM tri UNION ALL
        |          SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY 1
        |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      val e = graft.ops.Triangles.coPurchaseEdges(t(s, dir, "lineitem"))
      graft.ops.Triangles.perNodeCounts(graft.ops.Triangles.orientByDegree(e))
        .orderBy(col("n_triangles").desc, col("node"))
        .limit(20)
    },

    // ---- G3b: the id-oriented enumeration twin on a bounded scope (a
    //      quarter of orders): same wedge-close machinery, identity
    //      orientation. Proves orientation-independence at the driver
    //      gate (TrianglesSpec asserts full per-node equality of the two
    //      enumerations on the unsampled graph); stays scoped because
    //      unbounded id-oriented fan-out is exactly the failure mode g3's
    //      degree orientation removes. -----------------------------------
    "g3b_triangle_id_twin" -> Q(
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |            FROM lineitem WHERE l_orderkey % 4 = 0),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
        |w AS (SELECT w1.u AS s, least(w1.v, w2.v) AS wu, greatest(w1.v, w2.v) AS wv
        |      FROM e w1 JOIN e w2 ON w1.u = w2.u AND w1.v < w2.v),
        |tri AS (SELECT w.s AS a, w.wu AS b, w.wv AS c
        |        FROM w JOIN e ON e.u = w.wu AND e.v = w.wv),
        |nodes AS (SELECT a AS node FROM tri UNION ALL
        |          SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
        |FROM nodes GROUP BY 1
        |ORDER BY n_triangles DESC, node LIMIT 20""".stripMargin) { (s, dir) =>
      val e = graft.ops.Triangles.coPurchaseEdges(
        t(s, dir, "lineitem").filter(col("l_orderkey") % 4 === 0))
      graft.ops.Triangles.perNodeCounts(graft.ops.Triangles.orientById(e))
        .orderBy(col("n_triangles").desc, col("node"))
        .limit(20)
    },

    // ---- G4: bounded k-core peeling — 3 synchronous rounds of "drop
    //      every node with degree < k, then re-count" over the unsampled
    //      co-purchase graph (k = 80: real cascade at both SFs — the
    //      first round removes ~6% of edges and the dropouts pull
    //      neighbors under k in later rounds). Fixed-round like g1's
    //      PageRank: the oracle replays the SAME 3 unrolled rounds, so
    //      the contract is the peeling OPERATOR, not a convergence claim
    //      (on this near-regular graph full k-core is degenerate — any k
    //      either no-ops or empties the graph; bounded peel is what
    //      exercises the iterative-subgraph machinery). Each round: one
    //      map-side-combinable degree count + two semi-join filters
    //      (survivor list is node-table sized — broadcast while it fits,
    //      AQE beyond); lineage cut per round, the g1/g2 discipline. ----
    "g4_kcore_peel" -> Q(
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e0 AS (SELECT DISTINCT a.p AS u, b.p AS v
        |       FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
        |k1 AS (SELECT node FROM (SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
        |       GROUP BY 1 HAVING count(*) >= 80),
        |e1 AS (SELECT e0.u, e0.v FROM e0
        |       JOIN k1 a ON a.node = e0.u JOIN k1 b ON b.node = e0.v),
        |k2 AS (SELECT node FROM (SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1)
        |       GROUP BY 1 HAVING count(*) >= 80),
        |e2 AS (SELECT e1.u, e1.v FROM e1
        |       JOIN k2 a ON a.node = e1.u JOIN k2 b ON b.node = e1.v),
        |k3 AS (SELECT node FROM (SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2)
        |       GROUP BY 1 HAVING count(*) >= 80),
        |e3 AS (SELECT e2.u, e2.v FROM e2
        |       JOIN k3 a ON a.node = e2.u JOIN k3 b ON b.node = e2.v)
        |SELECT node, CAST(count(*) AS BIGINT) AS degree
        |FROM (SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3)
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      var e = graft.ops.Triangles.coPurchaseEdges(t(s, dir, "lineitem"))
      for (_ <- 1 to 3) {
        val keep = e.select(col("u").as("node"))
          .unionByName(e.select(col("v").as("node")))
          .groupBy("node").agg(count(lit(1)).as("_d"))
          .filter(col("_d") >= 80)
          .select("node")
        e = e.join(keep.withColumnRenamed("node", "u"), "u")
          .join(keep.withColumnRenamed("node", "v"), "v")
          .select("u", "v")
          .localCheckpoint(false)
      }
      e.select(col("u").as("node")).unionByName(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("degree"))
    },

    // ---- G4b: CONVERGENT k-core — the fixpoint the bounded-round g4
    //      stops short of: peel until a round removes nothing, so the
    //      result is the true k-core (unique maximal subgraph with min
    //      degree ≥ k, peel-order independent). k = 80 is the regime
    //      where this graph's core is NON-degenerate: a genuine 6-round
    //      cascade to a surviving core at sf0.01 AND sf0.1 (measured in
    //      KCoreSpec; k=85 empties it, k=60 converges in 2). The oracle
    //      unrolls 8 rounds — more than any measured convergence depth —
    //      which is safe BECAUSE peeling is idempotent at the fixpoint:
    //      extra unrolled rounds are no-ops, so "Spark iterates until
    //      converged" and "SQL replays 8 rounds" meet at the same edge
    //      set. Note the synthetic co-purchase graph is near-regular
    //      (deg 42..206 at sf0.01), so non-degeneracy needs k inside
    //      that band; no projection of the uniform testdata is skewed
    //      enough to cascade from a small k — probed across
    //      customer–supplier, part–supplier, and doc-shingle graphs. ---
    "g4b_kcore_converge" -> Q(g4bOracle) { (s, dir) =>
      val e = graft.ops.Triangles.coPurchaseEdges(t(s, dir, "lineitem"))
      val (core, rounds) = graft.ops.KCore.peelToFixpoint(e, k = 80)
      // calibration guard, not a correctness condition: the oracle
      // unrolls exactly 8 peel rounds, so a deeper cascade at an
      // untested scale factor must surface HERE as a loud calibration
      // error — not as an under-iterated oracle's hash mismatch
      // blaming the operator
      require(rounds <= 8, s"k-core cascade took $rounds rounds > the " +
        "g4b oracle's 8 unrolled rounds — raise g4bOracle's unroll depth")
      graft.ops.KCore.coreDegrees(core)
    },

    // ---- G6: multi-source BFS hop distances — the reachability /
    //      shortest-path member of the graph family (components say IF
    //      connected, BFS says HOW FAR): synchronous frontier expansion
    //      with a min-combine, CONVERGENT like g4b (a round that adds no
    //      node proves every reachable node holds its final distance —
    //      first touch IS the shortest hop count on unit weights).
    //      Sources = the 10 lowest-id nodes; unreachable nodes are
    //      absent by contract. The oracle unrolls 8 MATERIALIZED rounds
    //      — the measured eccentricity GROWS slowly with SF (1/2/3 at
    //      sf0.001/0.01/0.1: node count outruns densification), so the
    //      depth margin follows that trend upward; extra rounds no-op
    //      once the labels stabilize. ---------------------------------
    "g6_bfs_distances" -> Q(g6Oracle) { (s, dir) =>
      val e = graft.ops.Triangles.coPurchaseEdges(t(s, dir, "lineitem"))
      val sources = e.select(col("u").as("node"))
        .unionByName(e.select(col("v").as("node")))
        .distinct().orderBy("node").limit(10)
      val (dist, rounds) = graft.ops.Bfs.distances(e, sources)
      // calibration guard (same contract as g4b's): eccentricity past
      // the oracle's 8 unrolled rounds must fail loudly here, not as a
      // spurious hash mismatch from an under-iterated oracle
      require(rounds <= 8, s"BFS took $rounds rounds > the g6 oracle's " +
        "8 unrolled rounds — raise g6Oracle's unroll depth")
      dist
    },

    // ---- G7: bounded Bellman-Ford relaxation — WEIGHTED shortest
    //      distances (min-plus semiring), the member g6's unit-weight
    //      BFS can't express: edge cost = 11 − min(shared orders, 10),
    //      so heavy co-purchase pairs are CLOSE and the 3-round distance
    //      is a similarity radius. Fixed-round contract like g1/g4 (the
    //      oracle replays the same 3 unrolled relaxations): weighted
    //      labels keep improving after first touch, so frontier-delta
    //      BFS does not apply and convergence needs up to |V| rounds in
    //      theory — the bounded relaxation is the honest operator. Each
    //      round: one edge join from the CURRENT label set + one
    //      combinable min, lineage cut per round. ---------------------
    "g7_sssp_relax" -> Q(g7Oracle) { (s, dir) =>
      // shared weighted projection (checkpointed INSIDE the helper, so
      // the symmetric union below reads the materialized edge set twice
      // instead of running the self-join aggregate once per branch)
      val ew = graft.ops.Triangles.coPurchaseWeights(t(s, dir, "lineitem"))
        .select(col("u"), col("v"),
          (lit(11L) - least(col("cnt"), lit(10L))).as("w"))
      val sym = ew.select(col("u").as("s"), col("v").as("t"), col("w"))
        .unionByName(ew.select(col("v").as("s"), col("u").as("t"), col("w")))
        .localCheckpoint(false)
      val sources = sym.select(col("s").as("node")).distinct()
        .orderBy("node").limit(10)
      var dist = sources.select(col("node"), lit(0L).as("d"))
        .localCheckpoint(false)
      for (_ <- 1 to 3) {
        dist = dist.unionByName(
            dist.join(sym, dist("node") === sym("s"))
              .select(col("t").as("node"), (col("d") + col("w")).as("d")))
          .groupBy("node").agg(min(col("d")).as("d"))
          .localCheckpoint(false)
      }
      dist.select(col("node"), col("d").as("dist"))
    },

    // ---- G7b: CONVERGENT weighted SSSP — the fixpoint form g7's
    //      bounded-round contract stops short of, closing the graph
    //      family's convergence story the way g4→g4b did for k-core:
    //      changed-label worklist Bellman-Ford (ops/Sssp) relaxes only
    //      labels that improved last round and stops at the round that
    //      improves nothing, so the result is THE shortest-distance
    //      labelling, not a 3-round radius. The oracle replays 12 full
    //      relaxation rounds (prefix-optimal after every round, so it
    //      meets the fixpoint while convergence depth ≤ 12 — guarded
    //      below, measured 1/2/3 improving rounds at sf0.001/0.01/0.1). --
    "g7b_sssp_converge" -> Q(g7bOracle) { (s, dir) =>
      val ew = graft.ops.Triangles.coPurchaseWeights(t(s, dir, "lineitem"))
        .select(col("u"), col("v"),
          (lit(11L) - least(col("cnt"), lit(10L))).as("w"))
      val sym = ew.select(col("u").as("s"), col("v").as("t"), col("w"))
        .unionByName(ew.select(col("v").as("s"), col("u").as("t"), col("w")))
        .localCheckpoint(false)
      val sources = sym.select(col("s").as("node")).distinct()
        .orderBy("node").limit(10)
      val (dist, rounds) = graft.ops.Sssp.distances(sym, sources)
      // calibration guard (g4b/g6 discipline): labels improved in rounds
      // 1..rounds−1 (the last round is the confirming no-op), so the
      // oracle's unroll must cover rounds−1 relaxations; a deeper graph
      // at an untested scale fails loudly here, not as a hash mismatch
      require(rounds - 1 <= g7bUnroll,
        s"SSSP labels improved for ${rounds - 1} rounds > the g7b " +
          s"oracle's $g7bUnroll unrolled relaxations — raise g7bUnroll")
      dist
    },

    // ---- G5: local clustering coefficient — how tightly each node's
    //      neighborhood closes: 2·tri(v) / (deg(v)·(deg(v)−1)), over the
    //      same unsampled co-purchase graph and degree-oriented triangle
    //      machinery as g3. INTEGER-EXACT cross-engine: the coefficient
    //      publishes micro-quantized via integer division
    //      (2e6·tri div deg·(deg−1)) — both engines truncate identically,
    //      no float ratio ever exists. Nodes with deg < 2 have no defined
    //      coefficient and are excluded; zero-triangle nodes surface with
    //      coeff 0 via the left join (a tri-side inner join would silently
    //      drop them and skew any aggregate a user computes downstream). --
    "g5_clustering_coeff" -> Q(
      """WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        |e AS (SELECT DISTINCT a.p AS u, b.p AS v
        |      FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
        |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS d
        |        FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY 1),
        |o AS (SELECT CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |                  THEN e.u ELSE e.v END AS s,
        |             CASE WHEN du.d < dv.d OR (du.d = dv.d AND e.u < e.v)
        |                  THEN e.v ELSE e.u END AS t
        |      FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v),
        |w AS (SELECT w1.s AS s, least(w1.t, w2.t) AS u, greatest(w1.t, w2.t) AS v
        |      FROM o w1 JOIN o w2 ON w1.s = w2.s AND w1.t < w2.t),
        |tri AS (SELECT w.s AS a, w.u AS b, w.v AS c
        |        FROM w JOIN e ON e.u = w.u AND e.v = w.v),
        |tc AS (SELECT node, CAST(count(*) AS BIGINT) AS tri FROM
        |        (SELECT a AS node FROM tri UNION ALL
        |         SELECT b FROM tri UNION ALL SELECT c FROM tri)
        |       GROUP BY 1)
        |SELECT deg.node, CAST(coalesce(tc.tri, 0) AS BIGINT) AS n_triangles,
        |       deg.d AS degree,
        |       CAST(2000000 * coalesce(tc.tri, 0) // (deg.d * (deg.d - 1))
        |            AS BIGINT) AS coeff_micro
        |FROM deg LEFT JOIN tc ON tc.node = deg.node
        |WHERE deg.d >= 2
        |ORDER BY coeff_micro DESC, n_triangles DESC, deg.node LIMIT 20""".stripMargin) { (s, dir) =>
      val e = graft.ops.Triangles.coPurchaseEdges(t(s, dir, "lineitem"))
      // ONE degree aggregation, reused by the orientation AND the
      // coefficient denominator (the oracle's single deg CTE)
      val deg0 = graft.ops.Triangles.degrees(e).localCheckpoint(false)
      val tc = graft.ops.Triangles
        .perNodeCounts(graft.ops.Triangles.orientByDegree(e, deg0))
      val deg = deg0.select(col("node"), col("d").as("degree"))
      deg.filter(col("degree") >= 2)
        .join(tc, Seq("node"), "left")
        .select(col("node"),
          coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
          col("degree"),
          expr("2000000 * coalesce(n_triangles, 0) div (degree * (degree - 1))")
            .as("coeff_micro"))
        .orderBy(col("coeff_micro").desc, col("n_triangles").desc, col("node"))
        .limit(20)
    },

    // ---- A21: exact weighted median — "the price point where half the
    //      shipped quantity sits below": per-distinct-value weight sums
    //      (removes tie ambiguity), ONE ordered running sum per group,
    //      smallest value whose doubled cumulative weight reaches the
    //      total. Integer weights end-to-end — no interpolation, no
    //      float accumulation. Scale note: the window input is the
    //      DISTINCT (group, value) table, bounded by the value domain —
    //      not the fact table; if that domain ever outgrows a per-group
    //      sort, the same exactness survives as a binary search over
    //      value ranges with combinable weight counts. --------------------
    "a21_weighted_median" -> Q(
      """WITH g AS (SELECT l_returnflag,
        |            CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |            CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS w
        |           FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT l_returnflag, cents, w,
        |       sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cw,
        |       sum(w) OVER (PARTITION BY l_returnflag) AS tw
        |      FROM g)
        |SELECT l_returnflag, CAST(min(cents) AS BIGINT) AS wmedian_cents
        |FROM r WHERE 2 * cw >= tw GROUP BY 1""".stripMargin) { (s, dir) =>
      val g = t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .agg(sum(round(col("l_quantity")).cast("long")).as("w"))
      val wOrd = Window.partitionBy("l_returnflag").orderBy("cents")
      val wAll = Window.partitionBy("l_returnflag")
      g.withColumn("cw", sum(col("w")).over(wOrd))
        .withColumn("tw", sum(col("w")).over(wAll))
        .filter(lit(2) * col("cw") >= col("tw"))
        .groupBy("l_returnflag")
        .agg(min(col("cents")).as("wmedian_cents"))
    },

    // ---- S16: small-file compaction — the operator that keeps a
    //      long-lived table scannable (streaming sinks and micro-batch
    //      upserts fragment it; every scan then pays a task per file).
    //      The query fragments documents into 64 tiny files, compacts to
    //      ~1 MiB targets in one round-robin shuffle, and aggregates the
    //      compacted copy — hash-matching the oracle's view of the
    //      ORIGINAL table proves the rewrite is content-exact, while the
    //      file-count require makes the compaction itself observable. ----
    "s16_compaction" -> Q(
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val frag = scratchDir("graft_s16_frag")
      val comp = scratchDir("graft_s16_comp")
      t(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(frag)
      // target scales with the input (≥ 1/8 of it) so the ≤8-file result
      // beats the 64 fragments at EVERY scale factor, not just small ones
      val fragPath = new org.apache.hadoop.fs.Path(frag)
      val fs = fragPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val fragBytes = fs.listStatus(fragPath)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .map(_.getLen).sum
      val stats = Compaction.compact(s, frag, comp,
        targetBytes = math.max(1L << 20, fragBytes / 8))
      require(stats.filesAfter < stats.filesBefore,
        s"compaction did not reduce file count: $stats")
      s.read.parquet(comp)
        .groupBy("source").agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("total_chars"))
    },

    // ---- S29: RE-CLUSTER during compaction (s16 × s14) — churn destroys
    //      BOTH properties of a well-laid-out table: file size AND
    //      clustering. A round-robin compaction fixes only the first;
    //      every post-churn scan still reads ALL files because the
    //      z-ranges scattered. compactClustered routes the same sized
    //      single-shuffle rewrite through ZOrder.layout, and the entry
    //      PROVES the layout came back via ScanPlanner: a y-range
    //      predicate prunes the fragmented copy almost nowhere, and the
    //      re-clustered compaction within one boundary-sampling file of
    //      the pre-churn z layout. Content-exactness is the s16
    //      discipline: the aggregate over the compacted copy hash-matches
    //      the oracle's view of the ORIGINAL table. ---------------------
    "s29_compact_recluster" -> Q(
      """SELECT o_orderkey % 64 AS x, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY 1""".stripMargin) { (s, dir) =>
      // y is layout-internal (never in the output or the oracle): derive
      // it from a hash so it is DENSE at every scale factor — TPC-H
      // orderkeys are sparse (8 of every 32), so a key-arithmetic y
      // leaves half the z-quadrants empty at sf0.001 and the pruning
      // proof below loses its denominator
      val base = t(s, dir, "orders").select(
        (col("o_orderkey") % 64).cast("long").as("x"),
        pmod(xxhash64(col("o_orderkey")), lit(64)).as("y"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      // 1. the well-laid-out original: 16 z-ordered files over (x, y)
      val zdir = scratchDir("graft_s29_z")
      graft.ops.ZOrder.layout(base, Seq(col("x"), col("y")), bits = 6,
          numPartitions = 16).drop("_z")
        .write.mode("overwrite").parquet(zdir)
      // 2. churn: a round-robin rewrite into 64 fragments (what a
      //    micro-batch sink leaves behind — sized wrong AND unclustered)
      val frag = scratchDir("graft_s29_frag")
      s.read.parquet(zdir).repartition(64)
        .write.mode("overwrite").parquet(frag)
      // 3. compact WITH re-clustering back to ~16 files
      val comp = scratchDir("graft_s29_comp")
      val fragPath = new org.apache.hadoop.fs.Path(frag)
      val fs = fragPath.getFileSystem(s.sparkContext.hadoopConfiguration)
      val fragBytes = fs.listStatus(fragPath)
        .filter(st => st.isFile && !st.getPath.getName.startsWith("_"))
        .map(_.getLen).sum
      val stats = Compaction.compactClustered(s, frag, comp,
        targetBytes = (fragBytes + 15) / 16,
        (df, n) => graft.ops.ZOrder.layout(df, Seq(col("x"), col("y")),
          bits = 6, numPartitions = n).drop("_z"))
      require(stats.filesAfter < stats.filesBefore,
        s"compaction did not reduce file count: $stats")
      // 4. the layout proof, via the planner the layout exists for
      def kept(d: String): (Int, Int) = {
        val fls = new java.io.File(d).listFiles()
          .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
          .sorted.toSeq
        val p = graft.sources.ScanPlanner.plan(s, fls,
          ranges = Seq(("y", 8.0, 15.0)))
        (p.keptFiles.size, p.totalFiles)
      }
      val (kZ, tZ) = kept(zdir)
      val (kF, tF) = kept(frag)
      val (kC, tC) = kept(comp)
      require(kF * 2 > tF,
        s"fragmentation should have destroyed pruning: kept $kF/$tF")
      require(kC * 2 < tC,
        s"re-clustered compaction must restore real pruning: kept $kC/$tC")
      require(kC <= kZ + 1, // one file of repartitionByRange sampling slack
        s"post-compaction reads ($kC/$tC) must match the pre-churn " +
          s"z layout ($kZ/$tZ)")
      // 5. content-exactness: aggregate the compacted copy vs the oracle
      s.read.parquet(comp)
        .groupBy("x").agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    },

    // ---- W10: event-sequence pattern (click followed by a purchase
    //      within 1 hour) — the MATCH_RECOGNIZE-shaped funnel micro-
    //      pattern a17's whole-journey funnel doesn't cover: per-event
    //      lookahead via ONE min-over-following-frame window (ordered by
    //      (ts, event_id) so peer rows are totally ordered on both
    //      engines), then a per-user rollup. µs-exact interval compare —
    //      no epoch truncation. ------------------------------------------
    "w10_sequence_pattern" -> Q(
      """WITH o AS (SELECT user_id, ts, event_type,
        |            min(CASE WHEN event_type = 'purchase' THEN ts END) OVER
        |              (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_p
        |           FROM events)
        |SELECT user_id,
        |  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT)
        |    AS n_clicks,
        |  CAST(count(CASE WHEN event_type = 'click' AND next_p IS NOT NULL
        |              AND next_p <= ts + INTERVAL 1 HOUR THEN 1 END) AS BIGINT)
        |    AS n_quick_convert
        |FROM o GROUP BY 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      t(s, dir, "events")
        .withColumn("next_p",
          min(when(col("event_type") === "purchase", col("ts"))).over(w))
        .groupBy("user_id")
        .agg(count(when(col("event_type") === "click", 1)).as("n_clicks"),
          count(when(col("event_type") === "click" && col("next_p").isNotNull &&
            col("next_p") <= col("ts") + expr("INTERVAL 1 HOUR"), 1))
            .as("n_quick_convert"))
    },

    // ---- W12: THREE-state sequence pattern (MATCH_RECOGNIZE `A B+ C`):
    //      signup → at least one view → purchase within 24 h. One
    //      window pass: per signup, the argmin-following view and
    //      purchase as (us, event_id) STRUCTS — lexicographic struct
    //      order makes the "first following" tie-safe at identical
    //      microsecond stamps, and `nv < np` proves a view strictly
    //      between (any other view is ≥ nv). w10's 2-step lookahead
    //      can't see the middle quantifier; this is the smallest shape
    //      that can. ------------------------------------------------------
    "w12_funnel_pattern" -> Q(
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us FROM events),
        |o AS (SELECT user_id, event_type, us,
        |       min(CASE WHEN event_type = 'view'
        |            THEN struct_pack(u := us, i := event_id) END) OVER w AS nv,
        |       min(CASE WHEN event_type = 'purchase'
        |            THEN struct_pack(u := us, i := event_id) END) OVER w AS np
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id,
        |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signups,
        |  CAST(count(CASE WHEN event_type = 'signup' AND np IS NOT NULL
        |              AND nv IS NOT NULL AND nv < np
        |              AND np.u <= us + 86400000000 THEN 1 END) AS BIGINT) AS n_funnels
        |FROM o GROUP BY 1""".stripMargin,
      // ansi twin: named_struct instead of struct_pack, unix_micros
      ansi = """WITH e AS (SELECT user_id, event_id, event_type,
        |            unix_micros(ts) AS us FROM events),
        |o AS (SELECT user_id, event_type, us,
        |       min(CASE WHEN event_type = 'view'
        |            THEN named_struct('u', us, 'i', event_id) END) OVER w AS nv,
        |       min(CASE WHEN event_type = 'purchase'
        |            THEN named_struct('u', us, 'i', event_id) END) OVER w AS np
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
        |                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
        |SELECT user_id,
        |  CAST(count(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signups,
        |  CAST(count(CASE WHEN event_type = 'signup' AND np IS NOT NULL
        |              AND nv IS NOT NULL AND nv < np
        |              AND np.u <= us + 86400000000 THEN 1 END) AS BIGINT) AS n_funnels
        |FROM o GROUP BY 1""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
      t(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("us"))
        .withColumn("nv", min(when(col("event_type") === "view",
          struct(col("us").as("u"), col("event_id").as("i")))).over(w))
        .withColumn("np", min(when(col("event_type") === "purchase",
          struct(col("us").as("u"), col("event_id").as("i")))).over(w))
        .groupBy("user_id")
        .agg(count(when(col("event_type") === "signup", 1)).as("n_signups"),
          count(when(col("event_type") === "signup" && col("np").isNotNull &&
            col("nv").isNotNull && col("nv") < col("np") &&
            col("np.u") <= col("us") + 86400000000L, 1)).as("n_funnels"))
    },

    // ---- S17: schema-evolution roundtrip — a long-lived corpus is
    //      written by many pipeline versions; readers must see the merged
    //      schema with nulls where an old writer had no column. Two
    //      writer generations (v2 adds n_chars), one mergeSchema read,
    //      and the aggregate proves both the union and the null-fill are
    //      exact. ---------------------------------------------------------
    "s17_schema_evolution" -> Q(
      """SELECT lang, CAST(2 * count(*) AS BIGINT) AS n_rows,
        |  CAST(count(*) AS BIGINT) AS n_with_chars,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val base = scratchDir("graft_s17")
      val d = t(s, dir, "documents")
      d.select("doc_id", "lang").write.mode("overwrite").parquet(s"$base/v1")
      d.select("doc_id", "lang", "n_chars")
        .write.mode("overwrite").parquet(s"$base/v2")
      s.read.option("mergeSchema", "true").parquet(s"$base/v1", s"$base/v2")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_rows"),
          count(col("n_chars")).as("n_with_chars"),
          sum(col("n_chars")).as("total_chars"))
    },

    // ---- S18: multi-action MERGE — WHEN MATCHED AND src.st='D' DELETE /
    //      WHEN MATCHED UPDATE (whole-row image) / WHEN NOT MATCHED
    //      INSERT, in ONE full-outer shuffle join (ops.Merge), each
    //      survivor tagged with its action. The CDC-apply kernel s8's
    //      plain upsert can't express (no delete action). Changeset is
    //      derived deterministically from orders: key%7==0 → delete,
    //      ==1 → update, ==3 → insert under a shifted key. --------------
    "s18_merge_multi" -> Q(
      """WITH t AS (SELECT o_orderkey AS k, o_orderstatus AS st,
        |                  CAST(round(o_totalprice*100) AS BIGINT) AS cents FROM orders),
        |u AS (SELECT k, 'U' AS st, cents + 555 AS cents FROM t WHERE k % 7 = 1),
        |d AS (SELECT k, 'D' AS st, CAST(0 AS BIGINT) AS cents FROM t WHERE k % 7 = 0),
        |i AS (SELECT k + 100000000 AS k, 'I' AS st, CAST(42 AS BIGINT) AS cents
        |      FROM t WHERE k % 7 = 3),
        |s AS (SELECT * FROM u UNION ALL SELECT * FROM d UNION ALL SELECT * FROM i),
        |m AS (SELECT coalesce(s.k, t.k) AS k,
        |             CASE WHEN s.k IS NOT NULL THEN s.st ELSE t.st END AS st,
        |             CASE WHEN s.k IS NOT NULL THEN s.cents ELSE t.cents END AS cents,
        |             CASE WHEN s.k IS NOT NULL AND t.k IS NOT NULL THEN 'update'
        |                  WHEN s.k IS NOT NULL THEN 'insert' ELSE 'keep' END AS action,
        |             s.st AS s_st, s.k AS sk
        |      FROM t FULL OUTER JOIN s ON t.k = s.k)
        |SELECT k, st, cents, action FROM m
        |WHERE NOT (sk IS NOT NULL AND s_st = 'D')""".stripMargin) { (s, dir) =>
      val target = t(s, dir, "orders")
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("st"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val updates = target.filter(col("k") % 7 === 1)
        .select(col("k"), lit("U").as("st"), (col("cents") + 555).as("cents"))
      val deletes = target.filter(col("k") % 7 === 0)
        .select(col("k"), lit("D").as("st"), lit(0L).as("cents"))
      val inserts = target.filter(col("k") % 7 === 3)
        .select((col("k") + 100000000L).as("k"), lit("I").as("st"),
          lit(42L).as("cents"))
      graft.ops.Merge(target,
        updates.unionByName(deletes).unionByName(inserts),
        Seq("k"), deleteWhen = col("st") === "D")
    },

    // ---- W6: unpivot (wide→long melt as a native operator) — the inverse
    //      of W1's pivot, and the first step of every wide-artifact ingest
    //      (S7 does it by hand over dynamic columns; this is the static-
    //      schema form Spark 3.4+ expresses directly). -------------------
    "w6_unpivot" -> Q(
      """SELECT p_partkey, metric, val FROM
        |  (SELECT p_partkey, cast(p_size AS DOUBLE) AS p_size, p_retailprice FROM part)
        |  UNPIVOT (val FOR metric IN (p_size, p_retailprice))""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"), col("p_size").cast("double").as("p_size"),
          col("p_retailprice"))
        .unpivot(Array(col("p_partkey")),
          Array(col("p_size"), col("p_retailprice")), "metric", "val")
    },

    // ---- U7: NOT IN with NULLs — null-aware anti join. Three-valued
    //      logic makes `x NOT IN (set)` UNKNOWN (row dropped) when x is
    //      NULL, which a plain left-anti join gets WRONG (it would keep
    //      the row); Catalyst plans the single-column case as a broadcast
    //      null-aware anti join. Same SQL text on both engines. ----------
    "u7_notin_null" -> Q(u7Text) { (s, dir) =>
      Seq("orders", "customer").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(u7Text)
    },

    // ---- J18: NULL-SAFE equi-join (<=> / IS NOT DISTINCT FROM) — the
    //      join-side complement of u7's NOT-IN three-valued logic: plain
    //      `=` silently DROPS null-keyed rows from both sides (NULL = NULL
    //      is UNKNOWN), while the null-safe operator matches them — and
    //      Catalyst still plans EqualNullSafe as a hash-join KEY, not a
    //      post-join filter, so the 100 TB shape survives. Planted NULL
    //      keys on deterministic slices; NULL×NULL lands in its own
    //      populated bucket. -------------------------------------------
    "j18_nullsafe_join" -> Q(
      """WITH a AS (SELECT CASE WHEN o_orderkey % 11 = 0 THEN NULL
        |                  ELSE o_orderstatus END AS k1
        |           FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 100 < 10),
        |b AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
        |             ELSE o_orderstatus END AS k2
        |      FROM orders WHERE o_orderkey % 2 = 1 AND o_orderkey % 100 < 10)
        |SELECT coalesce(k1, 'NULL_KEY') AS k, CAST(count(*) AS BIGINT) AS n
        |FROM a JOIN b ON a.k1 IS NOT DISTINCT FROM b.k2
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val o = t(s, dir, "orders")
      def side(par: Int, mod: Int, out: String) = o
        .filter(col("o_orderkey") % 2 === par && col("o_orderkey") % 100 < 10)
        .select(when(col("o_orderkey") % mod === 0, lit(null))
          .otherwise(col("o_orderstatus")).as(out))
      val joined = side(0, 11, "k1")
        .join(side(1, 13, "k2"), col("k1") <=> col("k2"))
      val plan = joined.queryExecution.executedPlan.toString
      require(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoop"),
        "EqualNullSafe must plan as a join KEY, not a post-join filter")
      joined.groupBy(coalesce(col("k1"), lit("NULL_KEY")).as("k"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- U8: recursive CTE (hierarchy walk, Spark 4 recursion) ---------
    "u8_recursive_cte" -> Q(u8Text) { (s, dir) =>
      t(s, dir, "documents").createOrReplaceTempView("documents")
      s.sql(u8Text)
    },

    // ---- U9: correlated scalar subquery (decorrelated to agg + join) ---
    "u9_scalar_subquery" -> Q(u9Text) { (s, dir) =>
      Seq("orders", "lineitem").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(u9Text)
    },

    // ---- J13: LATERAL top-n per outer row (decorrelated to a window) ---
    "j13_lateral_topk" -> Q(j13Text) { (s, dir) =>
      Seq("orders", "lineitem").foreach(n => t(s, dir, n).createOrReplaceTempView(n))
      s.sql(j13Text)
    },

    // ---- F21: URL parse + canonicalization — the crawl-frontier dedup
    //      prep (lowercased host, fragment dropped) the reference's page
    //      cache does implicitly by file name (crawl.py:36-45). Spark side
    //      uses native parse_url; the oracle re-derives the components
    //      with regexes. --------------------------------------------------
    "f21_url_canonicalize" -> Q(
      """WITH u AS (SELECT doc_id,
        |  'https://' || source || '.Example.COM/docs/' || doc_id ||
        |  '?lang=' || lang || '#sec' || doc_id % 5 AS url FROM documents)
        |SELECT doc_id,
        |  regexp_extract(url, '//([^/]+)/', 1) AS host,
        |  regexp_extract(url, '//[^/]+(/[^?#]*)', 1) AS path,
        |  regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
        |  'https://' || lower(regexp_extract(url, '//([^/]+)/', 1)) ||
        |    regexp_extract(url, '//[^/]+(/[^?#]*)', 1) || '?' ||
        |    regexp_extract(url, '\?([^#]*)', 1) AS canonical
        |FROM u""".stripMargin) { (s, dir) =>
      val url = concat(lit("https://"), col("source"), lit(".Example.COM/docs/"),
        col("doc_id"), lit("?lang="), col("lang"), lit("#sec"), col("doc_id") % 5)
      t(s, dir, "documents")
        .withColumn("url", url)
        .select(col("doc_id"),
          expr("parse_url(url, 'HOST')").as("host"),
          expr("parse_url(url, 'PATH')").as("path"),
          expr("parse_url(url, 'QUERY', 'lang')").as("lang_param"),
          concat(lit("https://"), lower(expr("parse_url(url, 'HOST')")),
            expr("parse_url(url, 'PATH')"), lit("?"),
            expr("parse_url(url, 'QUERY')")).as("canonical"))
    },

    // ---- S26: join-key SKEW REPORT — the measurement you run BEFORE
    //      choosing between j12 (manual salt), j21 (AQE split) and a
    //      plain shuffle: per-key counts reduced to one row (total,
    //      distinct keys, max/p50/p99 counts, hottest key, max÷mean in
    //      micro-units). Run here over the same hot-key column the skew
    //      joins exercise, so the three entries tell one story:
    //      diagnose → pick strategy → join. One combinable groupBy +
    //      a single-row rollup; only (key, count) rows shuffle. --------
    "s26_skew_report" -> Q(
      """WITH c AS (SELECT o_custkey % 10 AS k, count(*) AS n
        |           FROM orders GROUP BY 1)
        |SELECT CAST(sum(n) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(max(n) AS BIGINT) AS max_cnt,
        |       round(quantile_cont(n, 0.5), 4) AS p50_cnt,
        |       round(quantile_cont(n, 0.99), 4) AS p99_cnt,
        |       (SELECT k FROM c ORDER BY n DESC, k LIMIT 1) AS top_key,
        |       CAST(round(max(n) * 1000000.0 * count(*) / sum(n)) AS BIGINT)
        |         AS skew_ratio_micro
        |FROM c""".stripMargin) { (s, dir) =>
      graft.ops.SkewReport.keyStats(
        t(s, dir, "orders").select((col("o_custkey") % 10).as("hot_key")),
        "hot_key")
    },

    // ---- J12: salted skew join — every order lands on one of 10 hot
    //      keys by construction, the worst case for a shuffle join. The
    //      operator salts the fact side deterministically and replicates
    //      the dim ×8, so each hot key spreads over 8 reducers; results
    //      identical to the plain join (the oracle). -----------------------
    "j12_salted_skew_join" -> Q(skewJoinOracleSql) { (s, dir) =>
      val f = t(s, dir, "orders").select(col("o_orderkey"),
        (col("o_custkey") % 10).as("hot_key"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val d = t(s, dir, "nation")
        .groupBy((col("n_nationkey") % 10).as("hot_key"))
        .agg(min("n_name").as("grp"))
      SkewJoin.salted(f, d, "hot_key", salt = 8)
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    },

    // ---- J21: the AQE-native twin of j12 — the SAME hot-key corpus,
    //      skew handled by Spark's runtime OptimizeSkewedJoin instead of
    //      hand-salting: a merge hint pins the sort-merge join (keeps
    //      the tiny dim out of a broadcast and AQE from demoting), and
    //      the skew thresholds scale to corpus size so the split
    //      actually fires locally (SkewJoinSpec plan-asserts skew=true).
    //      Shares j12's oracle verbatim. SkewJoin.aqeSkewed's scaladoc
    //      records when manual salting is still required (broadcast-side
    //      skew, fixed output partitioning, non-SMJ/SHJ joins). ---------
    "j21_aqe_skew_join" -> Q(skewJoinOracleSql) { (s, dir) =>
      val ss = SkewJoin.aqeSession(s)
      val f = t(ss, dir, "orders").select(col("o_orderkey"),
        (col("o_custkey") % 10).as("hot_key"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val d = t(ss, dir, "nation")
        .groupBy((col("n_nationkey") % 10).as("hot_key"))
        .agg(min("n_name").as("grp"))
      SkewJoin.aqeSkewed(f, d, "hot_key")
        .groupBy("grp")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    },

    // ---- J22: runtime bloom-filter join pushdown, plan-ASSERTED — the
    //      selective dim filter (o_totalprice > 400k) builds a bloom the
    //      optimizer pushes into the lineitem scan as
    //      might_contain(xxhash64(l_orderkey)), so non-joining fact rows
    //      drop BEFORE the shuffle. Spark declines this silently under
    //      many conditions (10 GB app-side gate, broadcast demotion,
    //      non-selective filter) — requireInjected makes the claim fail
    //      loudly instead; BloomJoinSpec pins the decline conditions.
    //      Result is hash-green vs the plain-join oracle: the bloom is
    //      a pre-filter, never a semantics change. ----------------------
    "j22_runtime_bloom_join" -> Q(
      """SELECT l_returnflag AS flag, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_totalprice > 400000
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val ss = graft.operators.BloomJoin.bloomSession(s)
      val fact = t(ss, dir, "lineitem").select(col("l_orderkey"),
        col("l_returnflag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))
      val dim = t(ss, dir, "orders")
        .filter(col("o_totalprice") > 400000)
        .select(col("o_orderkey").as("l_orderkey"))
      graft.operators.BloomJoin.requireInjected(
          graft.operators.BloomJoin.bloomFiltered(fact, dim, "l_orderkey"))
        .groupBy(col("l_returnflag").as("flag"))
        .agg(count(lit(1)).as("n"), sum("cents").as("cents"))
    },

    // ---- J23: COST-BASED join reorder, plan-ASSERTED — the
    //      compile-time sibling of j21 (AQE skew) and j22 (runtime
    //      bloom): ANALYZE gives the catalog row counts + NDVs, and
    //      CostBasedJoinReorder pulls the selective dim (10 of 2000
    //      parts) ahead of the bulky one (orders, no reduction), so the
    //      fact-sized intermediate shrinks at step ONE. Written
    //      syntactically in the WRONG order; requireReordered asserts
    //      the stats plan flipped AND the un-analyzed twin star did not
    //      (the flip is attributable to statistics alone — the j22
    //      requireInjected discipline applied to compile-time stats).
    //      CboReorderSpec pins the decline conditions: cbo.enabled off,
    //      any single un-analyzed side. Hash-green vs plain SQL: a
    //      reorder is a plan change, never a semantics change. ---------
    "j23_cbo_reorder" -> Q(
      """SELECT CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_cust
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE p.p_partkey % 20 = 0""".stripMargin) { (s, dir) =>
      val l = t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_extendedprice")
      val o = t(s, dir, "orders").select("o_orderkey", "o_custkey")
      val p = t(s, dir, "part")
        .filter(col("p_partkey") % 20 === 0).select("p_partkey")
      for ((df, name) <- Seq((l, "g_cbo_lineitem"), (o, "g_cbo_orders"),
          (p, "g_cbo_part20"))) {
        df.write.mode("overwrite").saveAsTable(name)
        df.write.mode("overwrite").saveAsTable(name + "_ns") // never ANALYZEd
      }
      s.sql("ANALYZE TABLE g_cbo_lineitem COMPUTE STATISTICS FOR COLUMNS l_orderkey, l_partkey")
      s.sql("ANALYZE TABLE g_cbo_orders COMPUTE STATISTICS FOR COLUMNS o_orderkey")
      s.sql("ANALYZE TABLE g_cbo_part20 COMPUTE STATISTICS FOR COLUMNS p_partkey")
      val ss = graft.operators.CboReorder.cboSession(s)
      def star(suffix: String) = ss.sql(
        s"""SELECT count(*) AS n,
           |       sum(cast(round(l_extendedprice * 100) AS BIGINT)) AS cents,
           |       count(DISTINCT o_custkey) AS n_cust
           |FROM g_cbo_lineitem$suffix l
           |JOIN g_cbo_orders$suffix o ON l.l_orderkey = o.o_orderkey
           |JOIN g_cbo_part20$suffix p ON l.l_partkey = p.p_partkey""".stripMargin)
      graft.operators.CboReorder.requireReordered(star(""), star("_ns"),
        selective = "g_cbo_part20", bulky = "g_cbo_orders")
    },

    // ---- S13: snapshot diff (CDC change-set extraction) — old and new
    //      versions are simulated from orders: every 10th key deleted,
    //      every (10k+1)th inserted, every 7th status rewritten. Output is
    //      bounded by churn, not table size. -----------------------------
    "s13_snapshot_diff" -> Q(
      """WITH o AS (SELECT o_orderkey AS k, o_orderstatus AS v FROM orders
        |           WHERE o_orderkey % 10 <> 0),
        |n AS (SELECT o_orderkey AS k,
        |       CASE WHEN o_orderkey % 7 = 0 THEN 'Z' ELSE o_orderstatus END AS v
        |      FROM orders WHERE o_orderkey % 10 <> 1)
        |SELECT coalesce(o.k, n.k) AS k,
        |       CASE WHEN o.k IS NULL THEN 'I' WHEN n.k IS NULL THEN 'D'
        |            ELSE 'U' END AS op,
        |       o.v AS old_v, n.v AS new_v
        |FROM o FULL JOIN n ON o.k = n.k
        |WHERE o.k IS NULL OR n.k IS NULL OR o.v <> n.v""".stripMargin) { (s, dir) =>
      val orders = t(s, dir, "orders")
      val oldSnap = orders.where(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("v"))
      val newSnap = orders.where(col("o_orderkey") % 10 =!= 1)
        .select(col("o_orderkey").as("k"),
          when(col("o_orderkey") % 7 === 0, "Z")
            .otherwise(col("o_orderstatus")).as("v"))
      graft.ops.SnapshotDiff.diff(oldSnap, newSnap, Seq("k"))
    },

    // ---- S15: SCD2 history build — fold the event change log into
    //      per-user validity intervals (one row per run of consecutive
    //      equal event_type, half-open [valid_from, valid_to), open run
    //      flagged current). One key shuffle: run starts via lag, bounds
    //      via lead over the same sort; no groupBy. --------------------
    "s15_scd2_history" -> Q(
      """WITH o AS (SELECT user_id, ts, event_id, event_type,
        |            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
        |            row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |           FROM events),
        |r AS (SELECT user_id, event_type, ts, event_id FROM o
        |      WHERE rn = 1 OR prev IS DISTINCT FROM event_type),
        |v AS (SELECT user_id, event_type, ts AS valid_from,
        |       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
        |      FROM r)
        |SELECT user_id, event_type,
        |  strftime(valid_from, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(valid_to, '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  valid_to IS NULL AS is_current
        |FROM v""".stripMargin) { (s, dir) =>
      graft.ops.Scd2.history(t(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type")
        .select(col("user_id"), col("event_type"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current"))
    },

    // ---- S12: ORC sink + source roundtrip — the second columnar
    //      interchange format; schema preserved, values exact. Oracle =
    //      the source-of-truth table. ------------------------------------
    "s12_orc_roundtrip" -> Q(
      """SELECT doc_id, text, lang, source FROM documents""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("graft_s12")
      t(s, dir, "documents").select("doc_id", "text", "lang", "source")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
    },

    // ---- S20: XML roundtrip — Spark 4's built-in XML source (rowTag
    //      shredding), proven by full-text byte equality: the aggregate
    //      compares doc counts AND summed text lengths against the
    //      parquet original, so entity escaping must round-trip every
    //      character. The oracle never sees the XML (DuckDB has no XML
    //      reader) — it reads the same rows from parquet, which is
    //      exactly the roundtrip contract. ------------------------------
    "s20_xml_roundtrip" -> Q(
      """SELECT lang, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
        |       CAST(sum(n_chars) AS BIGINT) AS total_claimed
        |FROM documents GROUP BY 1""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("graft_s20")
      t(s, dir, "documents").select("doc_id", "text", "lang", "n_chars")
        .write.mode("overwrite").option("rowTag", "doc").xml(tmp)
      s.read.option("rowTag", "doc").xml(tmp)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(length(col("text"))).as("total_chars"),
          sum(col("n_chars")).as("total_claimed"))
    },

    // ---- S21: malformed-record ingest — PERMISSIVE CSV parsing with a
    //      corrupt-record column: bad rows (planted type errors on a
    //      deterministic key slice) surface as data instead of killing
    //      the job, the quarantine contract a 100 TB ingest needs (one
    //      bad line in a billion must not fail the batch). The corrupt
    //      rows are COUNTED, proving they were captured, not dropped.
    //      Spark requires materializing before filtering on only the
    //      corrupt column — hence the cache(). The oracle replays the
    //      planted corruption from the parquet original. ----------------
    // ---- S22: single-pass pipeline metrics via the Observation API ----
    //      Production observability: row counts / quality tallies /
    //      exact cents totals collected DURING the pass that does the
    //      real work (here: a filtered projection written to parquet) —
    //      at 100 TB a metrics-by-second-scan doubles the read bill,
    //      and a sampled metric lies; observe() rides the existing scan
    //      for free. The observed values are exact integer aggregates,
    //      so the 1-row result hash-checks against a plain SQL replay.
    //      ObservationSpec asserts the single-scan property on the plan.
    // ---- S24: parquet footer statistics as a queryable ZONE MAP ------
    //      per-row-group, per-column min/max/null-count harvested from
    //      footers alone (KBs per file, never a data scan) — the
    //      data-skipping index a 100 TB layout audit plans against.
    //      Footer parsing runs distributed over the file list; the
    //      single-file, single-row-group local tables make every
    //      harvested number SQL-replayable (count/min/max per column).
    //      The pruning CONSUMER (files surviving a range predicate) is
    //      asserted against real multi-file layouts in FooterStatsSpec.
    // ---- S25: parquet BLOOM-FILTER point-lookup pruning — the zone
    //      map's sibling for `key = x` on an UNCLUSTERED column, where
    //      min/max can never prune (every row group spans the domain).
    //      The layout is written with parquet.bloom.filter.enabled on
    //      the key, the probe reads footers + bloom headers only (never
    //      data), and the exact-confirm semi-join removes bloom false
    //      positives — so `present` equals true membership and the
    //      whole index path runs under an exact EXISTS oracle. No false
    //      negatives is the load-bearing property (a pruned key must be
    //      PROVABLY absent); FooterStatsSpec pins it plus the
    //      no-bloom⇒cannot-rule-out and multi-row-group OR semantics. --
    // ---- S27: the scan PLANNER the s14/s24/s25 index pieces compose
    //      into — a range-clustered layout (8 files over o_orderkey,
    //      blooms on o_custkey), a conjunctive predicate, and a plan
    //      that consults zone maps + blooms from FOOTER reads alone,
    //      then scans ONLY the surviving files. The entry hash-checks
    //      the pruned scan against the straight SQL over the unpruned
    //      table (pruning must be invisible to results) and self-asserts
    //      files-read < total (the layout makes ≥ 1 pruned file a
    //      guarantee, not a hope); ScanPlannerSpec pins the per-index
    //      file sets, the completeness contract, and the metrics. ------
    "s27_pruned_scan" -> Q(
      """SELECT o_orderkey, o_custkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |FROM orders
        |WHERE o_orderkey BETWEEN 2000 AND 3500
        |  AND (o_custkey BETWEEN 1 AND 50 OR o_custkey = 9999999)""".stripMargin) { (s, dir) =>
      val scratch = scratchDir("graft_s27")
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .repartitionByRange(8, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_custkey", "true")
        .parquet(scratch)
      val files = new java.io.File(scratch).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .sorted.toSeq
      val keys = (1L to 50L) :+ 9999999L // the absent key exercises the prune-to-nothing path
      // o_orderkey is DENSE (0..N−1) in this corpus, so the range width
      // is the coverage: 1,500 keys = 10% of sf0.01's keyspace (1% at
      // sf0.1) spans at most 1 interior + 2 boundary files of the 8 —
      // the require can only fire on a real pruning failure, not on a
      // sampled partition boundary straddling the range edge (the
      // [2000, 20000] first cut covered 87% at sf0.01 and kept 7 or 8
      // files depending on where file 0's sampled boundary fell).
      val plan = graft.sources.ScanPlanner.plan(s, files,
        ranges = Seq(("o_orderkey", 2000.0, 3500.0)),
        point = Some(("o_custkey", keys)))
      require(plan.keptFiles.size < plan.totalFiles,
        s"range-clustered layout must prune: kept ${plan.keptFiles.size}/${plan.totalFiles}")
      graft.sources.ScanPlanner.scan(s, plan, files)
        .filter(col("o_orderkey").between(2000L, 3500L) &&
          (col("o_custkey").between(1L, 50L) || col("o_custkey") === 9999999L))
        .select(col("o_orderkey"), col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
    },

    // ---- S28: s27's STRING-point twin — the planner composing a range
    //      leg with a STRING-keyed bloom probe. Spark writes StringType
    //      as BINARY+UTF8 and the writer's bloom hashed each value's
    //      UTF-8 bytes, so probing the key's own bytes is writer-exact
    //      (FooterStats.bloomProbeByFileString); annotations that store
    //      non-string bytes degrade to cannot-rule-out, keeping the
    //      plan lossless. c_name is unique per row — the high-cardinality
    //      unclustered shape where min/max can never prune but blooms
    //      can. Hash-checked against straight SQL; self-asserts pruning
    //      (the range leg alone guarantees it on this dense keyspace). --
    "s28_pruned_scan_string" -> Q(
      """SELECT c_custkey, c_name, c_mktsegment
        |FROM customer
        |WHERE c_custkey BETWEEN 200 AND 500
        |  AND c_name IN ('Customer#000000250', 'Customer#000000321',
        |                 'Customer#999999999')""".stripMargin) { (s, dir) =>
      val scratch = scratchDir("graft_s28")
      t(s, dir, "customer").select("c_custkey", "c_name", "c_mktsegment")
        .repartitionByRange(8, col("c_custkey"))
        .sortWithinPartitions("c_custkey")
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#c_name", "true")
        .parquet(scratch)
      val files = new java.io.File(scratch).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
        .sorted.toSeq
      val names = Seq("Customer#000000250", "Customer#000000321",
        "Customer#999999999") // the absent name exercises prune-to-nothing
      val plan = graft.sources.ScanPlanner.plan(s, files,
        ranges = Seq(("c_custkey", 200.0, 500.0)),
        pointString = Some(("c_name", names)))
      require(plan.keptFiles.size < plan.totalFiles,
        s"range-clustered layout must prune: kept ${plan.keptFiles.size}/${plan.totalFiles}")
      graft.sources.ScanPlanner.scan(s, plan, files)
        .filter(col("c_custkey").between(200L, 500L) &&
          col("c_name").isin(names: _*))
        .select("c_custkey", "c_name", "c_mktsegment")
    },

    "s25_bloom_filter_probe" -> Q(
      """SELECT u.k AS probe_key,
        |       EXISTS(SELECT 1 FROM orders o WHERE o.o_orderkey = u.k) AS present
        |FROM unnest(generate_series(1, 400)) AS u(k)""".stripMargin) { (s, dir) =>
      val scratch = scratchDir("graft_s25")
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .coalesce(4)
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#o_orderkey", "true")
        .parquet(scratch)
      val files = new java.io.File(scratch).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
      val probes = s.range(1, 401).select(col("id").as("probe_key"))
      val might = graft.sources.FooterStats
        .bloomProbe(s, files, "o_orderkey", 1L to 400L)
      val confirmed = might.filter(col("might_contain")).select("probe_key")
        .join(s.read.parquet(scratch).select(col("o_orderkey").as("probe_key")),
          Seq("probe_key"), "left_semi")
        .withColumn("present", lit(true))
      probes.join(confirmed, Seq("probe_key"), "left")
        .select(col("probe_key"),
          coalesce(col("present"), lit(false)).as("present"))
    },

    "s24_footer_stats" -> Q(
      """SELECT 'orders.parquet' AS file, CAST(0 AS INT) AS row_group,
        |       'o_orderkey' AS column_name,
        |       CAST(count(*) AS BIGINT) AS n_values,
        |       CAST(count(*) - count(o_orderkey) AS BIGINT) AS n_nulls,
        |       CAST(min(o_orderkey) AS DOUBLE) AS min_val,
        |       CAST(max(o_orderkey) AS DOUBLE) AS max_val
        |FROM orders
        |UNION ALL
        |SELECT 'orders.parquet', CAST(0 AS INT), 'o_custkey',
        |       CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(o_custkey) AS BIGINT),
        |       CAST(min(o_custkey) AS DOUBLE), CAST(max(o_custkey) AS DOUBLE)
        |FROM orders
        |UNION ALL
        |SELECT 'orders.parquet', CAST(0 AS INT), 'o_totalprice',
        |       CAST(count(*) AS BIGINT),
        |       CAST(count(*) - count(o_totalprice) AS BIGINT),
        |       CAST(min(o_totalprice) AS DOUBLE), CAST(max(o_totalprice) AS DOUBLE)
        |FROM orders""".stripMargin) { (s, dir) =>
      graft.sources.FooterStats.zoneMap(s, Seq(s"$dir/orders.parquet"))
    },

    "s22_observed_metrics" -> Q(
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        |       CAST(count(CASE WHEN l_quantity > 25 THEN 1 END) AS BIGINT) AS n_big,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM lineitem WHERE l_discount > 0.02""".stripMargin) { (s, dir) =>
      import s.implicits._
      val obs = org.apache.spark.sql.Observation(
        s"s22_${java.util.UUID.randomUUID().toString.take(8)}")
      val work = t(s, dir, "lineitem")
        .filter(col("l_discount") > 0.02)
        .observe(obs,
          count(lit(1)).as("n_rows"),
          count(when(col("l_quantity") > 25, 1)).as("n_big"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("cents"))
        .select("l_orderkey", "l_quantity", "l_extendedprice")
      // the real consumer: one pass to parquet; metrics ride along
      val out = graft.Scratch.dir("graft_s22_")
      work.write.mode("overwrite").parquet(out)
      val m = obs.get
      Seq((m("n_rows").asInstanceOf[Long], m("n_big").asInstanceOf[Long],
        m("cents").asInstanceOf[Long]))
        .toDF("n_rows", "n_big", "cents")
    },

    "s21_csv_malformed" -> Q(
      """WITH t AS (SELECT o_orderkey AS k, CAST(round(o_totalprice*100) AS BIGINT) AS cents
        |           FROM orders)
        |SELECT CAST(count(CASE WHEN k % 97 <> 0 THEN 1 END) AS BIGINT) AS n_good,
        |       CAST(count(CASE WHEN k % 97 = 0 THEN 1 END) AS BIGINT) AS n_corrupt,
        |       CAST(sum(CASE WHEN k % 97 <> 0 THEN cents END) AS BIGINT) AS cents_good
        |FROM t""".stripMargin) { (s, dir) =>
      val tmp = scratchDir("graft_s21")
      t(s, dir, "orders")
        .select(when(col("o_orderkey") % 97 === 0,
          concat(col("o_orderkey"), lit(",NOTANUMBER")))
          .otherwise(concat(col("o_orderkey"), lit(","),
            round(col("o_totalprice") * 100).cast("long"))).as("value"))
        .write.mode("overwrite").text(tmp)
      val parsed = s.read
        .schema("k LONG, cents LONG, _corrupt STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(tmp)
        .cache()
      try
        parsed.agg(
          count(when(col("_corrupt").isNull, 1)).as("n_good"),
          count(when(col("_corrupt").isNotNull, 1)).as("n_corrupt"),
          sum(when(col("_corrupt").isNull, col("cents"))).as("cents_good"))
          .select("n_good", "n_corrupt", "cents_good")
          .localCheckpoint(true) // settle before unpersist
      finally parsed.unpersist()
    },

    // ---- F22: VARIANT semi-structured type (Spark 4) — the open-schema
    //      path f18's from_json(struct) can't express: parse_json keeps
    //      the full value as the binary VARIANT encoding (no schema
    //      declared, unknown fields preserved), variant_get extracts
    //      typed paths, try_variant_get yields NULL on absent paths
    //      instead of failing. The oracle replays the SEMANTICS via
    //      DuckDB's JSON path functions — the engines' storage differs,
    //      the answers must not. ----------------------------------------
    "f22_variant_extract" -> Q(
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       CAST(count(*) AS BIGINT) AS n_missing_null
        |FROM events GROUP BY 1""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"), parse_json(col("props")).as("v"))
        .select(col("event_type"),
          variant_get(col("v"), "$.k", "bigint").as("_k"),
          try_variant_get(col("v"), "$.no_such_field", "bigint").as("_m"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("_k")).as("sum_k"),
          count(when(col("_m").isNull, 1)).as("n_missing_null"))
    },

    // ---- F24: error-safe arithmetic (try_*) — the ANSI-mode escape
    //      hatches a pipeline uses where one malformed row must not kill
    //      a 100 TB job: try_divide (÷0 → NULL), try_multiply (BIGINT
    //      overflow → NULL), try_cast (malformed string → NULL),
    //      try_element_at (out-of-bounds → NULL; index 0 still THROWS —
    //      invalid, not out-of-bounds — so indexes here stay nonzero).
    //      The oracle states each expected OUTPUT via CASE, so it pins
    //      the null-on-error contract rather than replaying the error. --
    "f24_try_arith" -> Q(
      """SELECT o_orderkey AS k,
        |  CASE WHEN o_orderkey % 3 = 0 THEN NULL
        |       ELSE round(CAST(round(o_totalprice * 100) AS BIGINT)
        |                  / (o_orderkey % 3), 6) END AS d,
        |  CASE WHEN o_orderkey % 2 = 0 THEN NULL
        |       ELSE 9223372036854775807 END AS ovf,
        |  TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS pri,
        |  TRY_CAST(o_orderstatus AS INT) AS bad,
        |  CASE o_orderkey % 3 WHEN 0 THEN 20 WHEN 1 THEN 30
        |       ELSE NULL END AS elem
        |FROM orders""".stripMargin) { (s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey").as("k"),
        round(expr(
          "try_divide(cast(round(o_totalprice * 100) as bigint), o_orderkey % 3)"),
          6).as("d"),
        expr("try_multiply(9223372036854775807L, " +
          "CASE WHEN o_orderkey % 2 = 0 THEN 2L ELSE 1L END)").as("ovf"),
        expr("try_cast(substr(o_orderpriority, 1, 1) AS INT)").as("pri"),
        expr("try_cast(o_orderstatus AS INT)").as("bad"),
        expr("try_element_at(array(10, 20, 30), " +
          "cast(o_orderkey % 3 + 2 as int))").as("elem"))
    },

    // ---- F26: content-addressed document identity — sha256/md5 of the
    //      text as the STABLE id an ingest mints (position- and
    //      arrival-order-free, so re-crawls and shard moves never change
    //      a document's identity, and exact dedup becomes an id
    //      equality). The distinct-digest count doubling as an exact
    //      dedup cross-check against d1. --------------------------------
    "f26_content_id" -> Q(
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |       CAST(count(DISTINCT sha256(text)) AS BIGINT) AS n_distinct_sha,
        |       CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_md5,
        |       min(sha256(text)) AS min_sha, min(md5(text)) AS min_md5
        |FROM documents""".stripMargin) { (s, dir) =>
      t(s, dir, "documents").agg(
        count(lit(1)).as("n_docs"),
        count_distinct(sha2(col("text"), 256)).as("n_distinct_sha"),
        count_distinct(md5(col("text"))).as("n_distinct_md5"),
        min(sha2(col("text"), 256)).as("min_sha"),
        min(md5(col("text"))).as("min_md5"))
    },

    // ---- F23: COLLATED equality (Spark 4 collations) — case-insensitive
    //      join/group as a first-class COLLATION instead of lower()
    //      normalization: the join key carries UTF8_LCASE, Catalyst plans
    //      it as an ordinary equi-join (plan-asserted in CollationSpec —
    //      no BNL, no normalization wrapper the user must remember at
    //      every callsite), and at 100 TB the collation travels with the
    //      column while a forgotten lower() silently drops rows. Mixed
    //      case is constructed deterministically (even keys UPPER, odd
    //      lower); output keys are the lowercase dim values, so the
    //      result is representative-free. Oracle replays the SEMANTICS
    //      via lower() equality — engines' collation machinery differs,
    //      the answers must not. ---------------------------------------
    "f23_collated_join" -> Q(
      """WITH c AS (SELECT c_custkey,
        |            CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
        |                 ELSE lower(c_mktsegment) END AS seg FROM customer),
        |d AS (SELECT DISTINCT lower(c_mktsegment) AS segment FROM customer)
        |SELECT segment, CAST(count(*) AS BIGINT) AS n
        |FROM c JOIN d ON lower(c.seg) = d.segment
        |GROUP BY 1""".stripMargin) { (s, dir) =>
      val cust = t(s, dir, "customer")
      val mixed = cust.select(col("c_custkey"),
        when(col("c_custkey") % 2 === 0, upper(col("c_mktsegment")))
          .otherwise(lower(col("c_mktsegment"))).as("seg"))
      val dim = cust.select(lower(col("c_mktsegment")).as("segment")).distinct()
      mixed.join(dim,
        collate(col("seg"), "UTF8_LCASE") ===
          collate(col("segment"), "UTF8_LCASE"))
        .groupBy("segment")
        .agg(count(lit(1)).as("n"))
    },

    // ---- F18: semi-structured JSON extraction (events.props) -----------
    "f18_json_extract" -> Q(
      """SELECT user_id,
        |       cast(sum(cast(json_extract(props, '$.k') AS BIGINT)) AS bigint) AS sum_k,
        |       count(*) AS n
        |FROM events GROUP BY user_id""".stripMargin) { (s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("_k"))
        .groupBy("user_id")
        .agg(sum(col("_k")).as("sum_k"), count(lit(1)).as("n"))
    },

    // ---- F19 / UDTF shape: generator — explode of an array-producing
    //      extraction (the §2.10 pattern for the reference's HTML-row
    //      parsers: scalar extract returning arrays + explode) ----------
    "f19_generator_extract" -> Q(
      """SELECT tok, count(*) AS n
        |FROM (SELECT unnest(regexp_extract_all(text, 'data|table|stream|spark')) AS tok
        |      FROM documents)
        |GROUP BY tok""".stripMargin) { (s, dir) =>
      t(s, dir, "documents")
        .select(explode(expr(
          "regexp_extract_all(text, 'data|table|stream|spark', 0)")).as("tok"))
        .groupBy("tok")
        .agg(count(lit(1)).as("n"))
    },

    // ---- F3: advanced decapitalization (crawl.py:223-243) --------------
    //      ALL-CAPS path hash-checked here; the McRAE mixed-case state
    //      machine is covered against reference cases in NamesSpec.
    "f3_decapitalize" -> Q(
      """SELECT p_partkey,
        |       array_to_string(list_transform(string_split(upper(p_name), ' '),
        |         w -> upper(w[1]) || lower(w[2:])), ' ') AS decap
        |FROM part""".stripMargin,
      // ansi twin: DuckDB's open-ended string slice w[2:] has no single
      // Spark equivalent (substring for strings, slice for arrays — the
      // translator can't know the type), so spell the substrings out
      ansi = """SELECT p_partkey,
        |       array_join(transform(split(upper(p_name), ' '),
        |         w -> upper(substring(w, 1, 1)) || lower(substring(w, 2))), ' ') AS decap
        |FROM part""".stripMargin) { (s, dir) =>
      t(s, dir, "part")
        .select(col("p_partkey"),
          NameUdfs.advancedDecap(upper(col("p_name"))).as("decap"))
    },

    // ---- F4: name parsing — space form and "Last, First Suffix" comma
    //      form (crawl.py:246-261). Oracle mirrors Name.parse structurally
    //      for the space form (last1 = LAST token, not token 2) so it stays
    //      equivalent if the generator ever emits 3+-word names; last2 is
    //      token 2 on both sides by construction (the comma form is built
    //      from w2). Remaining data contract: suffix-free tokens (a
    //      trailing "Jr."-like token would be parsed as suffix on the
    //      Spark side only).
    "f4_parse_name" -> Q(
      """SELECT p_partkey,
        |       split_part(p_name, ' ', 1) AS first1,
        |       list_extract(string_split(p_name, ' '),
        |                    len(string_split(p_name, ' '))) AS last1,
        |       split_part(p_name, ' ', 1) AS first2,
        |       split_part(p_name, ' ', 2) AS last2,
        |       'Jr.' AS suffix2
        |FROM part""".stripMargin) { (s, dir) =>
      val w1 = expr("split_part(p_name, ' ', 1)")
      val w2 = expr("split_part(p_name, ' ', 2)")
      val spaceForm = NameUdfs.parseName(col("p_name"))
      val commaForm = NameUdfs.parseName(concat(w2, lit(", "), w1, lit(" Jr.")))
      t(s, dir, "part")
        .select(col("p_partkey"),
          spaceForm.getField("_1").as("first1"), spaceForm.getField("_3").as("last1"),
          commaForm.getField("_1").as("first2"), commaForm.getField("_3").as("last2"),
          commaForm.getField("_4").as("suffix2"))
    },

    // ---- F7+F10: fuzzy name equality with initial resolution
    //      ("s." matches "small"; merged name keeps the long form,
    //       names.py:52-67, names.py:96-149) -----------------------------
    "f10_same_name_initial" -> Q(
      """SELECT p_partkey,
        |       split_part(p_name, ' ', 1) AS first,
        |       split_part(p_name, ' ', 2) AS last
        |FROM part""".stripMargin) { (s, dir) =>
      val w1 = expr("split_part(p_name, ' ', 1)")
      val w2 = expr("split_part(p_name, ' ', 2)")
      val merged = NameUdfs.isSameName(
        w1, lit(""), w2, lit(""),
        concat(substring(w1, 1, 1), lit(".")), lit(""), w2, lit(""),
        lit(true))
      t(s, dir, "part")
        .select(col("p_partkey"),
          merged.getField("_1").as("first"), merged.getField("_3").as("last"))
    }
  )
}
