package graft.queries

import graft.QueryDef
import graft.QueryDef.t
import graft.engine.Session
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Behavioral-analytics + data-quality wave: sketch-pruned heavy hitters,
  * statistical anomaly flagging, SCD-2 history construction, funnel and
  * cohort-retention analysis, bounded-edit-distance fuzzy matching, and a
  * BPE-style regex pre-tokenizer. None of these exist in the reference
  * (SURVEY.md §2.4/§2.6 note the absence of any analytics surface); they
  * are the operations a training-data/product pipeline runs daily, each
  * declared Spark-first and DuckDB-oracle-checked.
  *
  * Event timestamps: the driver's events.parquet carries TIMESTAMP(NANOS),
  * which Spark reads as epoch-nano longs (`nanosAsLong`) and DuckDB as a
  * micros-grain timestamp. Every cross-engine-compared time value is
  * therefore computed in integer MICROS via `ts div 1000` / `epoch_us(ts)`
  * (never FP division: epoch nanos overflow double precision).
  */
object Analytics {

  /** Frozen BPE merge rules for q_bpe_train's late-bound oracle: the
    * query fn deposits what it trained; the renderer replays each rule
    * as one non-overlapping `replace` over a bracket-encoded
    * segmentation (`[c][h]...` — brackets cannot occur in the corpus
    * charset, and the per-symbol wrapping means adjacent matches never
    * share delimiter characters, so replace-all IS the greedy
    * left-to-right pass).
    */
  private[queries] object BpeState {
    @volatile private var merges: Option[Seq[(String, String)]] = None

    def freeze(ms: Seq[(String, String)]): Unit = merges = Some(ms)

    private def q(s: String): String = s.replace("'", "''")

    def oracleSql: Option[String] = merges.map { ms =>
      // (?s): '.' must wrap a newline symbol too — the punctuation class
      // of the pre-tokenizer admits one. (Non-BMP codepoints would still
      // diverge — Spark symbols are UTF-16 units, RE2's '.' a codepoint —
      // a documented charset contract the synthetic corpus satisfies.)
      val seg = ms.foldLeft("regexp_replace(w, '(?s)(.)', '[\\1]', 'g')") {
        case (acc, (l, r)) =>
          s"replace($acc, '[${q(l)}][${q(r)}]', '[${q(l + r)}]')"
      }
      s"""WITH words AS (
         |  SELECT unnest(regexp_extract_all(text,
         |    '${graft.operators.Bpe.PreTokenRegex}')) AS w
         |  FROM documents),
         |segs AS (SELECT $seg AS seg FROM words),
         |toks AS (SELECT unnest(string_split(
         |  substring(seg, 2, length(seg) - 2), '][')) AS tok FROM segs)
         |SELECT tok, CAST(count(*) AS BIGINT) AS n
         |FROM toks GROUP BY 1 ORDER BY n DESC, tok LIMIT 40""".stripMargin
    }
  }

  // Declared before `defs` (a forward val reference is 0 at object init).
  private val KCoreK = 9
  private val KCoreRounds = 8

  // EWMA ladder: α=0.25 ⇒ weights (1−α)^d; 0.75 is binary-exact, so its
  // powers through d=15 are too (≤30 significand bits), and Double's
  // shortest round-trip toString re-parses to the identical bits in
  // DuckDB — the rendered SQL literals ARE the Spark constants.
  private val EwmaH = 16
  private val EwmaW: IndexedSeq[Double] = IndexedSeq.tabulate(EwmaH)(d => math.pow(0.75, d))

  val defs: Seq[QueryDef] = Seq(
    // ------------------------------------------------------------------
    // Heavy hitters with count-min-sketch pruning. The 100 TB shape: ONE
    // pass folds the corpus into a fixed-size CMS (mergeable partial
    // sketches, no shuffle of raw keys); the sketch — a few KB regardless
    // of corpus size — is then BROADCAST and probed on the executors, so
    // the key dictionary (the distinct user ids) is filtered where it
    // lives and never collect()ed to the driver. Only the (few, by
    // definition) candidate heavy hitters surface, and they prune the
    // exact count via a broadcast semi-join. CMS never underestimates, so
    // candidates ⊇ true heavy hitters and the exact HAVING filter restores
    // exactness — the oracle is the plain GROUP BY ... HAVING, blind to
    // the sketch.
    QueryDef(
      "q_heavy_hitters",
      (s, dir) => {
        val ev = Session.table(s, dir, "events")
        val threshold = 75L
        val cms = ev.stat.countMinSketch(
          "user_id", eps = 0.001, confidence = 0.99, seed = 42)
        val cmsBc = s.sparkContext.broadcast(cms)
        val probe = udf((u: Long) => cmsBc.value.estimateCount(u) >= threshold)
        val candidates = ev.select("user_id").distinct()
          .filter(probe(col("user_id")))
        ev.join(broadcast(candidates), Seq("user_id"), "left_semi")
          .groupBy("user_id")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= threshold)
      },
      Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n
             |FROM events GROUP BY 1 HAVING count(*) >= 75""".stripMargin),
      covers = Seq("ext-heavy-hitters")),

    // ------------------------------------------------------------------
    // Count-min sketch as DISTRIBUTED, MERGEABLE aggregate state — the
    // complement to q_heavy_hitters' opaque broadcast sketch. The cells
    // ARE rows ((row, bucket) -> count), so construction is an ordinary
    // groupBy whose map-side partial agg collapses every task to <= d*w
    // cells: the shuffle carries the SKETCH (192 cells here), never the
    // key dictionary — at 10^9 distinct keys the exact groupBy shuffles
    // 10^9 rows, this shuffles KBs. Merging deltas is elementwise SUM
    // (the ViewMaintenance pattern: a CMS view maintains incrementally
    // by adding cell frames), and probing is a broadcast join of the
    // tiny cell frame. The hash family is integer affine mod a Mersenne
    // prime — engine-agnostic arithmetic, so the DuckDB oracle rebuilds
    // the IDENTICAL sketch and the estimates hash-match exactly. CMS
    // never underestimates (min over d rows of bucket sums); estimates
    // are exact for any key collision-free in >= 1 row.
    QueryDef(
      "q_cms_freq",
      (s, dir) => {
        import org.apache.spark.sql.Column
        val li = Session.table(s, dir, "lineitem")
        val sup = Session.table(s, dir, "supplier")
        val MersenneP = 2147483647L
        val W = 64
        val hashes = Seq((0, 911382323L, 1L), (1, 972663749L, 7L), (2, 123456791L, 13L))
        def lanes(k: Column) = explode(array(hashes.map { case (i, a, b) =>
          struct(lit(i).as("i"),
            ((lit(a) * k + lit(b)) % MersenneP % W).as("bkt"))
        }: _*)).as("c")
        val cells = li.select(lanes(col("l_suppkey")))
          .groupBy(col("c.i").as("i"), col("c.bkt").as("bkt"))
          .agg(count(lit(1)).as("cnt"))
        sup.select(col("s_suppkey"), lanes(col("s_suppkey")))
          .select(col("s_suppkey"), col("c.i").as("i"), col("c.bkt").as("bkt"))
          .join(broadcast(cells), Seq("i", "bkt"), "left")
          .groupBy("s_suppkey")
          .agg(min(coalesce(col("cnt"), lit(0L))).as("est_n"))
      },
      Some("""WITH params(i, a, b) AS (VALUES
             |    (0, CAST(911382323 AS BIGINT), CAST(1 AS BIGINT)),
             |    (1, CAST(972663749 AS BIGINT), CAST(7 AS BIGINT)),
             |    (2, CAST(123456791 AS BIGINT), CAST(13 AS BIGINT))),
             |cells AS (
             |  SELECT p.i, ((p.a * l.l_suppkey + p.b) % 2147483647) % 64 AS bkt,
             |         CAST(count(*) AS BIGINT) AS cnt
             |  FROM lineitem l CROSS JOIN params p GROUP BY 1, 2),
             |probes AS (
             |  SELECT s.s_suppkey, p.i,
             |         ((p.a * s.s_suppkey + p.b) % 2147483647) % 64 AS bkt
             |  FROM supplier s CROSS JOIN params p)
             |SELECT pr.s_suppkey, MIN(COALESCE(c.cnt, 0)) AS est_n
             |FROM probes pr LEFT JOIN cells c ON c.i = pr.i AND c.bkt = pr.bkt
             |GROUP BY 1""".stripMargin),
      covers = Seq("ext-cms-freq")),

    // ------------------------------------------------------------------
    // Z-score anomaly flagging: per-type mean/stddev, events beyond 3σ.
    // The stats are rounded to 6 decimals BEFORE the z computation so both
    // engines derive z from bit-identical inputs — the filter line is then
    // exact IEEE arithmetic, not a rounding race. Plan: one partial-agg
    // shuffle for the 5-row stats frame, broadcast back over the scan.
    QueryDef(
      "q_anomaly_zscore",
      (s, dir) => {
        val ev = Session.table(s, dir, "events")
        val stats = ev.groupBy("event_type").agg(
          round(avg("value"), 6).as("mu"),
          round(stddev_samp("value"), 6).as("sd"))
        ev.join(broadcast(stats), "event_type")
          .withColumn("z", (col("value") - col("mu")) / col("sd"))
          .filter(abs(col("z")) > 3.0)
          .select(
            col("event_id"),
            col("event_type"),
            col("value"),
            round(col("z"), 6).as("z"))
      },
      Some("""WITH s AS (SELECT event_type, round(avg(value), 6) AS mu,
             |                 round(stddev_samp(value), 6) AS sd
             |            FROM events GROUP BY 1)
             |SELECT event_id, e.event_type, value,
             |  round((value - mu) / sd, 6) AS z
             |FROM events e JOIN s USING (event_type)
             |WHERE abs((value - mu) / sd) > 3.0""".stripMargin),
      covers = Seq("ext-anomaly-zscore")),

    // ------------------------------------------------------------------
    // SCD-2 interval construction (the CDC/dimension-history op): each
    // event versions its user's state until the next event — valid_from =
    // its time, valid_to = lead() over the user's timeline, open interval
    // marked current. One window pass per user partition; at scale this is
    // a single shuffle on the natural key, no self-join.
    QueryDef(
      "q_scd2_intervals",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
        Session.table(s, dir, "events")
          .select(
            col("user_id"), col("event_id"), col("value"),
            expr("ts div 1000").as("valid_from"))
          .withColumn("valid_to", lead("valid_from", 1).over(w))
          .withColumn("is_current", col("valid_to").isNull.cast("int"))
      },
      Some("""SELECT user_id, event_id, value,
             |  epoch_us(ts) AS valid_from,
             |  lead(epoch_us(ts)) OVER w AS valid_to,
             |  CAST(lead(epoch_us(ts)) OVER w IS NULL AS INT) AS is_current
             |FROM events
             |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin),
      covers = Seq("ext-scd2")),

    // ------------------------------------------------------------------
    // Funnel stages: how deep does each user get through view → click →
    // purchase, by first-occurrence ordering (min timestamp per stage,
    // each stage strictly after the previous one). One conditional-min
    // aggregation per user — a single shuffle carrying 3 longs per user —
    // then a 4-row stage histogram. Comparisons stay in Spark's native
    // nano grain: only orderings cross engines, not the values.
    QueryDef(
      "q_funnel_stages",
      (s, dir) => {
        def minTs(tpe: String) =
          min(when(col("event_type") === tpe, col("ts")))
        Session.table(s, dir, "events")
          .groupBy("user_id")
          .agg(minTs("view").as("v"), minTs("click").as("c"), minTs("purchase").as("p"))
          .withColumn(
            "stage",
            when(col("v").isNotNull && col("c") > col("v") && col("p") > col("c"), 3)
              .when(col("v").isNotNull && col("c") > col("v"), 2)
              .when(col("v").isNotNull, 1)
              .otherwise(0))
          .groupBy("stage")
          .agg(count(lit(1)).as("users"))
      },
      Some("""WITH f AS (
             |  SELECT user_id,
             |    min(ts) FILTER (WHERE event_type = 'view') AS v,
             |    min(ts) FILTER (WHERE event_type = 'click') AS c,
             |    min(ts) FILTER (WHERE event_type = 'purchase') AS p
             |  FROM events GROUP BY 1)
             |SELECT CASE WHEN v IS NOT NULL AND c > v AND p > c THEN 3
             |            WHEN v IS NOT NULL AND c > v THEN 2
             |            WHEN v IS NOT NULL THEN 1 ELSE 0 END AS stage,
             |  CAST(count(*) AS BIGINT) AS users
             |FROM f GROUP BY 1""".stripMargin),
      covers = Seq("ext-funnel")),

    // ------------------------------------------------------------------
    // Cohort retention: users grouped by first-active day, activity
    // counted per day-offset from the cohort day. The min-over-user is a
    // window (one shuffle on user_id), the retention matrix a second
    // partial-agg shuffle — the canonical two-stage cohort plan; no
    // self-join of the events table against itself.
    QueryDef(
      "q_retention_cohort",
      (s, dir) => {
        val w = Window.partitionBy("user_id")
        Session.table(s, dir, "events")
          .select(col("user_id"), expr("(ts div 1000) div 86400000000").as("day"))
          .withColumn("cohort", min("day").over(w))
          .groupBy(col("cohort"), (col("day") - col("cohort")).as("day_offset"))
          .agg(countDistinct("user_id").as("users"))
      },
      Some("""WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
             |c AS (SELECT user_id, day,
             |        min(day) OVER (PARTITION BY user_id) AS cohort FROM e)
             |SELECT cohort, day - cohort AS day_offset,
             |  CAST(count(DISTINCT user_id) AS BIGINT) AS users
             |FROM c GROUP BY 1, 2""".stripMargin),
      covers = Seq("ext-retention")),

    // ------------------------------------------------------------------
    // Fuzzy match on bounded edit distance over the distinct-name
    // dictionary. The dictionary is tiny after distinct (names repeat
    // across the catalog), so the all-pairs comparison is a broadcast
    // nested loop over it — NOT over the base table. At dictionary scale
    // the prefix/length filtering of operators.SetSimJoin is the same
    // pruning story; this query is the operator surface.
    QueryDef(
      "q_fuzzy_join",
      (s, dir) => {
        val names = t(s, dir, "part").select("p_name").distinct()
        val a = names.select(col("p_name").as("name_a"))
        val b = names.select(col("p_name").as("name_b"))
        a.join(
            broadcast(b),
            col("name_a") < col("name_b") &&
              levenshtein(col("name_a"), col("name_b")) <= 2)
          .select(
            col("name_a"), col("name_b"),
            levenshtein(col("name_a"), col("name_b")).as("lev"))
      },
      Some("""WITH n AS (SELECT DISTINCT p_name FROM part)
             |SELECT a.p_name AS name_a, b.p_name AS name_b,
             |  CAST(levenshtein(a.p_name, b.p_name) AS INT) AS lev
             |FROM n a JOIN n b
             |  ON a.p_name < b.p_name AND levenshtein(a.p_name, b.p_name) <= 2""".stripMargin),
      covers = Seq("ext-fuzzy-join")),

    // ------------------------------------------------------------------
    // BPE-style regex pre-tokenization (the GPT-2 pre-tokenizer shape,
    // ASCII-reduced): runs of letters / digits / punctuation, each
    // optionally carrying its leading space — the split a byte-pair
    // tokenizer starts from. Top-30 corpus vocabulary with deterministic
    // tie-break. Pure scan + explode + partial-agg count: one shuffle of
    // (token, count) pairs, never the documents.
    QueryDef(
      "q_bpe_tokens",
      (s, dir) =>
        t(s, dir, "documents")
          .select(explode(
            expr("regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+', 0)")).as("tok"))
          .groupBy("tok")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok"))
          .limit(30),
      Some("""SELECT tok, CAST(count(*) AS BIGINT) AS n
             |FROM (SELECT unnest(regexp_extract_all(text, ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS tok
             |      FROM documents)
             |GROUP BY 1 ORDER BY n DESC, tok LIMIT 30""".stripMargin),
      covers = Seq("ext-bpe-pretokenize")),

    // ------------------------------------------------------------------
    // BPE MERGE-RULE TRAINING (operators.Bpe): learn 12 merges over the
    // document corpus — one corpus shuffle for the pre-token histogram,
    // then vocabulary-sized iterations (pair-count argmax + typed merge
    // map). The answer is the corpus token histogram after replaying the
    // learned merges. Oracle: LATE-BOUND — the trained rules freeze into
    // the generated SQL, where each rule is one non-overlapping string
    // replace over a bracket-encoded segmentation (greedy left-to-right,
    // the exact pass semantics Bpe.mergeOnce implements); the oracle
    // re-derives the segmentation and histogram from the rules, so it
    // verifies the APPLICATION path while BpeSpec pins training
    // optimality against an independent driver reference.
    QueryDef(
      "q_bpe_train",
      (s, dir) => {
        val merges = graft.operators.Bpe.train(t(s, dir, "documents"), "text", 12)
        BpeState.freeze(merges)
        graft.operators.Bpe.segment(t(s, dir, "documents"), "text", merges)
          .groupBy("tok")
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("tok"))
          .limit(40)
      },
      None,
      covers = Seq("ext-bpe-train"),
      oracleDyn = Some(() => BpeState.oracleSql)),

    // ------------------------------------------------------------------
    // PageRank (operators.Graph): 3 synchronous power iterations over the
    // undirected customer↔supplier trade graph (supplier ids offset by 1M
    // to disjoint the key spaces). Each iteration is one join + one
    // aggregation with localCheckpoint'ed state — O(1) lineage per step.
    // The oracle replays the identical iterations as chained CTEs; the
    // per-iteration round(r, 12) in BOTH engines is what keeps three
    // rounds of FP-order-dependent sums bit-aligned.
    QueryDef(
      "q_pagerank",
      (s, dir) => {
        // Multi-edges are KEPT (no distinct): a customer trading with a
        // supplier across k line items contributes k-fold — trade-volume-
        // weighted PageRank, and one less corpus-size shuffle. The
        // directed half is cached because the undirected union reads it
        // twice; pageRank's result is eagerly checkpointed, so the cache
        // can be dropped on return.
        val co = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(
            col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000L)).as("dst"))
          // serialized: 600k cached rows feed 3 iterations of join+agg —
          // a deserialized row cache here is pure GC pressure
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
        val edges = co.union(co.select(col("dst").as("src"), col("src").as("dst")))
        val out = graft.operators.Graph.pageRank(edges, iters = 3, damping = 0.85)
          .select(col("id"), round(col("r"), 8).as("r"))
        co.unpersist(blocking = false)
        out
      },
      Some {
        def iter(k: Int): String =
          s"""c$k AS (SELECT e.dst AS id, sum(p.r / dg.d) AS s
             |       FROM edges e JOIN r${k - 1} p ON p.id = e.src
             |       JOIN deg dg ON dg.src = e.src
             |       GROUP BY 1),
             |r$k AS (SELECT nd.id, round((1 - 0.85) / n + 0.85 * coalesce(c$k.s, 0), 12) AS r
             |       FROM nodes nd CROSS JOIN nn LEFT JOIN c$k ON c$k.id = nd.id)""".stripMargin
        s"""WITH co AS (
           |  SELECT o_custkey AS src, 1000000 + l_suppkey AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |edges AS (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co),
           |nodes AS (SELECT DISTINCT src AS id FROM edges),
           |deg AS (SELECT src, count(*) AS d FROM edges GROUP BY 1),
           |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           |r0 AS (SELECT id, 1.0 / n AS r FROM nodes CROSS JOIN nn),
           |${iter(1)},
           |${iter(2)},
           |${iter(3)}
           |SELECT id, round(r, 8) AS r FROM r3""".stripMargin
      },
      covers = Seq("ext-pagerank")),

    // ------------------------------------------------------------------
    // Gap-filled time series: event counts per 5-minute bin INCLUDING
    // empty bins. The bin dimension is generated distributed-side with
    // sequence()+explode from the aggregated bounds — never a driver loop
    // building a frame of literals. Left join densifies; at scale the
    // dimension is trivially broadcast.
    QueryDef(
      "q_gapfill_bins",
      (s, dir) => {
        val agg = Session.table(s, dir, "events")
          .select(expr("(ts div 1000) div 300000000").as("bin"))
          .groupBy("bin")
          .agg(count(lit(1)).as("c"))
        val bins = agg.agg(min("bin").as("lo"), max("bin").as("hi"))
          .select(explode(sequence(col("lo"), col("hi"))).as("bin"))
        bins.join(agg, Seq("bin"), "left")
          .select(col("bin"), coalesce(col("c"), lit(0L)).as("n"))
      },
      Some("""WITH a AS (SELECT epoch_us(ts) // 300000000 AS bin, count(*) AS c
             |           FROM events GROUP BY 1),
             |b AS (SELECT min(bin) AS lo, max(bin) AS hi FROM a),
             |h AS (SELECT unnest(generate_series(lo, hi)) AS bin FROM b)
             |SELECT h.bin, CAST(coalesce(a.c, 0) AS BIGINT) AS n
             |FROM h LEFT JOIN a USING (bin)""".stripMargin),
      covers = Seq("ext-gapfill")),

    // ------------------------------------------------------------------
    // Event-type transition matrix (first-order Markov statistics — the
    // sequence-modeling feature prep): per user, each event paired with
    // its successor via lead() (one shuffle on user_id), then global
    // (from, to) counts and per-source transition probabilities. The
    // probability is an exact long/long division of identical integers in
    // both engines — no rounding needed.
    QueryDef(
      "q_markov_transitions",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Session.table(s, dir, "events")
          .withColumn("next_type", lead("event_type", 1).over(w))
          .filter(col("next_type").isNotNull)
          .groupBy("event_type", "next_type")
          .agg(count(lit(1)).as("n"))
          .withColumn(
            "p",
            col("n").cast("double") /
              sum("n").over(Window.partitionBy("event_type")).cast("double"))
      },
      Some("""WITH t AS (
             |  SELECT event_type,
             |    lead(event_type) OVER (PARTITION BY user_id
             |                           ORDER BY epoch_us(ts), event_id) AS next_type
             |  FROM events)
             |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n,
             |  CAST(count(*) AS DOUBLE) /
             |    CAST(sum(count(*)) OVER (PARTITION BY event_type) AS DOUBLE) AS p
             |FROM t WHERE next_type IS NOT NULL GROUP BY 1, 2""".stripMargin),
      covers = Seq("ext-markov-transitions")),

    // ------------------------------------------------------------------
    // Global rank (operators.GlobalRank): contiguous row_number over a
    // total order WITHOUT the single-partition window that
    // `row_number() OVER (ORDER BY ...)` plans — RangePartitioning sort,
    // per-partition ordinals from monotonically_increasing_id, partition
    // offsets cumulated from a one-row-per-partition aggregate, broadcast
    // back. One full shuffle total; the hash compare against DuckDB's
    // actual row_number proves the distributed rank is the true global one.
    QueryDef(
      "q_global_sort",
      (s, dir) =>
        graft.operators.GlobalRank.withRank(
          t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
          "rank",
          col("o_totalprice").desc, col("o_orderkey")),
      Some("""SELECT o_orderkey, o_totalprice,
             |  CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS INT) AS rank
             |FROM orders""".stripMargin),
      covers = Seq("ext-global-sort")),

    // ------------------------------------------------------------------
    // Bigram collocations (phrase mining): adjacent-token pairs scored by
    // lift = c(ab)·T / (c(a)·c(b)) — PMI without the log, keeping the
    // score an exact integer-derived division identical across engines.
    // Bigrams are built with a zip of the token array against its own
    // tail, INSIDE the row (zero shuffle); only (bigram, count) pairs are
    // shuffled. Unigram counts broadcast back onto the bigram frame.
    QueryDef(
      "q_collocations",
      (s, dir) => {
        val tok = t(s, dir, "documents")
          .select(split(col("text"), " ").as("ts"))
        val uni = tok
          .select(explode(col("ts")).as("w"))
          .groupBy("w").agg(count(lit(1)).as("c"))
        val total = uni.agg(sum("c").as("t"))
        val bg = tok
          .select(explode(expr(
            "zip_with(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1), (x, y) -> named_struct('w1', x, 'w2', y))")).as("b"))
          .select(col("b.w1").as("w1"), col("b.w2").as("w2"))
          .groupBy("w1", "w2").agg(count(lit(1)).as("n"))
        bg
          .join(broadcast(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1")), "w1")
          .join(broadcast(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2")), "w2")
          .crossJoin(broadcast(total))
          .select(
            col("w1"), col("w2"), col("n"),
            (col("n").cast("double") * col("t").cast("double") /
              (col("c1").cast("double") * col("c2").cast("double"))).as("lift"))
          .orderBy(col("lift").desc, col("w1"), col("w2"))
          .limit(30)
      },
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
             |t AS (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM tok),
             |uni AS (SELECT w, count(*) AS c FROM t GROUP BY 1),
             |tot AS (SELECT CAST(sum(c) AS BIGINT) AS tt FROM uni),
             |bg AS (SELECT a.w AS w1, b.w AS w2, count(*) AS n
             |       FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1
             |       GROUP BY 1, 2)
             |SELECT w1, w2, CAST(n AS BIGINT) AS n,
             |  CAST(n AS DOUBLE) * CAST(tt AS DOUBLE) /
             |    (CAST(u1.c AS DOUBLE) * CAST(u2.c AS DOUBLE)) AS lift
             |FROM bg JOIN uni u1 ON u1.w = w1 JOIN uni u2 ON u2.w = w2 CROSS JOIN tot
             |ORDER BY lift DESC, w1, w2 LIMIT 30""".stripMargin),
      covers = Seq("ext-collocations")),

    // ------------------------------------------------------------------
    // Calendar seasonality: order volume/revenue by (month, day-of-week).
    // Exercises the calendar-function surface; the dow convention differs
    // between engines (Spark dayofweek: Sunday=1, DuckDB: Sunday=0) so the
    // Spark side normalizes with −1. Pure partial-agg rollup: the shuffle
    // carries 84 groups.
    QueryDef(
      "q_seasonality",
      (s, dir) =>
        t(s, dir, "orders")
          .groupBy(
            month(col("o_orderdate")).as("mo"),
            (dayofweek(col("o_orderdate")) - 1).as("dow"))
          .agg(
            count(lit(1)).as("n"),
            round(sum("o_totalprice"), 2).as("revenue")),
      Some("""SELECT CAST(month(o_orderdate) AS INT) AS mo,
             |  CAST(dayofweek(o_orderdate) AS INT) AS dow,
             |  CAST(count(*) AS BIGINT) AS n,
             |  round(sum(o_totalprice), 2) AS revenue
             |FROM orders GROUP BY 1, 2""".stripMargin),
      covers = Seq("ext-seasonality", "F6")),

    // ------------------------------------------------------------------
    // Triangle counting (operators.Graph.triangleCounts) over the supplier
    // co-purchase graph: suppliers are adjacent iff some order contains a
    // BULK line item (l_quantity >= 45) from both. The quantity filter is
    // what keeps the graph sparse (deg ≈ 25): the unfiltered version is a
    // near-clique on the supplier set, and triangle counting on a clique
    // is Ω(n³) no matter the algorithm — 22 s at sf0.1 vs ~0.5 s sparse.
    // Compact-forward with degree orientation — wedge work is
    // Σ min-degree-bounded (O(E^1.5)), the property that keeps hub nodes
    // from exploding the join at 100 TB. The oracle replays the same
    // orientation/wedge/close construction in SQL.
    QueryDef(
      "q_triangles",
      (s, dir) => {
        val so = t(s, dir, "lineitem")
          .filter(col("l_quantity") >= 45)
          .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
          .distinct()
        val edges = so.as("x")
          .join(so.as("y"), col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
          .select(col("x.sk").as("a"), col("y.sk").as("b"))
        graft.operators.Graph.triangleCounts(edges)
      },
      Some("""WITH so AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk
             |            FROM lineitem WHERE l_quantity >= 45),
             |und AS (SELECT DISTINCT x.sk AS u, y.sk AS v
             |        FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
             |deg AS (SELECT id, count(*) AS d FROM (
             |          SELECT u AS id FROM und UNION ALL SELECT v FROM und)
             |        GROUP BY 1),
             |ori AS (SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
             |               CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t,
             |               CASE WHEN (du.d, u) < (dv.d, v) THEN dv.d ELSE du.d END AS dt
             |        FROM und JOIN deg du ON du.id = u JOIN deg dv ON dv.id = v),
             |tri AS (SELECT e1.s AS a, e1.t AS b, e2.t AS c
             |        FROM ori e1 JOIN ori e2
             |          ON e1.s = e2.s AND (e1.dt, e1.t) < (e2.dt, e2.t)
             |        JOIN ori e3 ON e3.s = e1.t AND e3.t = e2.t)
             |SELECT deg.id, CAST(coalesce(cnt.tri, 0) AS BIGINT) AS tri
             |FROM deg LEFT JOIN (
             |  SELECT id, count(*) AS tri FROM (
             |    SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
             |    UNION ALL SELECT c FROM tri)
             |  GROUP BY 1) cnt ON cnt.id = deg.id""".stripMargin),
      covers = Seq("ext-triangles")),

    // ------------------------------------------------------------------
    // Multi-round BFS shortest hop-distance (operators.Graph.shortestPaths,
    // frontier iteration: each round shuffles only frontier-adjacent
    // edges, every node enters the frontier at most once → O(E) total join
    // work regardless of round count — the 100 TB-safe BFS). Graph:
    // suppliers co-occurring on a high-quantity order (threshold 49 keeps
    // it sparse enough for 6-hop paths at sf0.01); source = the minimum
    // supplier id, computed as a 1-row aggregate, never collect()ed. The
    // oracle replays the identical search as a depth-bounded recursive CTE.
    QueryDef(
      "q_shortest_path",
      (s, dir) => {
        val so = t(s, dir, "lineitem")
          .filter(col("l_quantity") >= 49)
          .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
          .distinct()
        val und = so.as("x")
          .join(so.as("y"), col("x.ok") === col("y.ok") && col("x.sk") < col("y.sk"))
          .select(col("x.sk").as("src"), col("y.sk").as("dst"))
        val edges = und.union(und.select(col("dst"), col("src")))
        val sources = edges.agg(min("src").as("id"))
        graft.operators.Graph.shortestPaths(edges, sources)
          .select(col("id"), col("dist"))
      },
      Some("""WITH RECURSIVE so AS (SELECT DISTINCT l_orderkey ok, l_suppkey sk
             |            FROM lineitem WHERE l_quantity >= 49),
             |und AS (SELECT DISTINCT x.sk u, y.sk v
             |        FROM so x JOIN so y ON x.ok = y.ok AND x.sk < y.sk),
             |e AS (SELECT u, v FROM und UNION SELECT v AS u, u AS v FROM und),
             |src AS (SELECT min(u) AS s FROM e),
             |bfs(id, d) AS (
             |  SELECT s, 0 FROM src
             |  UNION
             |  SELECT e.v, bfs.d + 1 FROM e JOIN bfs ON e.u = bfs.id
             |  WHERE bfs.d < 20)
             |SELECT id, CAST(min(d) AS BIGINT) AS dist FROM bfs GROUP BY 1""".stripMargin),
      covers = Seq("ext-shortest-path")),

    // ------------------------------------------------------------------
    // Weight-proportional sampling without replacement (Duffield–Lund–
    // Thorup priority sampling): priority = w / u with u uniform in (0,1],
    // keep the k largest. u derives from a 60-bit md5 prefix of the row
    // key, so the sample is DETERMINISTIC — reproducible pipelines and an
    // exact oracle — and the scheme needs only IEEE division (no ln/pow,
    // whose libm implementations differ across engines by an ulp). Plan
    // shape: one scan + TakeOrdered(k) — no shuffle of the data, no
    // global sort; at 100 TB each task keeps a k-row heap.
    QueryDef(
      "q_weighted_sample",
      (s, dir) => {
        val v = conv(
          substring(md5(concat_ws("_", col("l_orderkey"), col("l_linenumber")).cast("binary")), 1, 15),
          16, 10).cast("bigint")
        t(s, dir, "lineitem")
          .select(
            col("l_orderkey"),
            col("l_linenumber"),
            col("l_quantity"),
            (col("l_quantity") /
              ((v + lit(1L)).cast("double") / lit(1152921504606846976.0))).as("pri"))
          .orderBy(col("pri").desc)
          .limit(100)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |  l_quantity / ((CAST(concat('0x',
             |      substr(md5(l_orderkey || '_' || l_linenumber), 1, 15)) AS BIGINT) + 1)
             |    / 1152921504606846976.0) AS pri
             |FROM lineitem
             |ORDER BY pri DESC LIMIT 100""".stripMargin),
      covers = Seq("ext-weighted-sample")),

    // ------------------------------------------------------------------
    // PER-KEY weight-proportional sampling: the same deterministic
    // Duffield–Lund–Thorup priority scheme as q_weighted_sample, but
    // keeping the top 5 priorities PER SUPPLIER through the PartialTopK
    // physical operator — map tasks ship ≤5 rows per key instead of the
    // table, the per-source curation shape ("best k docs per domain,
    // weighted by quality") at corpus scale.
    QueryDef(
      "q_weighted_sample_by_key",
      (s, dir) => {
        val v = conv(
          substring(md5(concat_ws("_", col("l_orderkey"), col("l_linenumber")).cast("binary")), 1, 15),
          16, 10).cast("bigint")
        val pri = t(s, dir, "lineitem")
          .select(
            col("l_suppkey"),
            col("l_orderkey"),
            col("l_linenumber"),
            (col("l_quantity") /
              ((v + lit(1L)).cast("double") / lit(1152921504606846976.0))).as("pri"))
          .withColumn("tie", col("l_orderkey") * 10 + col("l_linenumber"))
        graft.operators.TopK
          .perKey(pri, Seq("l_suppkey"), "pri", "tie", 5)
          .select(
            col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("rn").as("sample_rank"))
      },
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, CAST(rn AS INT) AS sample_rank
             |FROM (
             |  SELECT l_suppkey, l_orderkey, l_linenumber,
             |    row_number() OVER (PARTITION BY l_suppkey ORDER BY
             |      l_quantity / ((CAST(concat('0x',
             |          substr(md5(l_orderkey || '_' || l_linenumber), 1, 15)) AS BIGINT) + 1)
             |        / 1152921504606846976.0) DESC,
             |      l_orderkey * 10 + l_linenumber) AS rn
             |  FROM lineitem)
             |WHERE rn <= 5""".stripMargin),
      covers = Seq("ext-weighted-sample-by-key")),

    // ------------------------------------------------------------------
    // Blocked sorted-neighborhood entity blocking: sort within a coarse
    // block (4-char name prefix), compare each record only to its w=2
    // sorted predecessors, keep near-matches (1 <= levenshtein <= 5;
    // distance-0 exact dups are q_dedup_exact's job). This is the
    // CLASSIC scale answer to fuzzy joins: candidate pairs are O(n·w)
    // instead of O(n²), the window sort shuffles on the block key (never
    // a single global partition), and q_fuzzy_join's dictionary approach
    // stays for the small-dimension case.
    QueryDef(
      "q_sorted_neighborhood",
      (s, dir) => {
        val win = Window
          .partitionBy(col("blk"))
          .orderBy(col("p_name"), col("p_partkey"))
        val w = t(s, dir, "part")
          .select(col("p_partkey"), col("p_name"), substring(col("p_name"), 1, 4).as("blk"))
          .select(
            col("p_partkey"), col("p_name"),
            lag(col("p_name"), 1).over(win).as("n1"),
            lag(col("p_partkey"), 1).over(win).as("k1"),
            lag(col("p_name"), 2).over(win).as("n2"),
            lag(col("p_partkey"), 2).over(win).as("k2"))
        val p1 = w.filter(col("k1").isNotNull)
          .select(col("k1").as("a_key"), col("p_partkey").as("b_key"),
            col("n1").as("a_name"), col("p_name").as("b_name"))
        val p2 = w.filter(col("k2").isNotNull)
          .select(col("k2").as("a_key"), col("p_partkey").as("b_key"),
            col("n2").as("a_name"), col("p_name").as("b_name"))
        p1.unionAll(p2)
          .withColumn("d", levenshtein(col("a_name"), col("b_name")))
          .filter(col("d").between(1, 5))
      },
      Some("""WITH s AS (SELECT p_partkey, p_name, substr(p_name, 1, 4) AS blk FROM part),
             |w AS (SELECT s.*,
             |        lag(p_name, 1) OVER win AS n1, lag(p_partkey, 1) OVER win AS k1,
             |        lag(p_name, 2) OVER win AS n2, lag(p_partkey, 2) OVER win AS k2
             |      FROM s WINDOW win AS (PARTITION BY blk ORDER BY p_name, p_partkey)),
             |pairs AS (
             |  SELECT k1 AS a_key, p_partkey AS b_key, n1 AS a_name, p_name AS b_name
             |  FROM w WHERE k1 IS NOT NULL
             |  UNION ALL
             |  SELECT k2, p_partkey, n2, p_name FROM w WHERE k2 IS NOT NULL)
             |SELECT a_key, b_key, a_name, b_name,
             |  CAST(levenshtein(a_name, b_name) AS INT) AS d
             |FROM pairs WHERE levenshtein(a_name, b_name) BETWEEN 1 AND 5""".stripMargin),
      covers = Seq("ext-sorted-neighborhood")),

    // ------------------------------------------------------------------
    // 2-D Pareto front (operators.Pareto): the (quantity, price) points no
    // other line item beats on both axes. The single-pass skyline needs a
    // GLOBAL running max — a single-partition window as written naively;
    // Pareto.front2D replaces it with range partitioning + per-partition
    // running max + a driver-side prefix-max broadcast (the GlobalRank
    // treatment), so no stage sees all rows. Oracle: the textbook window
    // formulation, which DuckDB can afford at oracle scale.
    QueryDef(
      "q_pareto_front",
      (s, dir) =>
        graft.operators.Pareto.front2D(
          t(s, dir, "lineitem")
            .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"))),
      Some("""WITH d AS (SELECT DISTINCT l_quantity AS x, l_extendedprice AS y
             |           FROM lineitem WHERE x IS NOT NULL AND y IS NOT NULL),
             |w AS (SELECT x, y, max(y) OVER (ORDER BY x DESC, y DESC
             |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m
             |      FROM d)
             |SELECT x, y FROM w WHERE m IS NULL OR y > m""".stripMargin),
      covers = Seq("ext-pareto")),

    // ------------------------------------------------------------------
    // Exact whole-table quantiles WITHOUT a global sort or a per-group
    // value buffer (operators.ExactQuantile): histogram bisection — each
    // round is one parallel scan producing <=4096 bin counts, narrowing
    // geometrically onto the target rank; the final rank selection touches
    // only the last bin. Spark's exact `percentile` buffers every value in
    // the agg (q_percentiles uses it on SMALL groups); this is the path
    // that stays exact on a 100 TB column. Results are elements of the
    // data (no interpolation arithmetic) so the compare is bit-exact.
    QueryDef(
      "q_exact_quantiles",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val med = graft.operators.ExactQuantile.quantileDisc(li, "l_extendedprice", 0.5)
        val p90 = graft.operators.ExactQuantile.quantileDisc(li, "l_extendedprice", 0.9)
        s.range(1).select(lit(med).as("med"), lit(p90).as("p90"))
      },
      Some("""SELECT quantile_disc(l_extendedprice, 0.5) AS med,
             |  quantile_disc(l_extendedprice, 0.9) AS p90
             |FROM lineitem""".stripMargin),
      covers = Seq("ext-exact-quantile")),

    // ------------------------------------------------------------------
    // Per-key top-k through the custom PartialTopK physical operator
    // (plans.PartialTopK: LogicalPlan + Strategy + SparkPlan injected via
    // GraftExtensions) — hash-heap map-side pruning over UNSORTED input,
    // one step below Spark's own sort-requiring WindowGroupLimit. The
    // window above re-ranks the tiny survivor set, so results are exactly
    // the row_number formulation the oracle runs.
    QueryDef(
      "q_topk_pruned",
      (s, dir) =>
        graft.operators.TopK.perKey(
          t(s, dir, "lineitem")
            .withColumn("tie", col("l_orderkey") * 10 + col("l_linenumber")),
          Seq("l_suppkey"), "l_extendedprice", "tie", 3)
          .select(
            col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            col("l_extendedprice"), col("rn")),
      Some("""SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             |  CAST(rn AS INT) AS rn
             |FROM (
             |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             |    row_number() OVER (PARTITION BY l_suppkey
             |      ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber) AS rn
             |  FROM lineitem)
             |WHERE rn <= 3""".stripMargin),
      covers = Seq("ext-topk-pruned")),

    // ------------------------------------------------------------------
    // Feature binning for model training: fixed-width bin (explicit
    // arithmetic — identical in both engines, no width_bucket dialect
    // dependence) + within-status quartile via ntile over a unique order.
    // Row-level projection + one window shuffle on the 3-value status key;
    // at 100 TB the fixed-width path is the zero-shuffle one, and the
    // quantile path would swap ntile for precomputed boundaries from
    // operators.ExactQuantile (same output, no global sort) — the window
    // form here pins the semantics.
    QueryDef(
      "q_feature_bins",
      (s, dir) => {
        val w = Window.partitionBy("o_orderstatus")
          .orderBy(col("o_totalprice"), col("o_orderkey"))
        t(s, dir, "orders")
          .select(
            col("o_orderkey"),
            least(floor(col("o_totalprice") / 60000), lit(9)).cast("int").as("bin"),
            ntile(4).over(w).as("quartile"))
      },
      Some("""SELECT o_orderkey,
             |  CAST(least(floor(o_totalprice / 60000), 9) AS INT) AS bin,
             |  CAST(ntile(4) OVER (PARTITION BY o_orderstatus
             |    ORDER BY o_totalprice, o_orderkey) AS INT) AS quartile
             |FROM orders""".stripMargin),
      covers = Seq("ext-feature-bins")),

    // ------------------------------------------------------------------
    // Deterministic Poisson-free bootstrap: 64 half-sample replicates,
    // membership from the integer hash family h(key, r) = (key mod P · A
    // + r·B + C) mod P < P/2 — the MinHash constants discipline: every
    // intermediate fits in i64 in BOTH engines, no string building, no
    // md5 per (row × replica) (the md5 formulation measured 4.8 s at
    // sf0.1; this is integer-op cheap). Reproducible under retries, exact
    // oracle. Scale shape: the 64× explode is map-side only — partial
    // aggregation collapses each partition to ≤64 (replica, sum, count)
    // buffers before the exchange, so the shuffle is 64 rows per
    // partition, NOT 64× the data. Downstream CI = quantiles of 64 means.
    QueryDef(
      "q_bootstrap_ci",
      (s, dir) => {
        val P = 4294967311L // prime > 2^32 (MinHash.P)
        t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"),
            explode(sequence(lit(0), lit(63))).as("replica"))
          .filter(
            (col("o_orderkey") % P * 40503L + col("replica") * 1299721L + 7919L) % P
              < P / 2)
          .groupBy("replica")
          .agg(count(lit(1)).as("n"), round(avg("o_totalprice"), 2).as("mean_spend"))
      },
      Some("""SELECT CAST(r.r AS INT) AS replica, CAST(count(*) AS BIGINT) AS n,
             |  round(avg(o_totalprice), 2) AS mean_spend
             |FROM orders CROSS JOIN range(64) r(r)
             |WHERE (o_orderkey % 4294967311 * 40503 + r.r * 1299721 + 7919)
             |    % 4294967311 < 2147483655
             |GROUP BY 1""".stripMargin),
      covers = Seq("ext-bootstrap")),

    // ------------------------------------------------------------------
    // Winsorization: clamp spend to each status group's [p05, p95]. The
    // quantile is DISCRETE (value at rank ⌈p·n⌉ under a stable sort) — no
    // interpolation, so the boundary is an existing data value and the
    // clamp invents no floats: exact equality across engines with zero
    // rounding. The Spark side computes the boundaries with the 100 TB
    // path — ExactQuantile.quantilesDiscByGroup histogram bisection (no
    // per-group sort, no per-group value buffer) — and broadcasts the
    // 3-row bounds frame over the clamp scan; the oracle replays the
    // identical ranks with window arithmetic (viable at oracle scale,
    // equality pinned by ExactQuantileSpec). Rank uses the robust
    // ceil(round(p·n, 9)) so an exactly-integral p·n can't straddle the
    // FP product in either engine.
    QueryDef(
      "q_winsorize",
      (s, dir) => {
        import graft.operators.ExactQuantile
        val o = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
        // ONE bisection run narrows both boundaries for every group —
        // shared scan cache, shared head agg, one job per round
        val b = ExactQuantile
          .quantilesDiscByGroup(o, "o_orderstatus", "o_totalprice", Seq(0.05, 0.95))
        val s2 = s
        import s2.implicits._
        val bounds = b.keys.map(_._1).toSeq.distinct.sorted
          .map(g => (g, b((g, 0.05)), b((g, 0.95)))).toDF("o_orderstatus", "lo", "hi")
        o.join(broadcast(bounds), "o_orderstatus")
          .select(
            col("o_orderkey"),
            col("o_orderstatus"),
            least(greatest(col("o_totalprice"), col("lo")), col("hi"))
              .as("spend_winsorized"))
      },
      Some("""WITH ranked AS (
             |  SELECT o_orderkey, o_orderstatus, o_totalprice,
             |    row_number() OVER (PARTITION BY o_orderstatus
             |      ORDER BY o_totalprice, o_orderkey) AS rn,
             |    count(*) OVER (PARTITION BY o_orderstatus) AS n
             |  FROM orders),
             |bounds AS (
             |  SELECT o_orderstatus,
             |    max(CASE WHEN rn = greatest(ceil(round(n * 0.05, 9)), 1.0)
             |        THEN o_totalprice END) AS lo,
             |    max(CASE WHEN rn = ceil(round(n * 0.95, 9)) THEN o_totalprice END) AS hi
             |  FROM ranked GROUP BY 1)
             |SELECT o_orderkey, r.o_orderstatus,
             |  least(greatest(o_totalprice, lo), hi) AS spend_winsorized
             |FROM ranked r JOIN bounds b ON r.o_orderstatus = b.o_orderstatus""".stripMargin),
      covers = Seq("ext-winsorize")),

    // ------------------------------------------------------------------
    // RFM feature extraction — the classic behavioral feature triple
    // (recency / frequency / monetary) per customer in ONE aggregation
    // pass: one shuffle on o_custkey with full map-side combine; the
    // corpus-max anchor date is a 1-row aggregate broadcast back. Integer
    // day arithmetic and 2-decimal money sums — no rounding races.
    QueryDef(
      "q_rfm_features",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val anchor = o.agg(max("o_orderdate").as("anchor"))
        o.groupBy("o_custkey")
          .agg(
            max("o_orderdate").as("last_order"),
            count(lit(1)).as("frequency"),
            round(sum("o_totalprice"), 2).as("monetary"))
          .crossJoin(broadcast(anchor))
          .select(
            col("o_custkey"),
            datediff(col("anchor"), col("last_order")).cast("int").as("recency_days"),
            col("frequency"),
            col("monetary"))
      },
      Some("""WITH anchor AS (SELECT max(o_orderdate) AS a FROM orders)
             |SELECT o_custkey,
             |  CAST(date_diff('day', max(o_orderdate), a) AS INT) AS recency_days,
             |  CAST(count(*) AS BIGINT) AS frequency,
             |  round(sum(o_totalprice), 2) AS monetary
             |FROM orders CROSS JOIN anchor
             |GROUP BY o_custkey, a""".stripMargin),
      covers = Seq("ext-rfm")),

    // ------------------------------------------------------------------
    // Per-KEY quantiles (operators.QuantileSketch): the many-keys regime
    // ExactQuantile.quantilesDiscByGroup's bisection driver state cannot
    // serve: an exact window-rank selection (one shuffle on the key,
    // sort inside the key, rank-ceil(q·n) — DuckDB quantile_disc
    // semantics).
    QueryDef(
      "q_quantiles_by_key",
      (s, dir) =>
        graft.operators.QuantileSketch.quantilesByKeyExact(
          t(s, dir, "orders"), "o_custkey", "o_totalprice", Seq(0.25, 0.5, 0.75)),
      Some("""SELECT o_custkey,
             |  quantile_disc(o_totalprice, 0.25) AS p25,
             |  quantile_disc(o_totalprice, 0.5) AS p50,
             |  quantile_disc(o_totalprice, 0.75) AS p75
             |FROM orders GROUP BY o_custkey""".stripMargin),
      covers = Seq("ext-quantiles-by-key")),

    // ------------------------------------------------------------------
    // k-core decomposition (operators.Graph.kCore) of the undirected
    // distinct customer–supplier co-trade graph: peel nodes with degree
    // < 9 until none remain (9 keeps a non-empty core at EVERY test SF —
    // the sf0.001 graph's max customer degree is its 10 suppliers) — the cohesive-subgraph extractor (dense
    // trading communities; on a near-dup pair graph, the "everything
    // resembles everything" boilerplate clusters). The oracle unrolls
    // EXACTLY KCoreRounds peel rounds; the Spark side passes the same
    // bound, and a peel round past the fixpoint is a no-op in both
    // engines, so the two results are identical for ANY data — converged
    // or not (GraphSpec pins multi-round cascades on planted paths; this
    // graph converges in 1 round, sparing the oracle a 30-deep unroll).
    QueryDef(
      "q_kcore",
      (s, dir) => {
        val co = t(s, dir, "orders")
          .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
          .select(
            col("o_custkey").as("src"),
            (col("l_suppkey") + lit(1000000L)).as("dst"))
          .distinct()
        val edges = co.union(co.select(col("dst").as("src"), col("src").as("dst")))
        graft.operators.Graph.kCore(edges, KCoreK, maxRounds = KCoreRounds)
      },
      Some {
        // Every e_r is referenced twice (degree agg + next round's FROM);
        // MATERIALIZED stops DuckDB's CTE inlining turning the unroll
        // into 2^rounds duplicated scans of the base tables.
        val rounds = (0 until KCoreRounds)
          .map { r =>
            s"""d$r AS (SELECT src AS id, count(*) AS cd FROM e$r GROUP BY 1),
               |bad$r AS (SELECT id FROM d$r WHERE cd < $KCoreK),
               |e${r + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e$r e
               |  ANTI JOIN bad$r a ON e.src = a.id
               |  ANTI JOIN bad$r b ON e.dst = b.id)""".stripMargin
          }
          .mkString(",\n")
        s"""WITH co AS (
           |  SELECT DISTINCT o_custkey AS src, 1000000 + l_suppkey AS dst
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |e0 AS MATERIALIZED (SELECT src, dst FROM co UNION ALL SELECT dst, src FROM co),
           |$rounds
           |SELECT src AS id, CAST(count(*) AS BIGINT) AS core_deg
           |FROM e$KCoreRounds GROUP BY 1""".stripMargin
      },
      covers = Seq("ext-kcore")),

    // ------------------------------------------------------------------
    // Market-basket mining: frequent co-ordered part PAIRS with support,
    // confidence and lift — the association-rule primitive. Pair
    // generation is the per-basket self-join on the order key: fan-out
    // is C(k,2) with k = items per basket (single digits here and in any
    // real basket schema), so the join output is O(orders · k²), not
    // O(parts²); the support filter then collapses it to the frequent
    // tail. Item counts join back onto the (already tiny) frequent-pair
    // frame — AQE broadcasts them. Every ratio is ONE double division of
    // exact integers (products < 2^53), so no rounding is needed for the
    // cross-engine hash.
    QueryDef(
      "q_market_basket",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
          .distinct()
        val norders = li.agg(count_distinct(col("ok")).as("n_orders"))
        val icnt = li.groupBy("pk").agg(count(lit(1)).as("c"))
        val pairs = li.as("a")
          .join(li.as("b"),
            col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
          .groupBy(col("a.pk").as("pa"), col("b.pk").as("pb"))
          .agg(count(lit(1)).as("support_cnt"))
          .filter(col("support_cnt") >= 3)
        pairs
          .join(icnt.select(col("pk").as("pa"), col("c").as("ca")), Seq("pa"))
          .join(icnt.select(col("pk").as("pb"), col("c").as("cb")), Seq("pb"))
          .crossJoin(broadcast(norders))
          .select(
            col("pa"), col("pb"), col("support_cnt"),
            (col("support_cnt") * lit(1.0) / col("n_orders")).as("support"),
            (col("support_cnt") * lit(1.0) / col("ca")).as("confidence"),
            (col("support_cnt") * col("n_orders") * lit(1.0) /
              (col("ca") * col("cb"))).as("lift"))
      },
      Some("""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
             |           FROM lineitem),
             |n AS (SELECT count(DISTINCT ok) AS n_orders FROM li),
             |ic AS (SELECT pk, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1),
             |p AS (SELECT a.pk AS pa, b.pk AS pb,
             |        CAST(count(*) AS BIGINT) AS support_cnt
             |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
             |      GROUP BY 1, 2 HAVING count(*) >= 3)
             |SELECT pa, pb, support_cnt,
             |  support_cnt * 1.0 / n_orders AS support,
             |  support_cnt * 1.0 / ca.c AS confidence,
             |  (support_cnt * n_orders) * 1.0 / (ca.c * cb.c) AS lift
             |FROM p JOIN ic ca ON ca.pk = p.pa JOIN ic cb ON cb.pk = p.pb
             |CROSS JOIN n""".stripMargin),
      covers = Seq("ext-market-basket")),

    // ------------------------------------------------------------------
    // Incremental materialized-view maintenance
    // (operators.ViewMaintenance): the orders rollup is maintained as
    // base-view + delta-batch MERGED ON AGGREGATE STATE — counts/sums
    // merge by summing, min/max by min/max — instead of rescanning the
    // base. The oracle replays the same two-phase merge; the companion
    // spec proves merge == full recompute. At 100 TB the merge touches
    // O(groups + delta) rows; the recompute it replaces reads the table.
    QueryDef(
      "q_incremental_agg",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        def slice(p: org.apache.spark.sql.Column) = orders.filter(p)
          .groupBy("o_orderstatus")
          .agg(
            count(lit(1)).as("n"),
            sum(col("o_totalprice")).as("total"),
            min(col("o_orderdate")).as("first_dt"),
            max(col("o_orderdate")).as("last_dt"))
        val base = slice(col("o_orderkey") % 10 =!= 0)
        val delta = slice(col("o_orderkey") % 10 === 0)
        graft.operators.ViewMaintenance
          .merge(Seq(base, delta), Seq("o_orderstatus"),
            Seq("n" -> "sum", "total" -> "sum",
              "first_dt" -> "min", "last_dt" -> "max"))
          .select(col("o_orderstatus"), col("n"),
            round(col("total"), 2).as("total"),
            col("first_dt"), col("last_dt"))
      },
      Some("""WITH sliced AS (
             |  SELECT o_orderstatus, count(*) AS n, sum(o_totalprice) AS s,
             |    min(o_orderdate) AS first_dt, max(o_orderdate) AS last_dt
             |  FROM orders GROUP BY o_orderstatus, o_orderkey % 10 = 0)
             |SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n,
             |  round(sum(s), 2) AS total,
             |  min(first_dt) AS first_dt, max(last_dt) AS last_dt
             |FROM sliced GROUP BY 1""".stripMargin),
      covers = Seq("ext-incremental-agg")),

    // ------------------------------------------------------------------
    // Delta-join view maintenance (ViewMaintenance.joinDelta): a fact ⋈
    // dim rollup (orders ⋈ customer by market segment) refreshed under a
    // fact delta by aggregating ONLY Δorders ⋈ customer and merging into
    // the prior state — the refresh plan reads the delta and the
    // broadcast dim, never the base fact (IncrementalViewSpec pins that
    // on the physical plan). The oracle replays the same two-phase
    // merge; sums follow q_incremental_agg's proven split-then-sum
    // rounding shape.
    QueryDef(
      "q_view_join_maintained",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val dim = t(s, dir, "customer")
          .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
        val aggs = Seq(
          count(lit(1)).as("n"),
          sum(col("o_totalprice")).as("total"),
          max(col("o_orderdate")).as("last_dt"))
        val prior = orders.filter(col("o_orderkey") % 10 =!= 0)
          .join(broadcast(dim), Seq("o_custkey"))
          .groupBy("c_mktsegment")
          .agg(aggs.head, aggs.tail: _*)
        graft.operators.ViewMaintenance.joinDelta(
          prior,
          orders.filter(col("o_orderkey") % 10 === 0),
          broadcast(dim),
          joinKeys = Seq("o_custkey"),
          groupKeys = Seq("c_mktsegment"),
          aggs = aggs,
          state = Seq("n" -> "sum", "total" -> "sum", "last_dt" -> "max"))
          .select(col("c_mktsegment"), col("n"),
            round(col("total"), 2).as("total"), col("last_dt"))
      },
      Some("""WITH sliced AS (
             |  SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS s,
             |    max(o_orderdate) AS last_dt
             |  FROM orders JOIN customer ON o_custkey = c_custkey
             |  GROUP BY c_mktsegment, o_orderkey % 10 = 0)
             |SELECT c_mktsegment, CAST(sum(n) AS BIGINT) AS n,
             |  round(sum(s), 2) AS total, max(last_dt) AS last_dt
             |FROM sliced GROUP BY 1""".stripMargin),
      covers = Seq("ext-view-join-maintained")),

    // ------------------------------------------------------------------
    // RETRACTION-capable view maintenance (the z-set pattern): order
    // cancellations arrive AFTER the rollup was built, as a delta whose
    // rows carry sign −1. The same merge machinery maintains the view —
    // the delta aggregates as sum(sign)/sum(sign·x), and the signed
    // state cancels against the base — so the maintained face equals a
    // recompute over the surviving orders without ever rescanning them.
    // min/max state is deliberately absent: extrema cannot retract
    // (ViewMaintenance scaladoc). Cost: O(groups + |cancellations|).
    QueryDef(
      "q_view_retract_maintained",
      (s, dir) => {
        val orders = t(s, dir, "orders")
        val cancelled = col("o_orderkey") % 100 === 7
        val base = orders
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), sum(col("o_totalprice")).as("total"))
        val retractions = orders.filter(cancelled)
          .groupBy("o_orderstatus")
          .agg((-count(lit(1))).as("n"),
            (-sum(col("o_totalprice"))).as("total"))
        graft.operators.ViewMaintenance
          .merge(Seq(base, retractions), Seq("o_orderstatus"),
            Seq("n" -> "sum", "total" -> "sum"))
          .filter(col("n") > 0)
          .select(col("o_orderstatus"), col("n"),
            round(col("total"), 2).as("total"))
      },
      Some("""WITH sliced AS (
             |  SELECT o_orderstatus,
             |    CAST(count(*) AS BIGINT) AS n, sum(o_totalprice) AS s
             |  FROM orders GROUP BY o_orderstatus),
             |retr AS (
             |  SELECT o_orderstatus,
             |    CAST(-count(*) AS BIGINT) AS n, -sum(o_totalprice) AS s
             |  FROM orders WHERE o_orderkey % 100 = 7 GROUP BY o_orderstatus),
             |merged AS (
             |  SELECT o_orderstatus, CAST(sum(n) AS BIGINT) AS n,
             |    round(sum(s), 2) AS total
             |  FROM (SELECT * FROM sliced UNION ALL SELECT * FROM retr)
             |  GROUP BY 1)
             |SELECT o_orderstatus, n, total FROM merged WHERE n > 0""".stripMargin),
      covers = Seq("ext-view-retract")),

    // ------------------------------------------------------------------
    // RETRACTABLE MAX via bounded top-k state — the aggregate the plain
    // z-set pattern above deliberately excludes. Each group's state keeps
    // its k=4 largest live prices plus a FENCE (largest value ever
    // truncated away); deleting the current max repairs from the buffer
    // (up to k−1 deep), and only a group whose buffer can no longer
    // PROVE its head (emptied, or head < fence) falls back to a
    // semi-join-pruned base recompute — never a full rescan
    // (ViewMaintenance.retractTopK/repairExtremum; IncrementalViewSpec
    // pins rebuild-only-on-underflow). Oracle: plain max over survivors.
    QueryDef(
      "q_view_extremum_retract",
      (s, dir) => {
        import graft.operators.ViewMaintenance
        val orders = t(s, dir, "orders")
        val cancelled = col("o_orderkey") % 100 === 7
        // in deployment the prior state IS a stored table; localCheckpoint
        // plays that role here so the refresh DAG reads state once instead
        // of recomputing the rebuild window per downstream reference
        val state0 = ViewMaintenance.rebuildTopK(
          orders, Seq("o_orderstatus"), "o_totalprice", k = 4)
          .localCheckpoint()
        val retractions = orders.filter(cancelled)
          .select(col("o_orderstatus"), col("o_totalprice"), lit(-1L).as("sign"))
        val state1 = ViewMaintenance.retractTopK(
          state0, retractions, Seq("o_orderstatus"), "o_totalprice", "sign", k = 4)
          .localCheckpoint()
        ViewMaintenance.repairExtremum(
          state1, orders.filter(!cancelled), Seq("o_orderstatus"),
          "o_totalprice", "max_price")
          .select(col("o_orderstatus"), round(col("max_price"), 2).as("max_price"))
      },
      Some("""SELECT o_orderstatus, round(max(o_totalprice), 2) AS max_price
             |FROM orders WHERE o_orderkey % 100 != 7
             |GROUP BY 1""".stripMargin),
      covers = Seq("ext-view-extremum-retract")),

    // ------------------------------------------------------------------
    // Incrementally-maintained DISTINCT count (operators.DistinctSketch):
    // the one aggregate ViewMaintenance.merge cannot express as
    // sum/min/max — per-group distinct customers, maintained as KMV
    // sketch STATE per batch and folded at refresh. KMV state (the k
    // smallest distinct hashes) is merge-order independent, so the
    // result is hash-comparable; below k distinct values the state IS
    // the exact set, which is this fixture's regime — the oracle is
    // plain count(DISTINCT). Above k the (k−1)/u_k estimator takes over
    // (DistinctSketchSpec bounds it ±5%); state stays O(k) longs per
    // group, the shuffle carries sketches, never customer ids.
    //
    // REGIME PIN: the hash-exact parity with count(DISTINCT) holds only
    // while every group stays under k=4096 distinct customers. That is
    // guaranteed at the sf0.01 correctness scale (1,500 customers TOTAL)
    // and even sf0.1 (15,000 across ~5 priority groups ≈ 3,000/group,
    // all < k via the ~25% order-participation rate) — but a larger
    // correctness SF (sf1: 150k customers) crosses into the estimator
    // regime and this oracle becomes ±5%, not exact. If the driver ever
    // raises the correctness SF, raise k or swap the oracle to a
    // tolerance check; DistinctSketchSpec covers the estimator regime.
    QueryDef(
      "q_distinct_maintained",
      (s, dir) => {
        import graft.operators.DistinctSketch
        val hashed = t(s, dir, "orders").select(
          col("o_orderpriority").as("grp"),
          DistinctSketch.hashed(col("o_custkey")).as("h"),
          col("o_orderkey"))
        val state = udaf(new DistinctSketch.KmvStateAgg())
        def batch(p: org.apache.spark.sql.Column) = hashed.filter(p)
          .groupBy("grp").agg(state(col("h")).as("st"))
        val view = batch(col("o_orderkey") % 10 =!= 0)
        val delta = batch(col("o_orderkey") % 10 === 0)
        val fold = udaf(new DistinctSketch.KmvMergeAgg())
        view.unionByName(delta)
          .groupBy("grp")
          .agg(fold(col("st")).as("n_customers"))
      },
      Some("""SELECT o_orderpriority AS grp,
             |  CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_customers
             |FROM orders GROUP BY 1""".stripMargin),
      covers = Seq("ext-distinct-maintained")),

    // ------------------------------------------------------------------
    // Robust (modified) z-score per group: 0.6745·(x − median)/MAD — the
    // outlier score that survives the outliers it hunts, where
    // q_anomaly_zscore's mean/σ gets dragged by them. Median and MAD are
    // rank-exact (QuantileSketch.quantilesByKeyExact, quantile_disc
    // semantics), so the score is bit-exact across engines before the
    // final 6-decimal round. Cost shape is the honest two-pass robust
    // price: one key shuffle for the median, one for the deviation
    // median; both stat frames are O(groups) and broadcast back.
    QueryDef(
      "q_robust_zscore",
      (s, dir) => {
        val o = t(s, dir, "orders").select(
          col("o_orderkey"),
          col("o_orderpriority").as("grp"),
          col("o_totalprice").as("v"))
        val med = graft.operators.QuantileSketch
          .quantilesByKeyExact(o, "grp", "v", Seq(0.5))
          .select(col("grp"), col("p50").as("med"))
        val dev = o.join(broadcast(med), Seq("grp"))
          .withColumn("ad", abs(col("v") - col("med")))
        val mad = graft.operators.QuantileSketch
          .quantilesByKeyExact(dev, "grp", "ad", Seq(0.5))
          .select(col("grp"), col("p50").as("mad"))
        dev.join(broadcast(mad), Seq("grp"))
          .select(
            col("o_orderkey"), col("grp"),
            round(lit(0.6745) * (col("v") - col("med")) / col("mad"), 6).as("mz"))
      },
      Some("""WITH med AS (
             |  SELECT o_orderpriority AS grp,
             |    quantile_disc(o_totalprice, 0.5) AS med
             |  FROM orders GROUP BY 1),
             |dev AS (
             |  SELECT o_orderkey, o.o_orderpriority AS grp,
             |    o_totalprice AS v, med
             |  FROM orders o JOIN med ON o.o_orderpriority = med.grp),
             |mad AS (
             |  SELECT grp, quantile_disc(abs(v - med), 0.5) AS mad
             |  FROM dev GROUP BY 1)
             |SELECT o_orderkey, d.grp, round(0.6745 * (v - med) / mad, 6) AS mz
             |FROM dev d JOIN mad USING (grp)""".stripMargin),
      covers = Seq("ext-robust-zscore")),

    // ------------------------------------------------------------------
    // Last-touch attribution: each purchase credits the user's most
    // recent click/view no older than 30 minutes — the product-analytics
    // join that naive formulations write as an event×event self-join and
    // this writes as ONE shuffle on user_id with an IGNORE NULLS
    // last_value over the strictly-preceding frame. Purchases with no
    // qualifying touch stay in the output unattributed (NULL) — they are
    // the "dark conversion" rows an attribution report must count, not
    // drop. Time math in integer MICROS both engines (nanos overflow
    // doubles; see the file header).
    QueryDef(
      "q_attribution",
      (s, dir) => {
        val isTouch = col("event_type").isin("click", "view")
        val frame = Window.partitionBy("user_id")
          .orderBy(col("us"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, -1)
        Session.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("event_type"),
            expr("ts div 1000").as("us"))
          .withColumn("src_id",
            last(when(isTouch, col("event_id")), ignoreNulls = true).over(frame))
          .withColumn("src_us",
            last(when(isTouch, col("us")), ignoreNulls = true).over(frame))
          .filter(col("event_type") === "purchase")
          .select(
            col("event_id").as("purchase_id"), col("user_id"),
            when(col("src_us").isNotNull &&
              col("us") - col("src_us") <= 1800000000L, col("src_id"))
              .as("attributed_to"))
      },
      Some("""WITH e AS (
             |  SELECT event_id, user_id, event_type, epoch_us(ts) AS us
             |  FROM events),
             |m AS (
             |  SELECT *,
             |    last_value(CASE WHEN event_type IN ('click', 'view')
             |      THEN event_id END IGNORE NULLS) OVER w AS src_id,
             |    last_value(CASE WHEN event_type IN ('click', 'view')
             |      THEN us END IGNORE NULLS) OVER w AS src_us
             |  FROM e
             |  WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
             |SELECT event_id AS purchase_id, user_id,
             |  CASE WHEN src_us IS NOT NULL AND us - src_us <= 1800000000
             |       THEN src_id END AS attributed_to
             |FROM m WHERE event_type = 'purchase'""".stripMargin),
      covers = Seq("ext-attribution")),

    // ------------------------------------------------------------------
    // Bounded-horizon EWMA per user (α = 0.25 over the last 16 events):
    // the time-series smoother, written as a FIXED 16-term lag ladder
    // instead of a self-join — one window shuffle on user_id, zero row
    // fan-out. The weight literals render round-trip-exactly into the
    // oracle SQL, but DuckDB still reassociates double addition chains
    // (measured: 1-ulp drift on ~1% of rows, parenthesization
    // ignored), so the score rounds at 6 decimals like every averaged
    // double in the suite. Early rows renormalize over the lags that
    // exist (the den ladder), the standard adjusted-EWMA head treatment.
    QueryDef(
      "q_ewma",
      (s, dir) => {
        val w = Window.partitionBy("user_id").orderBy(col("us"), col("event_id"))
        val num = (0 until EwmaH)
          .map(d => coalesce(lag(col("value"), d).over(w) * lit(EwmaW(d)), lit(0.0)))
          .reduce(_ + _)
        val den = (0 until EwmaH)
          .map(d => when(lag(col("value"), d).over(w).isNotNull, lit(EwmaW(d)))
            .otherwise(lit(0.0)))
          .reduce(_ + _)
        Session.table(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"),
            expr("ts div 1000").as("us"))
          .withColumn("ewma", round(num / den, 6))
          .select(col("event_id"), col("user_id"), col("ewma"))
      },
      Some {
        val num = (0 until EwmaH)
          .map(d => s"coalesce(lag(value, $d) OVER w * ${EwmaW(d)}, 0.0)")
          .mkString(" + ")
        val den = (0 until EwmaH)
          .map(d =>
            s"CASE WHEN lag(value, $d) OVER w IS NOT NULL THEN ${EwmaW(d)} ELSE 0.0 END")
          .mkString(" + ")
        s"""SELECT event_id, user_id, round(($num) / ($den), 6) AS ewma
           |FROM events
           |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)""".stripMargin
      },
      covers = Seq("ext-ewma"))
  )
}
