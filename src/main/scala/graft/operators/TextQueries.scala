package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables._
import graft.functions.CleaningColumns

/** Expression-library and window operators over documents/events/part —
  * each exercises SURVEY §2.3/§2.8 entries with a DuckDB-parity oracle.
  */
object TextQueries {

  /** q11 — F1/F4-style conditional logic: pivoted conditional aggregation.
    * Ref: type canonicalization `core/curator.py:404-419`. */
  def q11ConditionalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lineitem(s, dir)
      .groupBy($"l_linestatus")
      .agg(
        sum(when($"l_returnflag" === "R", $"l_quantity".cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("qty_returned"),
        sum(when($"l_returnflag" === "A", $"l_quantity".cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("qty_accepted"),
        sum(when($"l_returnflag" === "N", $"l_quantity".cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).cast("double").as("qty_none"))
      .orderBy($"l_linestatus")
  }

  val q11Sql: String =
    """SELECT l_linestatus,
      |  CAST(sum(CASE WHEN l_returnflag='R' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_returned,
      |  CAST(sum(CASE WHEN l_returnflag='A' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_accepted,
      |  CAST(sum(CASE WHEN l_returnflag='N' THEN CAST(l_quantity AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_none
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** q12 — E1/E2/E16: string normalization projection (translate-based,
    * stays in whole-stage codegen). Ref: `lib/cleaner.py:73-159,497-499`. */
  def q12StringNorm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .select(
        $"doc_id".cast("long").as("doc_id"),
        CleaningColumns.removeAsciiCol(
          CleaningColumns.normalizeSpacesCol(
            CleaningColumns.normalizeHyphensCol(substring($"text", 1, 60)))).as("norm_prefix"),
        upper($"lang").as("lang_u"))
      // scan->project->sort: the range sampler would re-run the regex
      // normalization over every doc (operators.Answer)
      .transform(Answer.sorted(_, $"doc_id"))
  }

  // Built from the same character tables as the Spark side so the two
  // engines share byte-identical translate arguments.
  val q12Sql: String = {
    val hy = graft.functions.Cleaning.HyphenVariants
    val sp = graft.functions.Cleaning.SpaceVariants
    s"""SELECT CAST(doc_id AS BIGINT) AS doc_id,
       |  trim(regexp_replace(regexp_replace(
       |    replace(translate(translate(substr(text, 1, 60),
       |      '$hy', '${"-" * hy.length}'),
       |      '$sp', '${" " * sp.length}'), '&nbsp;', ' '),
       |    '[\\x00-\\x1f\\x7f\\x80-\\xff]', ' ', 'g'), '\\s+', ' ', 'g')) AS norm_prefix,
       |  upper(lang) AS lang_u
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** q13 — E10/E11-style regex extraction: first numeric token and token
    * count per document. Ref: `lib/master_of_regex.py:35-63`. */
  def q13RegexExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .select(
        $"doc_id".cast("long").as("doc_id"),
        regexp_extract($"text", "([0-9]+)", 1).as("first_num"),
        size(split($"text", " ")).cast("long").as("n_tokens"))
      .orderBy($"doc_id")
  }

  val q13Sql: String =
    """SELECT CAST(doc_id AS BIGINT) AS doc_id,
      |  coalesce(regexp_extract(text, '([0-9]+)', 1), '') AS first_num,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  /** q14 — E4/E17-style date precision bucketing: events per UTC day.
    * `ts` may be epoch-ns BIGINT or timestamp[us]; normalized via
    * [[graft.Tables.tsEpochNanos]]. */
  def q14DateTrunc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = events(s, dir)
    ev
      .withColumn("day",
        date_format(timestamp_micros((tsEpochNanos(ev) / 1000L).cast("long")), "yyyy-MM-dd"))
      .groupBy($"day")
      .agg(count(lit(1)).cast("long").as("n"),
        sum($"value".cast("decimal(18,2)")).cast("double").as("total"))
      .orderBy($"day")
  }

  val q14Sql: String =
    """SELECT strftime(ts, '%Y-%m-%d') AS day, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
      |FROM events GROUP BY day ORDER BY day""".stripMargin

  /** q15 — W5: first-2-per-key early exit (curator.py:799-817) as a
    * rank-limited window over part prices per brand. */
  def q15TopKPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"p_brand").orderBy($"p_retailprice".desc, $"p_partkey")
    part(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .select($"p_brand", $"rn".cast("long").as("rn"),
        $"p_partkey".cast("long").as("p_partkey"),
        $"p_retailprice".cast("decimal(18,2)").cast("double").as("price"))
      .orderBy($"p_brand", $"rn")
  }

  val q15Sql: String =
    """SELECT p_brand, CAST(rn AS BIGINT) AS rn, CAST(p_partkey AS BIGINT) AS p_partkey,
      |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price
      |FROM (SELECT *, row_number() OVER (PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part)
      |WHERE rn <= 2 ORDER BY p_brand, rn""".stripMargin

  /** q16 — G1-style explode+distinct: distinct vocabulary size per lang.
    * Ref: identifier collection `core/curator.py:46-98`. */
  def q16ExplodeDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    documents(s, dir)
      .select($"lang", explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") > 0)
      .groupBy($"lang")
      .agg(countDistinct($"tok").cast("long").as("vocab"),
        count(lit(1)).cast("long").as("tokens"))
      .orderBy($"lang")
  }

  val q16Sql: String =
    """SELECT lang, CAST(count(DISTINCT tok) AS BIGINT) AS vocab,
      |  CAST(count(*) AS BIGINT) AS tokens
      |FROM (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents)
      |WHERE len(tok) > 0
      |GROUP BY lang ORDER BY lang""".stripMargin

  /** q17 — G2: group-to-ordered-list index build (curator.py:1045-1101):
    * suppliers per nation as a sorted joined string. */
  def q17CollectSorted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    supplier(s, dir)
      .join(broadcast(nation(s, dir)), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(concat_ws("|", array_sort(collect_list($"s_name"))).as("suppliers"),
        count(lit(1)).cast("long").as("n"))
      .orderBy($"n_name")
  }

  val q17Sql: String =
    """SELECT n_name, string_agg(s_name, '|' ORDER BY s_name) AS suppliers,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** q18 — G3-style running window: cumulative value per user over time
    * (users 0..49 to bound output size). */
  def q18RunningSum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, dir)
      .filter($"user_id" < 50)
      .withColumn("running", sum($"value".cast("decimal(18,2)")).over(w).cast("double"))
      .select($"user_id".cast("long").as("user_id"),
        $"event_id".cast("long").as("event_id"), $"running")
      .orderBy($"user_id", $"event_id")
  }

  val q18Sql: String =
    """SELECT CAST(user_id AS BIGINT) AS user_id, CAST(event_id AS BIGINT) AS event_id,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running
      |FROM events WHERE user_id < 50 ORDER BY user_id, event_id""".stripMargin

  /** q19 — G6/J12: Levenshtein-scored candidate pairs within a blocking key
    * (brand), the reference's fuzzy-match join shape
    * (`lib/bibliographic_matching.py:185-259`).
    *
    * Semantics are the ORIGINAL unblocked within-brand definition (every
    * pair sharing a brand, edit distance <= 8) — a round-3 variant that
    * additionally blocked on the first name letter was rolled back because
    * it silently dropped cross-letter matches and made the oracle blind to
    * the recall loss. The skew problem that motivated it (~25 brands caps
    * parallelism at 25 and the biggest brand bounds wall time) is solved
    * WITHOUT changing the result set by bucket-pair decomposition: each
    * row is hashed into one of B buckets, every unordered bucket pair
    * (i<=j) becomes a join key, and each row is replicated to the pair
    * keys its bucket participates in. A brand's quadratic work then
    * spreads over B*(B+1)/2 balanced tasks instead of one. Replication is
    * O(B·n) rows shuffled — linear, tunable, and at 100 TB this is the
    * standard exact self-join de-skew (same trick as a salted join, but
    * loss-free for pair generation). The per-pair cost is additionally
    * cut by the bit-parallel Myers kernel ([[graft.plans.Lev]]) — O(1)
    * length-gap exit, then O(text) word ops instead of a DP band — with
    * the built-in's `-1`-beyond-threshold contract (LevSpec proves
    * equality with `levenshtein(l, r, 8)` on these names).
    */
  def q19Levenshtein(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val B = 8
    val p = part(s, dir).select($"p_brand", $"p_partkey", $"p_name",
      pmod(xxhash64($"p_partkey"), lit(B)).cast("int").as("bkt"))
    // left side: bucket b serves pair keys (b, j) for j >= b
    val lhs = p.withColumn("pk", explode(expr(s"transform(sequence(bkt, ${B - 1}), j -> bkt * $B + j)")))
      .select($"p_brand", $"pk", $"bkt".as("b1"), $"p_partkey".as("k1"), $"p_name".as("name1"))
    // right side: bucket b serves pair keys (i, b) for i <= b
    val rhs = p.withColumn("pk", explode(expr(s"transform(sequence(0, bkt), i -> i * $B + bkt)")))
      .select($"p_brand", $"pk", $"bkt".as("b2"), $"p_partkey".as("k2"), $"p_name".as("name2"))
    val matched = lhs.join(rhs, Seq("p_brand", "pk"))
      // same-bucket key sees both orientations -> keep k1<k2; a cross-bucket
      // key sees each unordered pair exactly once -> keep both orientations
      // and canonicalize below.
      .filter(($"b1" =!= $"b2" && $"k1" =!= $"k2") || $"k1" < $"k2")
      .withColumn("dist", graft.plans.VectorExpressions.lev($"name1", $"name2", 8))
      .filter($"dist" >= 0)
      .select($"p_brand",
        least($"k1", $"k2").cast("long").as("k1"),
        greatest($"k1", $"k2").cast("long").as("k2"),
        $"dist".cast("long").as("dist"))
    // answer-mass checkpoint before the output sort: the range sampler
    // otherwise re-runs the 8M-pair join+lev pass (see operators.Answer)
    Answer.sorted(matched, $"p_brand", $"k1", $"k2")
  }

  val q19Sql: String =
    """SELECT a.p_brand AS p_brand, CAST(a.p_partkey AS BIGINT) AS k1, CAST(b.p_partkey AS BIGINT) AS k2,
      |  CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
      |FROM part a JOIN part b ON a.p_brand = b.p_brand AND a.p_partkey < b.p_partkey
      |WHERE levenshtein(a.p_name, b.p_name) <= 8
      |ORDER BY p_brand, k1, k2""".stripMargin

  /** The synthetic bibliographic-metadata frame shared by q21/q22: part
    * columns stand in for the reference's metadata dict (family/given/
    * title/venue/issn/year/volume/issue/pages,
    * `lib/bibliographic_matching.py:167-178`). */
  private def biblioMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    part(s, dir).select(
      $"p_partkey", $"p_brand", substring($"p_name", 1, 1).as("blk"),
      lower($"p_type").as("family"), $"p_type".as("given"),
      lower($"p_name").as("title"), reverse(lower($"p_name")).as("venue"),
      when($"p_size" % 3 === 0, $"p_type").otherwise(lit("")).as("issn"),
      $"p_size".cast("string").as("year"),
      ($"p_size" % 10).cast("string").as("volume"),
      ($"p_partkey" % 5).cast("string").as("issue"),
      ($"p_size" * 10).cast("string").as("start_page"),
      ($"p_size" * 10 + $"p_partkey" % 3).cast("string").as("end_page"))
  }

  /** q21 — G6: the reference's full weighted matching score
    * (`compute_matching_score`, bibliographic_matching.py:185-259) over
    * brand-blocked part pairs. The part columns stand in for the
    * bibliographic metadata dict (family/given/title/venue/issn/year/
    * volume/issue/pages); the arithmetic is the exact 7/14/5/14 weighted
    * formula, threshold = the reference's MATCHING_THRESHOLD (25.0). */
  def q21MatchScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = biblioMeta(s, dir)
    val blockCols = Seq("p_brand", "blk")
    def side(n: String) = m.select(blockCols.map(col) ++ m.columns
      .filterNot(blockCols.contains).map(c => col(c).as(s"${c}_$n")): _*)
    side("a").join(side("b"), blockCols)
      .filter($"p_partkey_a" < $"p_partkey_b")
      .withColumn("score", graft.functions.BiblioMatch.matchingScore(
        $"family_a", $"family_b", $"given_a", $"given_b",
        $"title_a", $"title_b", $"venue_a", $"venue_b", $"issn_a", $"issn_b",
        $"year_a", $"year_b", $"volume_a", $"volume_b",
        $"issue_a", $"issue_b", $"start_page_a", $"start_page_b",
        $"end_page_a", $"end_page_b"))
      .filter($"score" >= graft.functions.BiblioMatch.MatchingThreshold)
      .select($"p_partkey_a".cast("long").as("k1"),
        $"p_partkey_b".cast("long").as("k2"), $"score")
      .transform(Answer.sorted(_, $"k1", $"k2"))
  }

  /** DuckDB mirror of [[biblioMeta]] (the shared m CTE body). */
  private val metaSqlCte: String =
    """SELECT p_partkey, p_brand, substr(p_name, 1, 1) AS blk,
      |    lower(p_type) AS family, p_type AS given, lower(p_name) AS title,
      |    reverse(lower(p_name)) AS venue,
      |    CASE WHEN p_size % 3 = 0 THEN p_type ELSE '' END AS issn,
      |    CAST(p_size AS VARCHAR) AS year,
      |    CAST(p_size % 10 AS VARCHAR) AS volume,
      |    CAST(p_partkey % 5 AS VARCHAR) AS issue,
      |    CAST(p_size * 10 AS VARCHAR) AS start_page,
      |    CAST(p_size * 10 + p_partkey % 3 AS VARCHAR) AS end_page
      |  FROM part""".stripMargin

  /** DuckDB mirror of [[graft.functions.BiblioMatch.matchingScore]] over
    * row aliases a/b, in the same association order so both engines
    * produce bit-identical IEEE 754 doubles. */
  private val scoreSqlExpr: String =
    """7 * (CASE WHEN len(a.family)=0 OR len(b.family)=0 THEN 0.0
      |         ELSE 0.8 * (1.0 - CAST(levenshtein(a.family,b.family) AS DOUBLE)/CAST(greatest(len(a.family),len(b.family)) AS DOUBLE))
      |              + (CASE WHEN len(a.given)>0 AND len(b.given)>0 AND lower(substr(a.given,1,1))=lower(substr(b.given,1,1)) THEN 0.2 ELSE 0.0 END) END)
      |    + 14 * (CASE WHEN len(a.title)=0 OR len(b.title)=0 THEN 0.0
      |         ELSE 1.0 - CAST(levenshtein(a.title,b.title) AS DOUBLE)/CAST(greatest(len(a.title),len(b.title)) AS DOUBLE) END)
      |    + 5 * (CASE WHEN len(a.issn)>0 AND len(b.issn)>0 AND a.issn=b.issn THEN 1.0
      |           WHEN len(a.venue)=0 OR len(b.venue)=0 THEN 0.0
      |           ELSE greatest(0.0, 1.0 - CAST(levenshtein(a.venue,b.venue) - abs(len(a.venue)-len(b.venue)) AS DOUBLE)/CAST(least(len(a.venue),len(b.venue)) AS DOUBLE)) END)
      |    + 14 * ((CASE WHEN len(a.year)>0 AND len(b.year)>0 AND a.year=b.year THEN 0.1 ELSE 0.0 END)
      |          + (CASE WHEN len(a.volume)>0 AND len(b.volume)>0 AND a.volume=b.volume THEN 0.2 ELSE 0.0 END)
      |          + (CASE WHEN len(a.issue)>0 AND len(b.issue)>0 AND a.issue=b.issue THEN 0.1 ELSE 0.0 END)
      |          + (CASE WHEN len(a.start_page)>0 AND len(b.start_page)>0 AND a.start_page=b.start_page THEN 0.3 ELSE 0.0 END)
      |          + (CASE WHEN len(a.end_page)>0 AND len(b.end_page)>0 AND a.end_page=b.end_page THEN 0.3 ELSE 0.0 END))""".stripMargin

  val q21Sql: String =
    "WITH m AS (\n  " + metaSqlCte + "\n), sc AS (\n" +
      "  SELECT a.p_partkey AS k1, b.p_partkey AS k2,\n    " + scoreSqlExpr + " AS score\n" +
      "  FROM m a JOIN m b ON a.p_brand = b.p_brand AND a.blk = b.blk AND a.p_partkey < b.p_partkey\n" +
      ")\nSELECT CAST(k1 AS BIGINT) AS k1, CAST(k2 AS BIGINT) AS k2, score\n" +
      "FROM sc WHERE score >= 25.0 ORDER BY k1, k2"

  /** q22 — the PRODUCTION-shaped fuzzy-match pipeline (the round-3/4 plan
    * item): MinHash-LSH candidate generation fronting the full weighted
    * matching score, replacing q19/q21's quadratic-per-block self-joins
    * with a shuffle-bounded candidate stage.
    *
    * Semantics (both conditions are part of the query definition, so the
    * exact DuckDB oracle — whose shared-shingle candidate join has perfect
    * recall for any pair with J > 0 — proves the LSH path loses nothing at
    * this SF; the same trick that gates q32 against q31): a pair qualifies
    * iff
    *   - Jaccard of word-bigram shingles of the field-tagged metadata
    *     record string >= 0.5, and
    *   - the weighted matching score >= 25 (the reference's
    *     MATCHING_THRESHOLD, lib/bibliographic_matching.py:40,185-259).
    * Bigrams rather than unigrams kill incidental single-token overlap
    * (shared year/volume tokens across unrelated records), and the
    * y/v/i/sp/ep field tags keep equal values in different fields from
    * colliding. bands=128, rows=3 puts the LSH knee at the 0.5 threshold:
    * miss probability per qualifying pair is (1-0.5^3)^128 ~ 4e-8 (fixed
    * hash seeds make each dataset deterministic — verified at sf0.01 and
    * sf0.1), while a J=0.1 background pair is generated with probability
    * ~0.12, so candidates stay near the qualifying set instead of O(n^2).
    * At 100 TB this is the fuzzy-match production path: O(docs * bands)
    * candidate shuffle, verify cost proportional to candidates, no
    * blocking-key skew — the answer to q19/q21's within-block quadratic
    * cost. Measured funnel at sf0.1 (20k records): 4.39M band-collision
    * candidates -> 92k Jaccard-verified -> 58k score-qualified pairs, with
    * the candidate stage ~55% of runtime — the cost tracks the corpus's
    * genuine near-threshold pair mass (the J in [0.35, 0.5) band collides
    * with p > 0.99 at these parameters), not banding overhead, so the
    * remaining tuning lever is the r/b operating point, bounded by the
    * 4e-8 per-pair miss budget that keeps the oracle exact. */
  def q22LshMatchScore(s: SparkSession, dir: String): DataFrame =
    // DEFAULT = the corpus-sized auto operating point (r16): the fixed
    // 128x3 parameterization returns the identical oracle-exact answer
    // but was measured 1.75x slower at sf0.1 (27.9 vs 15.9 s) and its
    // candidate mass grows ~n^2 * Jbg^3 up the ladder — there is no
    // reason a user should get it by default. The fixed point survives
    // as [[q22LshMatchScoreFixed]], the SCALE gate anchor and the spec's
    // auto==fixed identity witness.
    q22Funnel(s, dir, auto = true)

  /** The fixed (128 bands x 3 rows) anchor parameterization — kept for
    * the scale ladder's measured-blowup gate and the OperatorsSpec
    * identity check; production callers get the auto point via
    * [[q22LshMatchScore]]. */
  def q22LshMatchScoreFixed(s: SparkSession, dir: String): DataFrame =
    q22Funnel(s, dir, auto = false)

  /** q22 at the CORPUS-SIZED operating point ([[Dedup.lshAutoParams]]):
    * rows grows ~log10(n/2000) to hold background candidate mass per doc
    * flat, bands re-solves the 4e-8 per-qualifying-pair miss budget — so
    * this stays oracle-exact at every n (same q22Sql oracle) while the
    * fixed 128x3 anchor's candidate stage grows ~n^2 * Jbg^3 (its verify
    * join was the engine's only measured spill at 10x corpus). At gate
    * corpora (n <= 2000) the parameters resolve to the anchor point, so
    * anchor == auto there — asserted in OperatorsSpec. */
  def q22LshMatchScoreAuto(s: SparkSession, dir: String): DataFrame =
    q22Funnel(s, dir, auto = true)

  private def q22Funnel(s: SparkSession, dir: String, auto: Boolean): DataFrame = {
    import s.implicits._
    val m = biblioMeta(s, dir).cache()
    val record = concat_ws(" ", $"title", $"family", $"given", $"issn",
      concat(lit("y"), $"year"), concat(lit("v"), $"volume"),
      concat(lit("i"), $"issue"), concat(lit("sp"), $"start_page"),
      concat(lit("ep"), $"end_page"))
    // conditional fan-out before the shingle/minhash projection: a
    // single-file scan is ONE partition, which would serialize the
    // per-record set build onto one core (see Dedup.fanOutSmallScan —
    // no corpus-wide exchange when the scan is already split).
    val sets = Dedup.fanOutSmallScan(m)
      .select($"p_partkey".cast("long").as("doc_id"),
        Dedup.shingleHashes(record, 2).as("hv"))
      .filter(size($"hv") > 0)
      .cache()
    val nRecords = sets.count()
    val (bands, rows) =
      if (auto) Dedup.lshAutoParams(nRecords, threshold = 0.5) else (128, 3)
    // exact-Jaccard verify pushed INSIDE the band-group slices as the
    // refine: it runs per occurrence in the band-join pipeline (over the
    // broadcast sets frame past jaccardVerify's measured-size arm), so
    // the sub-threshold candidate bulk dies as compute and the per-slice
    // exchange/spill carries jac-survivors only. The metadata fetch and
    // weighted score deliberately stay OUTSIDE the slices: score costs
    // three Myers-Levenshteins over wide meta rows per evaluation, and
    // running it per occurrence was a measured 76x per-row slowdown at
    // the 100x corpus — after the cross-slice dedup it runs exactly once
    // per distinct pair.
    val pairs = Dedup.lshCandidatePairsRefined(sets, bands, rows,
      c => Dedup.jaccardVerify(c, sets, 0.5, nRecords, sorted = false),
      nDocsKnown = nRecords)
    // meta sides broadcast when the cached frame measures small (short
    // bibliographic rows — ~300 MB at the 2M-record 100x point), so the
    // pair stream never crosses an exchange for the fetch; shuffle-hash
    // (never sort-merge: sorting the pair stream with wide meta columns
    // attached was a measured ~1.5 GB spill at 10x) is the fallback past
    // the broadcast budget. The budget is SHARED across every broadcast
    // this one physical plan can hold live at once: both meta sides
    // (ReuseExchange collapses them to one physical broadcast, but we
    // budget each defensively) PLUS jaccardVerify's sets broadcast when
    // its measured-size arm fires inside the funnel slices — at -Xmx8g
    // three independently-budgeted 800 MB relations would OOM the build.
    val budget = BigInt(800L * 1024 * 1024)
    // charge = measured size only when the stats ARE a measurement; the
    // small-docs broadcast arm fires on unmeasured frames, where the
    // charge is the broadcast ceiling (Dedup.verifyBroadcastCharge)
    val verifyBytes = Dedup.verifyBroadcastCharge(sets, nRecords)
    val mBytes =
      if (Dedup.statsAreMeasured(m)) Dedup.measuredBytes(m)
      else BigInt(Long.MaxValue) // unmeasured cache: never trust-broadcast
    val metaBcast = mBytes * 2 + verifyBytes <= budget
    def side(n: String) = {
      val r = m.select(m.columns.map(c => col(c).as(s"${c}_$n")): _*)
      if (metaBcast) broadcast(r) else r.hint("shuffle_hash")
    }
    pairs
      .join(side("a"), $"d1" === $"p_partkey_a")
      .join(side("b"), $"d2" === $"p_partkey_b")
      .withColumn("score", graft.functions.BiblioMatch.matchingScore(
        $"family_a", $"family_b", $"given_a", $"given_b",
        $"title_a", $"title_b", $"venue_a", $"venue_b", $"issn_a", $"issn_b",
        $"year_a", $"year_b", $"volume_a", $"volume_b",
        $"issue_a", $"issue_b", $"start_page_a", $"start_page_b",
        $"end_page_a", $"end_page_b"))
      .filter($"score" >= graft.functions.BiblioMatch.MatchingThreshold)
      .select($"d1".cast("long").as("k1"), $"d2".cast("long").as("k2"),
        $"jac", $"score")
      .transform(Answer.sorted(_, $"k1", $"k2"))
  }

  val q22Sql: String =
    "WITH m AS (\n  " + metaSqlCte + "\n" +
      """), toks AS (
        |  SELECT p_partkey, list_filter(string_split(concat_ws(' ', title, family, given, issn,
        |    'y'||year, 'v'||volume, 'i'||issue, 'sp'||start_page, 'ep'||end_page), ' '), t -> len(t) > 0) AS t
        |  FROM m
        |), sh AS (
        |  SELECT p_partkey, list_distinct([array_to_string(t[i:i+1], ' ') for i in range(1, len(t))]) AS s
        |  FROM toks WHERE len(t) >= 2
        |), ex AS (
        |  SELECT p_partkey, unnest(s) AS sg FROM sh
        |), cand AS (
        |  SELECT DISTINCT x.p_partkey AS k1, y.p_partkey AS k2
        |  FROM ex x JOIN ex y ON x.sg = y.sg AND x.p_partkey < y.p_partkey
        |), j AS (
        |  SELECT k1, k2, len(list_intersect(x.s, y.s))::DOUBLE / len(list_distinct(x.s || y.s)) AS jac
        |  FROM cand JOIN sh x ON x.p_partkey = k1 JOIN sh y ON y.p_partkey = k2
        |), sc AS (
        |  SELECT j.k1, j.k2, j.jac,
        |    """.stripMargin + scoreSqlExpr + """ AS score
        |  FROM j JOIN m a ON a.p_partkey = j.k1 JOIN m b ON b.p_partkey = j.k2
        |  WHERE j.jac >= 0.5
        |)
        |SELECT CAST(k1 AS BIGINT) AS k1, CAST(k2 AS BIGINT) AS k2, round(jac, 6) AS jac, score
        |FROM sc WHERE score >= 25.0 ORDER BY k1, k2""".stripMargin

  /** q60 — the D11 chain END-TO-END as one oracle row: Crossref
    * works-API response parsing ([[graft.sources.CrossrefMeta
    * .fromMessages]], S13) feeding the reference's full weighted
    * matching score (G6/J12, `lib/bibliographic_matching.py:86-259`)
    * against store-side candidate metadata — the parse -> block ->
    * score flow `find_broken_dois.py` runs per unresolved DOI.
    *
    * Deterministic message construction from `part` (one API response
    * per record, partkey < 200), with the messiness the extraction
    * rules exist for: padded mixed-case titles (lower+trim), padded
    * given names (trim, case kept), ISSN arrays empty on 2/3 of rows
    * (get(0) -> null -> ""), year via issued.date-parts[0][0], page as
    * "start-end" split at the FIRST hyphen. The extracted ten fields
    * then score against the q21 store metadata within a
    * title-first-letter block. Pure column arithmetic end-to-end — the
    * DuckDB oracle replays the chain by computing the extracted values
    * directly from `part`, so a hash match proves parse ∘ score ==
    * direct computation (the extraction rules themselves are
    * additionally fixture-golden in BiblioMatchGoldenSpec). */
  def q60CrossrefMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val msgs = part(s, dir)
      .filter($"p_partkey" < 200)
      .select(struct(
        concat(lit("10.1/"), $"p_partkey").as("DOI"),
        array(concat(lit("  "), initcap($"p_name"), lit("   "))).as("title"),
        array(struct(upper($"p_type").as("family"),
          concat(lit(" "), $"p_type", lit(" ")).as("given"))).as("author"),
        struct(array(array($"p_size".cast("long"))).as("date-parts")).as("issued"),
        array(upper(reverse($"p_name"))).as("container-title"),
        when($"p_size" % 3 === 0, array($"p_type"))
          .otherwise(array().cast("array<string>")).as("ISSN"),
        ($"p_size" % 10).cast("string").as("volume"),
        ($"p_partkey" % 5).cast("string").as("issue"),
        concat(($"p_size" * 10).cast("string"), lit("-"),
          ($"p_size" * 10 + $"p_partkey" % 3).cast("string")).as("page"))
        .as("message"))
    val cx = graft.sources.CrossrefMeta.fromMessages(msgs)
      .withColumn("blk", lower(substring($"title", 1, 1)))
    val m = biblioMeta(s, dir)
      .withColumn("blk", lower($"blk"))
    def side(df: DataFrame, n: String, keep: Seq[String]) =
      df.select((keep.map(col) ++ df.columns.filterNot(keep.contains)
        .map(c => col(c).as(s"${c}_$n"))): _*)
    side(cx, "a", Seq("blk")).join(side(m, "b", Seq("blk")), Seq("blk"))
      .withColumn("score", graft.functions.BiblioMatch.matchingScore(
        $"family_a", $"family_b", $"given_a", $"given_b",
        $"title_a", $"title_b", $"venue_a", $"venue_b", $"issn_a", $"issn_b",
        $"year_a", $"year_b", $"volume_a", $"volume_b",
        $"issue_a", $"issue_b", $"start_page_a", $"start_page_b",
        $"end_page_a", $"end_page_b"))
      .filter($"score" >= graft.functions.BiblioMatch.MatchingThreshold)
      .select($"doi_a".as("doi"), $"p_partkey_b".cast("long").as("k2"), $"score")
      .transform(Answer.sorted(_, $"doi", $"k2"))
  }

  val q60Sql: String =
    "WITH m AS (\n  " + metaSqlCte + "\n" +
      """), cx AS (
        |  SELECT '10.1/'||p_partkey AS doi, lower(p_name) AS title,
        |    lower(p_type) AS family, p_type AS given,
        |    CAST(p_size AS VARCHAR) AS year, reverse(lower(p_name)) AS venue,
        |    CASE WHEN p_size % 3 = 0 THEN p_type ELSE '' END AS issn,
        |    CAST(p_size % 10 AS VARCHAR) AS volume,
        |    CAST(p_partkey % 5 AS VARCHAR) AS issue,
        |    CAST(p_size * 10 AS VARCHAR) AS start_page,
        |    CAST(p_size * 10 + p_partkey % 3 AS VARCHAR) AS end_page
        |  FROM part WHERE p_partkey < 200
        |), sc AS (
        |  SELECT a.doi, b.p_partkey AS k2,
        |    """.stripMargin + scoreSqlExpr + """ AS score
        |  FROM cx a JOIN m b ON substr(a.title, 1, 1) = lower(b.blk)
        |)
        |SELECT doi, CAST(k2 AS BIGINT) AS k2, score
        |FROM sc WHERE score >= 25.0 ORDER BY doi, k2""".stripMargin

  /** q20 — J6/G3: first-non-empty propagation per entity (curator.py
    * 1370-1386): earliest non-empty props value per user. */
  def q20FirstNonEmpty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    events(s, dir)
      .filter($"props".isNotNull && length($"props") > 0)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"user_id".cast("long").as("user_id"), $"props".as("first_props"))
      .orderBy($"user_id")
  }

  val q20Sql: String =
    """SELECT CAST(user_id AS BIGINT) AS user_id, props AS first_props
      |FROM (SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS rn
      |      FROM events WHERE props IS NOT NULL AND len(props) > 0)
      |WHERE rn = 1 ORDER BY user_id""".stripMargin
}
