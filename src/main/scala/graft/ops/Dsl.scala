package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Tables

/** ES Query-DSL compiler — the JSON query language the reference's
  * consumers actually write against the index the service maintains
  * (es.go builds its cluster for exactly this API; mapping.json:13-38
  * declares the text + keyword fields the clauses below address). A
  * user migrating from the reference hands the SAME JSON to
  * [[searchDslOf]] and gets the same bool/match/term/range semantics,
  * compiled into ONE declarative Spark plan instead of interpreted
  * per-document.
  *
  * Supported clauses (the ES core an ingest-search service serves):
  * `bool` (must / should / must_not / filter / minimum_should_match),
  * `match` (analyzed OR-of-terms, BM25-scored, on either analyzed
  * field — `text` or the title-like `head`, mapping.json's name/type
  * pair — with an optional clause `boost`), `multi_match`
  * (`best_fields` dis_max across per-field BM25 scores with `^boost`
  * field weights — the ES `fields: ["name^2", "type"]` convention),
  * `match_phrase` (adjacency, scored as a term with tf = POSITIONAL
  * phrase frequency — overlapping occurrences count, Lucene's exact
  * semantics), `term` (keyword/numeric equality — scores PURE IDF in
  * query context, the exact Lucene number for a norms-off keyword
  * field: tf=1 and dl=1 make BM25's tf part (1·(k1+1))/(1+k1) ≡ 1),
  * `terms` (OR-of-equalities, unscored — the constant-score
  * convention), `range` (gte/gt/lte/lt), `exists`, `ids`, `prefix` /
  * `wildcard` (doc-value string matching; `*`/`?` translate to one
  * anchored regex both engines evaluate), `constant_score` (a
  * filter-context child scoring its constant `boost`), `dis_max`
  * (best branch + `tie_breaker` × the rest), `match_all`. Body keys
  * beyond `query`/`size`: `from` offset paging (bounded by the ES
  * result window), `sort` (doc-value fields and `_score`, asc/desc,
  * NULLS LAST — and a field-only sort skips score evaluation AND the
  * statistics aggregate entirely, ES's `track_scores: false`), and
  * `_source` include lists (hits carry rk + doc_id + the requested
  * doc-value fields). Anything else — clause types, bool sections,
  * body keys, AND clause-level modifier keys (`operator`,
  * `fuzziness`, …) — refuses LOUDLY with the supported set named: a
  * silently-dropped clause or modifier would return hits ES excludes,
  * the worst failure mode a query language can have.
  *
  * Scoring: query-context clauses (must, should) sum their
  * contributions — [[Search.bm25ScoreOf]], the ONE score expression
  * the scan and index paths share, so a DSL `match` ranks
  * bit-identically to [[Search.bm25TopK]]. Filter-context clauses
  * (filter, must_not) gate matching with no score — ES's own
  * filter-context contract — and their clauses contribute NO
  * statistics either: a filter-context `match` needs its tf columns
  * for the predicate but no df/N/Σdl, so none are aggregated for it.
  * A `should` beside a `must` is optional (minimum_should_match
  * defaults 0) but still adds score when it hits; alone it defaults
  * to minimum_should_match 1 — both ES defaults.
  *
  * The ORACLE IS GENERATED FROM THE SAME AST ([[dslSql]]): one
  * recursion emits the Spark Column and the DuckDB SQL text in
  * lockstep, so predicate structure and floating-point ADDITION ORDER
  * are identical by construction — any supported DSL query is
  * oracle-checkable for free, not just the registered ones.
  *
  * Shape at 100 TB: identical to [[Search.bm25ScoredOf]] — one corpus
  * scan projecting codegen'd per-term counts plus ONLY the fields the
  * query references (column pruning reaches the parquet scan), one
  * 1-row broadcast stats aggregate, top-k as TakeOrderedAndProject.
  * A SCORELESS query (no query-context clause producing a score)
  * skips the stats aggregate and broadcast join entirely, and a query
  * with no match/phrase clause at all never reads or tokenizes the
  * text column — a pure-filter DSL query compiles to exactly the
  * pushed-down parquet filter + top-k, nothing more (DslSpec pins the
  * plan). */
object Dsl {

  /** Handles of the frames [[share]] persists. The sharing operators
    * return LAZY DataFrames — the final consuming action happens at
    * the caller — so a frame cannot self-unpersist after "its" action.
    * Instead every share registers here and (a) a bounded ring evicts
    * (unpersists, non-blocking) the oldest beyond [[PersistedFrameCap]]
    * — safe because a share is an optimization, never a correctness
    * requirement: an evicted frame's lineage simply recomputes — and
    * (b) [[releasePersisted]] drops everything, wired into
    * `Tables.invalidate`, so a long-lived session serving many
    * agg/msearch calls does not accumulate disk-cached blocks for the
    * app lifetime. */
  private val persistedFrames =
    scala.collection.mutable.Queue.empty[DataFrame]
  private val PersistedFrameCap = 32

  /** The one way to share a frame: `df` materializes once and every
    * consumer — the branches of one plan, the actions of one request —
    * reads that materialization. `df` persists DISK_ONLY, registers in
    * the ring, and the returned frame's plan IS the cached relation
    * (`Bridge.cachedLeaf`), so:
    *  - every branch reads the one cache, self-union and self-join
    *    branches included. Nothing rests on CacheManager plan matching,
    *    which union deduplication and grouping-sets re-aliasing defeat
    *    (measured: a 3-request msearch ran 4 corpus scans, a 10-cell
    *    adjacency matrix 11);
    *  - reads stay columnar: an RDD wrap (`createDataFrame(df.rdd)`)
    *    pays a Row↔InternalRow round-trip per consumer (measured on
    *    `Search.queryExpansionOf`: slower than the six corpus tokenize
    *    passes it replaced);
    *  - nothing executes until an action: an RDD wrap runs the frame
    *    under AQE when it is built;
    *  - the planner sees the cached plan's statistics, not an RDD's
    *    default huge size, so joins above it keep their broadcast;
    *  - lineage is kept: a lost block, a ring eviction or
    *    [[releasePersisted]] recomputes the frame, where a
    *    `localCheckpoint` fails the job.
    * DISK_ONLY because shared frames are corpus- or candidate-grain:
    * local-disk blocks for the life of a request, never heap. */
  private[ops] def share(df: DataFrame): DataFrame = {
    val persisted = df.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    // the leaf is taken before the frame enters the ring, which another
    // thread's share may evict from
    val leaf = org.apache.spark.sql.graftbridge.Bridge.cachedLeaf(persisted)
    synchronized {
      persistedFrames.enqueue(persisted)
      while (persistedFrames.size > PersistedFrameCap)
        persistedFrames.dequeue().unpersist(blocking = false)
    }
    leaf
  }

  /** Unpersist every shared frame (lineage keeps later actions
    * correct — they recompute). Called by `Tables.invalidate`
    * and usable directly by a serving layer between batches. */
  def releasePersisted(): Unit = synchronized {
    persistedFrames.dequeueAll(_ => true)
      .foreach(_.unpersist(blocking = false))
  }

  /** Test seam: number of currently-tracked shared frames. */
  private[graft] def persistedFrameCount: Int =
    synchronized(persistedFrames.size)

  // ------------------------------------------------------------- AST

  sealed trait Node
  final case class BoolQ(must: Seq[Node], should: Seq[Node],
      mustNot: Seq[Node], filter: Seq[Node],
      minShould: Option[Int]) extends Node
  final case class MatchQ(field: String, terms: Seq[String],
      boost: BigDecimal, andOp: Boolean) extends Node
  /** A `match` with `fuzziness`: each analyzed term carries its edit
    * budget (resolved at parse — "AUTO" maps per term length, the ES
    * AUTO:3,6 law). A term matches any corpus TOKEN within that many
    * Levenshtein edits; tf counts matching tokens and df counts docs
    * holding any — the expansion treated as ONE pseudo-term for BM25
    * (deterministic and oracle-able; ES's blended per-expansion dfs
    * are scorer-internal, this is the documented stand-in — the
    * `fuzzy_match` operator's stance applied to the DSL). Both engines
    * run the same classic edit-distance DP, so the match set is
    * engine-exact. */
  final case class MatchFzQ(field: String, terms: Seq[(String, Int)],
      boost: BigDecimal, andOp: Boolean) extends Node
  /** `mostFields` = ES `type: "most_fields"`: per-field scores SUM
    * instead of taking the best (`best_fields` dis_max) — the
    * "same text analyzed different ways" pattern. Matching is
    * identical (any field hits); only the combiner differs. */
  final case class MultiMatchQ(fields: Seq[(String, BigDecimal)],
      terms: Seq[String], boost: BigDecimal,
      mostFields: Boolean = false) extends Node
  /** `slop` > 0 relaxes adjacency: a phrase START at position x (of
    * term 0) matches when every later term j has a position in
    * [x+j, x+j+slop] — each window checked independently, and only
    * FORWARD positions are accepted (p >= x+j), so in-order terms
    * within the window match; Lucene's transposition matching
    * (out-of-order terms inside the slop budget) is intentionally NOT
    * reproduced. slop 0 degenerates to EXACT adjacency and compiles through
    * the original positional machinery bit-for-bit (DslSpec pins it).
    * This windowed form is the deterministic documented stand-in for
    * Lucene's sloppy phrase freq (whose 1/(distance+1) weighting is
    * scorer-internal). */
  final case class PhraseQ(field: String, terms: Seq[String],
      boost: BigDecimal, slop: Int = 0) extends Node
  /** ES `match_phrase_prefix` — search-as-you-type: every term but
    * the LAST matches exactly in phrase position; the last matches any
    * token CARRYING IT AS A PREFIX. The expansion is exact (every
    * prefixed token counts — `max_expansions` capping would change
    * results nondeterministically, so the key refuses); scored as a
    * phrase (tf = windowed starts). Slop composes exactly as for
    * [[PhraseQ]]. */
  final case class PhrasePrefixQ(field: String, terms: Seq[String],
      boost: BigDecimal, slop: Int = 0) extends Node
  final case class TermQ(field: String, value: Scalar,
      boost: BigDecimal) extends Node
  final case class TermsQ(field: String, values: Seq[Scalar]) extends Node
  /** ES `terms` LOOKUP — the term set comes from another document's
    * field: `{"terms": {"<field>": {"index", "id", "path"}}}`. The
    * engine resolves it with a 1-row GET at query-build time (exactly
    * ES's own fetch-then-filter), rewriting to [[TermsQ]] before
    * planning; the generated oracle keeps the declarative form — an
    * IN-subquery over the same relation. A missing source doc or a
    * null path value fails LOUDLY (ES silently matches nothing — a
    * dangling lookup is a config error worth surfacing). */
  final case class TermsLookupQ(field: String, id: Long, path: String)
    extends Node
  final case class RangeQ(field: String, bounds: Seq[(String, Scalar)])
    extends Node
  final case class ExistsQ(field: String) extends Node
  final case class IdsQ(values: Seq[Long]) extends Node
  /** `ci` = ES `case_insensitive` (7.10+): both sides lowercase —
    * deterministic in both engines, unscored either way. */
  final case class PrefixQ(field: String, value: String,
      ci: Boolean = false) extends Node
  final case class WildcardQ(field: String, pattern: String,
      ci: Boolean = false) extends Node
  /** ES `regexp` — Lucene-anchored (the WHOLE term must match). On an
    * analyzed field the pattern is term-level: a doc matches when any
    * TOKEN full-matches (the term-dictionary walk, [[MatchFzQ]]'s
    * serving shape); on any other field it full-matches the raw
    * doc-value. Patterns are restricted to the Java/RE2 shared subset:
    * Lucene's own operators (`~` `&` `<` `>`) and explicit anchors
    * refuse at parse — their semantics differ between engines, and a
    * silently-reinterpreted pattern would change the match set.
    * Unscored (the set-membership convention, [[WildcardQ]]'s
    * stance). */
  final case class RegexpQ(field: String, pattern: String) extends Node
  final case class ConstScoreQ(filter: Node, boost: BigDecimal) extends Node
  /** ES `function_score` with a `field_value_factor` — relevance ⊗ a
    * document-signal factor (the "boost popular/long docs" pattern):
    * fv = modifier(factor · field), combined with the inner score by
    * `boost_mode` multiply (default) or sum. Supported modifiers:
    * none, ln1p, sqrt, square (ln1p rides the same ln-parity the
    * oracle-green `function_score` operator proved; the exotic
    * log2p/reciprocal family refuses). `missing` substitutes for a
    * null field value; WITHOUT it a null field yields a null score
    * (sorts last) where ES hard-errors — documented divergence, the
    * engine cannot see nulls at parse. A scoreless inner query
    * contributes base 1.0 (the ES match_all convention). */
  final case class FunctionScoreQ(query: Node, field: String,
      modifier: String, factor: BigDecimal,
      missing: Option[BigDecimal], sumMode: Boolean,
      boost: BigDecimal) extends Node
  /** ES `boosting` — positive matches gate; docs ALSO matching the
    * negative clause keep matching but their score is demoted by
    * `negative_boost` (the "penalize, don't exclude" pattern). The
    * negative clause compiles in filter context (its score is never
    * used). */
  final case class BoostingQ(positive: Node, negative: Node,
      negativeBoost: BigDecimal) extends Node
  final case class DisMaxQ(queries: Seq[Node], tieBreaker: BigDecimal)
    extends Node
  /** ES `pinned` — promoted ids rank ABOVE every organic hit, in the
    * order given (the curated-results pattern). Deterministic scoring
    * stand-in for ES's internal huge-constant promotion: pinned doc k
    * scores [[PinBase]] − k; organic docs keep their organic score,
    * GATED on actually matching the organic query — a pinned doc that
    * misses the organic query still matches the pinned query, ES's
    * own contract. */
  final case class PinnedQ(ids: Seq[Long], organic: Node) extends Node
  /** ES `terms_set` — terms matching against a PER-DOCUMENT
    * threshold: the doc's `minimum_should_match_field` value says how
    * many of the supplied terms its text must carry. Scored like a
    * match (sum of the terms' BM25 contributions — a zero-tf term
    * contributes exactly 0, so only matching terms add). The script
    * threshold form refuses. */
  final case class TermsSetQ(field: String, terms: Seq[String],
      msmField: String) extends Node
  /** ES `rank_feature` — score a positive numeric document signal
    * through `saturation` (S/(S+pivot)) or `log` (ln(scaling·S+1));
    * matches docs CARRYING the feature (value > 0, the rank_feature
    * field contract). The pivotless saturation (ES derives the pivot
    * from index statistics) is data-dependent and refuses. */
  final case class RankFeatureQ(field: String, fn: String,
      param: BigDecimal, boost: BigDecimal) extends Node
  /** ES `distance_feature` — score decays with distance from an
    * origin: pivot/(pivot + |field − origin|). Date form (origin
    * `yyyy-MM-dd`, pivot `"<n>d"`, distance in whole DAYS — integer
    * arithmetic in both engines) and numeric form. Matches docs
    * carrying the field. */
  final case class DistanceFeatureQ(field: String,
      dateOrigin: Option[String], numOrigin: Option[BigDecimal],
      pivot: BigDecimal, boost: BigDecimal) extends Node

  /** One entry of a `function_score` `functions` array. Every kind
    * carries an optional per-function `filter` (compiled in FILTER
    * context — its score is never used; a doc missing the filter is
    * skipped by that function, never excluded from the result) and an
    * optional `weight` multiplier. */
  sealed trait ScoreFn {
    def filter: Option[Node]
    def weight: Option[BigDecimal]
    def withFilter(f: Option[Node]): ScoreFn
  }
  /** `gauss` / `exp` / `linear` decay on a date or numeric field —
    * the "boost recent / boost near" relevance tool. Closed-form:
    * with d = max(0, |value − origin| − offset),
    * gauss = e^(d²·ln(decay)/scale²), exp = e^(d·ln(decay)/scale),
    * linear = max(0, (s − d)/s) with s = scale/(1 − decay). The
    * libm-sensitive constants (ln(decay)/scale² …) are computed ONCE
    * in Scala and emitted as the same double literal to both engines;
    * the remaining runtime `exp` is rank-internal (scores are never
    * emitted — a ≤1-ulp cross-engine wobble can only reorder exact
    * ties, and exact ties break by doc_id in both engines). Date form:
    * origin `yyyy-MM-dd`, scale/offset `"<n>d"`, distance in whole
    * DAYS (integer datediff in both engines — the distance_feature
    * precedent). A doc MISSING the field scores 1.0 from this function
    * (ES's documented decay-on-missing behavior). */
  final case class DecayFn(kind: String, field: String,
      dateOrigin: Option[String], numOrigin: Option[BigDecimal],
      offset: BigDecimal, scale: BigDecimal, decay: BigDecimal,
      filter: Option[Node], weight: Option[BigDecimal]) extends ScoreFn {
    def withFilter(f: Option[Node]): ScoreFn = copy(filter = f)
  }
  /** `field_value_factor` as a functions-array entry — same math as
    * the legacy single-function [[FunctionScoreQ]] (modifier ∘
    * (factor·field)); without `missing` a null field yields a null
    * value that poisons the combined score (sorts last — the legacy
    * stance, documented there). */
  final case class FvfFn(field: String, modifier: String,
      factor: BigDecimal, missing: Option[BigDecimal],
      filter: Option[Node], weight: Option[BigDecimal]) extends ScoreFn {
    def withFilter(f: Option[Node]): ScoreFn = copy(filter = f)
  }
  /** Bare `weight` function — value 1, weight w (the "boost docs
    * matching this filter" pattern). */
  /** `script_score` as a functions-array entry — the [[ScriptScoreQ]]
    * arithmetic subset as the function's VALUE (params substituted at
    * parse), composing with per-function `filter`/`weight` and the
    * full score_mode/boost_mode matrix; doc fields ride
    * [[exactFields]] and the numeric-type gate like decay's. */
  final case class ScriptFn(script: PExpr, filter: Option[Node],
      weight: Option[BigDecimal]) extends ScoreFn {
    def withFilter(f: Option[Node]): ScoreFn = copy(filter = f)
  }
  final case class WeightFn(w: BigDecimal,
      filter: Option[Node]) extends ScoreFn {
    def weight: Option[BigDecimal] = Some(w)
    def withFilter(f: Option[Node]): ScoreFn = copy(filter = f)
  }
  /** `random_score` with REQUIRED seed + field — deterministic
    * reproducible pseudo-random in [0, 1): the md5-hex-to-long idiom
    * both engines already share (Curate's split hash), divided by
    * 2^60 (exact power-of-two division — bit-stable). The seedless /
    * fieldless forms hash ES-internal state and refuse. */
  final case class RandomFn(seed: Long, field: String,
      filter: Option[Node], weight: Option[BigDecimal]) extends ScoreFn {
    def withFilter(f: Option[Node]): ScoreFn = copy(filter = f)
  }
  /** ES `function_score` with a `functions` ARRAY — the general form:
    * each matching function produces weight·value; `score_mode`
    * combines them (multiply default, sum, avg = WEIGHTED average —
    * ES's documented avg, max, min, first); `boost_mode` combines the
    * result with the inner query score (multiply default, sum, avg,
    * max, min, replace). A doc matching NO function keeps function
    * score 1.0 — the multiplicative identity, ES's
    * no-function-modifies-score stance, applied uniformly across
    * score_modes (documented contract; the oracle is generated from
    * the same AST so both engines agree by construction). A scoreless
    * inner query contributes base 1.0 (the ES match_all convention).
    * `script_score`/`max_boost`/`min_score` refuse loudly. */
  final case class FnScoreQ(query: Node, functions: Seq[ScoreFn],
      scoreMode: String, boostMode: String,
      boost: BigDecimal) extends Node
  /** ES `combined_fields` with TRUE BM25F blending (r15 graduation
    * from the term-centric best-field stand-in, which `multi_match`
    * `cross_fields` still documents): the weighted fields merge into
    * ONE pseudo-field and BM25 runs over its blended statistics —
    * Robertson's simple BM25F, the model Lucene's CombinedFieldQuery
    * implements. Per term t: tf* = Σ_f w_f·tf_f, dl* = Σ_f w_f·dl_f,
    * avgdl* = Σ_f w_f·Σdl_f / N (LINEAR in the per-field Σdl — no new
    * length statistic needed), df* = |{d : ANY field of d carries t}|
    * (weight-free, ONE new statistic family `qcd`). Score =
    * Σ_t idf(df*) · tf*·(k1+1) / (tf* + k1·(1−b+b·dl*⁄avgdl*)) — the
    * engine's one BM25 literal shape over the blended inputs.
    * `operator` gates term-centrically ("and" = every term in SOME
    * field). */
  final case class CombinedQ(fields: Seq[(String, BigDecimal)],
      terms: Seq[String], andOp: Boolean, boost: BigDecimal) extends Node

  /** Positional span algebra over SINGLE-TOKEN spans (the span_term
    * grain the module's span surface commits to) — each compiles to a
    * positional feature column computed from the token array (scan)
    * or the positional postings (served), exactly like phrases.
    * Unscored (the set-membership convention). `span_or` needs no
    * node: it desugars to a should-bool of its term matches.
    *
    *  - [[SpanNotQ]]: include-term occurrences NOT overlapped by an
    *    exclude occurrence within `[pos − pre, pos + post]` (ES's
    *    pre/post exclusion windows; pre = post = 0 is the bare
    *    span_not, which for distinct single tokens excludes only
    *    same-position overlap — i.e. nothing — so the parser demands
    *    pre + post > 0 rather than accept a silent no-op).
    *  - [[SpanFirstQ]]: an occurrence within the first `end` tokens
    *    (Lucene's end-position bound at token grain).
    *  - [[SpanUnordQ]]: two DISTINCT terms within `slop` (unordered:
    *    |p − q| − 1 ≤ slop, Lucene's NearSpansUnordered distance);
    *    three-plus unordered clauses need minimal-window cover —
    *    refused with the intervals algebra. */
  final case class SpanNotQ(field: String, include: String,
      exclude: String, pre: Int, post: Int) extends Node
  final case class SpanFirstQ(field: String, term: String,
      end: Int) extends Node
  final case class SpanUnordQ(field: String, t1: String, t2: String,
      slop: Int) extends Node
  /** ES `span_within` / `span_containing` — a `little` single-token
    * span enclosed by a `big` span_near(t1, t2, slop) occurrence:
    * ∃ q ∈ pos(little) and a big pair (p1, p2) satisfying the near
    * constraint with min(p1,p2) ≤ q ≤ max(p1,p2). ONE node serves both
    * clause types: at DOCUMENT grain they match the same set — they
    * differ only in WHICH spans they return for further span
    * composition (within → little, containing → big), and this span
    * surface composes no deeper than the pair, so the distinction has
    * no observable effect here (documented divergence-of-scope, not of
    * results). */
  final case class SpanWithinQ(field: String, little: String, t1: String,
      t2: String, slop: Int, ordered: Boolean) extends Node
  /** Intervals `ordered` + UNLIMITED gaps: the terms appear in order
    * anywhere — a monotone-subsequence scan over the position arrays
    * (∃ p₁ < p₂ < … < pₖ, pᵢ ∈ positions(termᵢ)); k ≤
    * [[MaxIntervalTerms]] (the nested-exists depth bound). */
  final case class SpanOrderedQ(field: String,
      terms: Seq[String]) extends Node
  /** Intervals `unordered` + BOUNDED max_gaps: one occurrence of each
    * DISTINCT term inside a window of span ≤ max_gaps + k − 1 (ES's
    * minimal-interval width for k single-term sources). Exact via the
    * anchor disjunction: some term's occurrence s has every other
    * term in [s, s + W] — the window's min is always one of the
    * chosen occurrences. */
  final case class SpanWindowQ(field: String, terms: Seq[String],
      maxGaps: Int) extends Node
  /** Intervals `ordered` + BOUNDED max_gaps, EXACT (r16 — replaces the
    * sloppy-phrase stand-in for this rule): positions p₁ < p₂ < … < pₖ
    * with total interior gaps pₖ − p₁ + 1 − k ≤ max_gaps — the ES
    * minimal-interval width constraint. For k = 2 this coincides with
    * the windowed sloppy phrase (in-order pair, gap ≤ slop), so the
    * routing change is observable only at k ≥ 3, where per-word
    * displacement windows and a TOTAL gap budget genuinely differ.
    * Repeated terms are fine (strict ordering separates occurrences). */
  final case class SpanChainQ(field: String, terms: Seq[String],
      maxGaps: Int) extends Node
  case object MatchAllQ extends Node

  /** Nested-exists depth bound for interval evaluation. */
  private val MaxIntervalTerms = 4

  /** Pinned-score base: above any reachable BM25/function score, and
    * exactly representable — both compilers emit `PinBase − k` for
    * the k-th pinned id. */
  private val PinBase: Long = 1000000000L

  /** The ES `nested` query over the reference mapping's signature
    * field — `tags`, an array<struct<type,value>> (mapping.json:41-56,
    * index_topic.avro:26-50): the inner query must be satisfied by ONE
    * nested object (`exists(tags, t -> …)`), never assembled across
    * elements — the entire point of the nested type vs a flattened
    * object. Inner clauses address `tags.type` / `tags.value` with
    * term / terms / match (analyzed token membership) / exists,
    * composable under an inner bool. Unscored (the constant-score
    * membership convention this module documents for terms/ids; ES's
    * score_mode child blending is scorer-internal). */
  final case class NestedQ(path: String, query: NestedNode,
      innerHits: Option[String] = None) extends Node

  sealed trait NestedNode
  final case class NTermQ(sub: String, value: Scalar) extends NestedNode
  final case class NTermsQ(sub: String, values: Seq[Scalar])
    extends NestedNode
  final case class NMatchQ(sub: String, terms: Seq[String])
    extends NestedNode
  final case class NExistsQ(sub: String) extends NestedNode
  final case class NBoolQ(must: Seq[NestedNode], should: Seq[NestedNode],
      mustNot: Seq[NestedNode], filter: Seq[NestedNode],
      minShould: Option[Int]) extends NestedNode

  /** Aggregation request (`"aggs"` beside `"query"` — the other half
    * of a real ES search body; the reference's index exists to be
    * aggregated over, mapping.json's date fields). Bucket aggs: terms
    * / date_histogram / histogram (grouping-set keyed), range
    * (possibly-overlapping explicit buckets) and filter (one stored
    * clause as a bucket). Metric aggs: stats, avg / sum / min / max /
    * value_count, cardinality (EXACT distinct — the engine's sketch
    * lives in `agg_hll`; an oracle-checkable aggregation can't be
    * approximate; `precision_threshold` opts into HLL++, rows-only).
    * One level of nesting: every bucket agg may carry ONE
    * sub-aggregation — a metric, or (under a grouping-keyed parent)
    * another BUCKET agg (terms / date_histogram / histogram), the ES
    * dashboard shape. A nested bucket is just another grouping key:
    * the one-pass grouping-sets frame gains the set {parent, child},
    * never a second scan. Child rows emit agg = "parent.sub", key =
    * parent bucket, key2 = child bucket; all other rows carry
    * key2 = "". A terms parent may `order` by its metric sub. */
  sealed trait AggNode
  /** Terms bucket order: doc_count desc (ES default), key asc, or by
    * a SINGLE-VALUE metric sub-aggregation's value (`"order":
    * {"<sub name>": "desc"}} — the dashboard staple). */
  sealed trait TermsOrder
  case object ByCount extends TermsOrder
  case object ByKey extends TermsOrder
  /** `{"_key": "desc"}` — the latest-first / Z-to-A key cut (r17).
    * Keys compare as the rendered VARCHAR in BOTH engines, exactly
    * like [[ByKey]]'s ascending form. */
  case object ByKeyDesc extends TermsOrder
  final case class BySub(name: String, asc: Boolean) extends TermsOrder
  /** `missing` buckets docs LACKING the field under the given value
    * (ES's missing parameter — the value must be type-compatible with
    * the field, checked at execution); `minDoc` = `min_doc_count`:
    * buckets below it drop BEFORE the top-N cut (ES applies the same
    * order). */
  /** `include`/`exclude` gate BUCKET KEYS by an anchored regex (the
    * ES term-partitioning knob, Java/RE2 shared subset like
    * [[RegexpQ]]) — applied BEFORE min_doc_count and the top-N cut,
    * ES's own order; exact-list forms refuse (a regex expresses
    * them). */
  final case class TermsAgg(field: String, topN: Int,
      order: TermsOrder, missing: Option[Scalar] = None,
      minDoc: Int = 1, include: Option[String] = None,
      exclude: Option[String] = None) extends AggNode
  /** `interval`: "day" (the key IS the date) or "month" (the key is
    * the `yyyy-MM` prefix — pure string arithmetic, identical in both
    * engines). `fill` = ES `min_doc_count: 0`: emit EMPTY buckets for
    * every interval between the first and last populated key
    * (doc_count 0, NULL metrics), so sibling pipeline aggs
    * (derivative/cumulative_sum) cross gaps exactly like ES — the
    * fill is |buckets| rows of key-sequence work, zero corpus cost. */
  final case class DateHistAgg(field: String,
      interval: String = "day", // day | week (ISO-Monday keys) | month
      fill: Boolean = false) extends AggNode
  final case class HistAgg(field: String, interval: Long) extends AggNode
  final case class StatsAgg(field: String) extends AggNode
  final case class MetricAgg(kind: String, field: String) extends AggNode
  /** `threshold` = ES `precision_threshold`: absent → EXACT distinct
    * (the oracle-checkable default); present → the HLL++ sketch
    * (`approx_count_distinct`), ES's actual cardinality semantics at
    * scale — registered rows-only (a sketch can't hash-match a serial
    * oracle; the `agg_hll` stance) with a bound test instead. */
  final case class CardinalityAgg(field: String,
      threshold: Option[Int] = None) extends AggNode
  /** ES `percentiles`: exact linear-interpolation percentiles (the
    * [[graft.ops.Temporal.aggPercentile]] parity — Spark `percentile`
    * ≡ DuckDB `quantile_cont`), one OUTPUT ROW per percent with the
    * value in `v_pct` and the percent in `key`. Top-level only (as a
    * sub it would need per-percent bucket columns — the union-row
    * shape has no slot); the sketch companion follows the
    * `dsl_aggs_hll` rows-only stance if ever needed. */
  final case class PercentilesAgg(field: String,
      percents: Seq[BigDecimal]) extends AggNode
  /** ES `median_absolute_deviation` — exact MAD (median of
    * |x − median(x)|) instead of ES's TDigest approximation: the
    * first median broadcasts as a 1-row aggregate, the deviations
    * reuse the exact-percentile parity (Spark `percentile` ≡ DuckDB
    * `quantile_cont`); integer doc-values keep every intermediate
    * (difference, abs, interpolation) exact in double space, so the
    * oracle hash-checks it. Two aggregates over the match set — the
    * documented cost of exactness (ES's sketch is one pass). */
  final case class MadAgg(field: String) extends AggNode
  /** ES `t_test` — Student's t over two populations (`paired`,
    * `heteroscedastic` = Welch, the ES default, or `homoscedastic` =
    * pooled). DOCUMENTED DIVERGENCE: ES returns the p-value; the
    * p-value needs the t-distribution CDF (regularized incomplete
    * beta — special-function territory the oracle cannot verify
    * bit-for-bit), so this engine returns the SUFFICIENT STATISTICS
    * instead — two keyed rows `t` and `df` — from which p is one
    * table lookup away. Every input is an exact integer sum (Σx, Σx²,
    * n per population), so the t/df expression trees evaluate
    * bit-identically in both engines; populations with n < 2 emit
    * NULL (no variance to test). */
  final case class TTestAgg(aField: String, aFilter: Option[Node],
      bField: String, bFilter: Option[Node], kind: String)
    extends AggNode
  /** ES `string_stats` — five keyed rows (count, min_length,
    * max_length, avg_length, entropy) over a KEYWORD field's raw
    * values (analyzed text refuses: it has no doc-values, and ES
    * would read index terms). Entropy is the Shannon log₂ entropy of
    * the corpus-wide character distribution; because a distributed
    * float sum is order-nondeterministic, BOTH engines fold the
    * per-character terms IN CHARACTER ORDER over the collected
    * distribution (Spark `aggregate` over a sorted struct array ≡
    * DuckDB `list_reduce` over `list(… ORDER BY ch)`) — the sum is
    * bit-reproducible and the oracle hash-checks it. The character
    * pass shuffles (char, count) pairs with map-side combine — the
    * alphabet, never the corpus. */
  final case class StringStatsAgg(field: String) extends AggNode
  final case class RangeAgg(field: String,
      ranges: Seq[(Option[Scalar], Option[Scalar])]) extends AggNode
  /** ES `multi_terms` — compound bucket keys: the key is the fields'
    * values joined by `|` (ES's own key_as_string separator). Docs
    * missing ANY key field are skipped (null propagates through the
    * concat — the same isNotNull gate terms uses). Metric subs only
    * (a bucket sub under a compound key would need a third key
    * column). */
  final case class MultiTermsAgg(fields: Seq[String], topN: Int,
      order: TermsOrder) extends AggNode
  /** ES `rare_terms` — the long tail: every bucket with doc_count ≤
    * `max_doc_count`, ordered count-asc then key. EXACT (the ES
    * implementation trades exactness for a CuckooFilter bound at
    * scale; an oracle-checkable engine cannot — documented stance:
    * rare buckets of a filtered match set are usually few, and the
    * output is bucket-grain either way). */
  final case class RareTermsAgg(field: String, maxDoc: Int) extends AggNode
  /** ES `significant_terms` — terms over-represented in the query's
    * MATCH SET vs the whole corpus, scored by JLH = (fg% − bg%) ·
    * (fg% / bg%) (Lucene's default heuristic — deterministic integer
    * counts in, one double expression out, so the oracle hashes).
    * Needs background counts, so it is the one agg that reads the
    * PRE-FILTER frame: one extra grouping pass over the corpus
    * (field + match flag), inherent to the statistic. */
  final case class SigTermsAgg(field: String, topN: Int) extends AggNode
  /** ES `significant_text` — [[SigTermsAgg]]'s free-text sibling:
    * tokens over-represented in the match set's TEXT, re-analyzed on
    * the fly from the source field exactly like ES (which never
    * doc-values text). Per-doc DISTINCT tokens, so doc_count is the
    * number of matching docs CONTAINING the token; JLH-scored against
    * the corpus background like significant_terms. Scan re-analyzes
    * the corpus column; the SERVED form re-analyzes the index's
    * STORED `_source` — the same thing ES does, which is why its docs
    * gate it behind sampler aggs. Analyzed `text` only (`head` is a
    * derived prefix, not a source field). */
  final case class SigTextAgg(field: String, topN: Int) extends AggNode
  /** ES `weighted_avg` — Σ(value·weight)/Σ(weight) over docs carrying
    * BOTH fields (the ES skip-missing default; `missing` substitutes
    * refuse). Top-level only: the two-field input has no slot in the
    * single-field sub-metric machinery. */
  final case class WeightedAvgAgg(value: String, weight: String)
    extends AggNode
  /** ES `missing` — the null bucket: docs LACKING the field, one
    * conditional count on the shared pass (the filter-agg machinery
    * with an IS NULL condition); metric subs ride the same
    * conditional columns. */
  final case class MissingAgg(field: String) extends AggNode
  /** ES `global` — break out of the query: the sub-metric evaluates
    * over the WHOLE corpus while sibling aggs stay on the match set
    * (the "show totals next to filtered stats" dashboard shape).
    * Reads the pre-filter frame like [[SigTermsAgg]]. */
  final case class GlobalAgg() extends AggNode
  /** ES `date_range` — explicit date buckets ([from, to) like the
    * numeric range agg), bounds as `yyyy-MM-dd` literals both engines
    * compare as DATEs. Possibly overlapping, metric subs shared. */
  final case class DateRangeAgg(field: String,
      ranges: Seq[(Option[SDate], Option[SDate])]) extends AggNode
  /** ES `percentile_ranks` — the inverse of percentiles: for each
    * probe value, the percent of field values ≤ it (EXACT — ES's
    * t-digest answers the same question approximately; integer counts
    * make the one division + ×100 bit-stable). One row per probe,
    * key = the probe, percent in `v_pct`. Top-level only (the
    * percentiles stance). */
  final case class PctRanksAgg(field: String, values: Seq[BigDecimal])
    extends AggNode
  /** ES `top_metrics` — the metric value of the single top document
    * by a field sort (size 1; doc_id tiebreak makes it
    * deterministic — ES leaves ties undefined). Value rides `v_pct`,
    * key = "". */
  final case class TopMetricsAgg(metric: String, sortField: String,
      asc: Boolean) extends AggNode
  /** ES `top_hits` — the per-bucket top DOCUMENTS sub-agg (the "show
    * me examples per bucket" dashboard staple). Doc-grain output, so
    * it is served by [[dslTopHitsOf]] (its own hit-shaped frame), not
    * the bucket-grain [[dslAggsOf]] — mixing the two in one response
    * refuses loudly in both directions. Field-only sort (+ doc_id
    * tiebreak); `_score` ranking inside buckets would need the
    * statistics machinery hits pages get from searchDslOf. */
  final case class TopHitsAgg(size: Int,
      sort: Seq[(String, Boolean)]) extends AggNode
  /** ES `nested` AGGREGATION — the query-side [[NestedQ]]'s analytics
    * twin: switch grain to the NESTED docs (one row per tag) and run a
    * terms sub over a `path.<subfield>`. The parent row's doc_count is
    * the TAG count over the match set (the ES nested-agg contract);
    * child rows are the sub-terms buckets at tag grain. A different
    * grain than the grouping-sets frame, so it costs one extra pass
    * pruned to the tags column — Lucene's nested aggregator switches
    * to child docs the same way. */
  final case class NestedAgg(path: String) extends AggNode
  final case class FilterAgg(query: Node) extends AggNode
  /** ES PARENT pipeline aggregations — `cumulative_sum` and
    * `derivative` as subs of a date_histogram / histogram parent
    * (ES's own placement rule: both need an ordered histogram), over
    * `buckets_path: "_count"`. Pure BUCKET-GRAIN post-processing: a
    * window over the parent's bucket rows ordered by bucket key —
    * never another corpus pass, and at 100 TB the window input is
    * |buckets| rows (the scale-free half of the ES agg surface). The
    * value rides `v_sum`; a derivative's first bucket is null (ES
    * omits it — same information). Metric-sub paths would need two
    * subs under one parent (the one-sub nesting rule), so only
    * `_count` is supported. DOCUMENTED DIVERGENCE — no gap-fill: ES's
    * date_histogram defaults to `min_doc_count: 0` and materializes
    * EMPTY buckets, so its derivative emits 0-count buckets and
    * computes deltas across gaps; this engine windows over only the
    * non-empty buckets it returns (the rare_terms exactness stance:
    * the oracle agrees, the deviation is the contract, not a bug).
    *
    * r17 additions on the same bucket-grain window frame:
    * `serial_diff` (value − value `lag` buckets earlier; the first
    * `lag` buckets are null, ES's omitted-value) and `moving_fn`
    * (a sliding ROWS frame over the bucket sequence; ES's `shift`
    * convention: shift 0 — the default — is the window of the `window`
    * buckets BEFORE the current one, exclusive; each +1 slides the
    * frame one bucket right, so shift 1 ends at the current bucket).
    * The `script` must be one of the closed-form MovingFunctions —
    * unweightedAvg / sum / min / max; ewma, holt, holtWinters and
    * stdDev refuse loudly (iterative/libm semantics the oracle could
    * not verify bit-for-bit — the libm-parity stance). An empty frame
    * yields null in both engines, matching ES's NaN-elided buckets.
    *
    * Further r17 additions: `normalize` (`fn` carries the method —
    * rescale_0_1 / rescale_0_100 / percent_of_sum / mean / z-score
    * over the parent's returned bucket counts; every window aggregate
    * is an exact-int sum cast to double, so the rescaled values are
    * bit-reproducible; softmax refuses — exp is libm territory; a
    * degenerate frame — max = min, zero sum, zero variance — yields
    * null) and `moving_percentiles` (the exact window percentile of
    * the bucket counts over the moving_fn ROWS frame, ONE `percent`
    * per agg. DOCUMENTED DIVERGENCE: ES reads a percentiles sub and
    * merges TDigest sketches — approximate, multi-percent; this
    * engine computes the exact interpolated percentile the oracle
    * can hash-check, one percent per pipeline, several pipelines for
    * several percents). */
  final case class PipelineAgg(kind: String, lag: Int = 1,
      window: Int = 0, shift: Int = 0, fn: String = "",
      pct: BigDecimal = BigDecimal(50)) extends AggNode
  /** ES `cumulative_cardinality` — for bucket i of an ordered
    * histogram parent, the number of DISTINCT `field` values seen in
    * buckets 1..i (the "new users over time" shape). EXACT, via the
    * first-occurrence decomposition: one distinct pass assigns each
    * value its first bucket key, and the per-bucket first-timer
    * counts running-sum over the parent's returned bucket sequence —
    * the one extra corpus shuffle is (value, firstBucket) grain, and
    * the window stays \|buckets\| rows. DOCUMENTED DIVERGENCES: ES
    * references a sibling cardinality agg via `buckets_path` and
    * merges its HLL sketches (approximate); under the one-sub rule
    * this engine takes the FIELD inline and accumulates exactly —
    * and accumulation reads the RETURNED frame, so values first seen
    * in a bucket the parent dropped (a min_doc_count floor) never
    * count. */
  final case class CumCardAgg(field: String) extends AggNode
  /** ES SIBLING pipeline aggregations — `avg_bucket` / `sum_bucket` /
    * `min_bucket` / `max_bucket` over `buckets_path:
    * "<sibling>>_count"`: one summary row over a sibling bucket agg's
    * RETURNED buckets (post include/min_doc_count/top-N — the ES
    * contract computes over what the sibling returns, so a terms
    * sibling's cut participates). doc_count = the sibling's bucket
    * count; the value lands in its kind's own stats slot.
    *
    * r17 additions: `stats_bucket` (the full stats shape),
    * `extended_stats_bucket` (kind "extended_stats" — the variance
    * trio rides extra keyed rows exactly like the doc-grain
    * extended_stats; bucket counts are exact longs, so Σx/Σx² keep
    * the variance tree bit-reproducible), and `percentiles_bucket`
    * (kind "percentiles" — one row per percent over the sibling's
    * bucket counts; DOCUMENTED DIVERGENCE: exact linear interpolation
    * — the engine-wide percentile convention the oracle can check —
    * where ES rounds to the nearest returned bucket value). */
  final case class BucketMetricAgg(kind: String, path: String,
      percents: Seq[BigDecimal] = Seq.empty)
    extends AggNode
  /** ES `filters` — NAMED, possibly-OVERLAPPING buckets, each defined
    * by a stored clause (the "segment the match set by ad-hoc
    * predicates" dashboard shape). One conditional count per name over
    * the one grouping-sets pass — overlap is free because membership
    * is a boolean COLUMN, not a grouping key (a groupBy could never
    * express a doc landing in two buckets). `other_bucket` desugars at
    * parse to one more named bucket (the must_not complement); the
    * anonymous-array form refuses: name-keyed buckets are the
    * deterministic form, and an anonymous bucket's key is an
    * ES-internal ordinal. */
  final case class FiltersAgg(filters: Seq[(String, Node)]) extends AggNode
  /** ES `adjacency_matrix` — named filters PLUS every pairwise
    * intersection (`a&b`), the co-occurrence-matrix shape. Filters
    * sort by name at parse (ES builds from a sorted map, so
    * intersection keys compose in name order) and the whole matrix —
    * n singles + n(n−1)/2 pairs — expands to conditional-count
    * columns on the one grouping-sets pass: membership is boolean
    * algebra over compiled predicates, zero extra corpus cost. Empty
    * buckets are pruned from the response (the ES contract — a
    * matrix row with doc_count 0 never renders). */
  final case class AdjacencyAgg(filters: Seq[(String, Node)],
      sep: String) extends AggNode
  /** ES `auto_date_histogram` — the engine picks the interval so the
    * bucket count stays ≤ `buckets`. DOCUMENTED CONTRACT (simpler than
    * ES's full calendar ladder): with s = whole-day span of the MATCH
    * SET's dates, the unit is day when s < buckets, month when
    * s < 31·buckets, else year. Fully distributed — the span rides a
    * broadcast 1-row aggregate into the key expression (no driver
    * probe), and the oracle keeps the declarative form (scalar
    * subqueries over the match CTE), so both engines derive the SAME
    * unit from the same data. Takes no subs (one adaptive key is the
    * scope; nest under date_histogram for fixed units). */
  final case class AutoDateHistAgg(field: String,
      buckets: Int) extends AggNode
  /** ES `random_sampler` — sub-aggregate over a deterministic
    * pseudo-random sample of the match set: doc gate =
    * md5("seed:doc_id")/2^60 < probability (the shared hash idiom, so
    * both engines draw the SAME sample). `seed` is REQUIRED (ES makes
    * it optional and then isn't reproducible). The score-based
    * `sampler` is [[SamplerAgg]] (r17) — it draws through the real
    * scored search pipeline instead. */
  final case class RandomSamplerAgg(prob: BigDecimal,
      seed: Long) extends AggNode
  /** ES `sampler` / `diversified_sampler` — scope the sub-aggregation
    * to the top-`shard_size` HIGHEST-SCORING docs of the query's match
    * set (the "expensive sub-agg over the best docs" pattern the ES
    * docs push for significant_terms performance). The sample is drawn
    * by the REAL search pipeline — the same scored rank the hits
    * endpoint serves, `(score DESC, doc_id)` deterministic tie-break,
    * `TakeOrderedAndProject`-shaped — then the sub runs over the
    * sampled match rows (a broadcast semi join of ≤ shard_size ids).
    * `diversified_sampler` adds per-value de-duplication: with
    * `max_docs_per_value` 1 (the ES DEFAULT) that is exactly the
    * collapse (top-1-per-group) machinery, reused verbatim; higher
    * caps refuse loudly (they would need a per-value rank window —
    * say so rather than silently under-diversify). A scoreless
    * (filter-only) query samples in doc_id order, deterministically —
    * ES takes an arbitrary N there; this engine's N is pinned. */
  final case class SamplerAgg(shardSize: Int,
      divField: Option[String]) extends AggNode
  /** ES `scripted_metric` — the init/map/combine/reduce script
    * quartet, supported in its one oracle-checkable shape: a
    * distributed SUM of a per-doc arithmetic expression. The
    * canonical ES accumulator pattern parses exactly —
    * `state.<v> = 0` / `state.<v> += <expr>` / `return state.<v>` /
    * `double r = 0; for (s in states) { r += s } return r` — and the
    * map expression goes through the shared PExpr subset
    * (doc['field'].value, params, + − ×). Division and fractional
    * literals REFUSE: a sum of non-integral doubles is
    * summation-order-dependent, which the hash gate cannot verify —
    * the integral-sums stance every stats agg here already documents.
    * Painless beyond the accumulator shape refuses loudly. At scale
    * this is exactly map-side partial aggregation: map = the partial,
    * combine = the shard sum, reduce = the final merge — what
    * `sum(expr)` already compiles to. */
  final case class ScriptedMetricAgg(expr: PExpr) extends AggNode
  /** Minimal arithmetic expression over `params.*` — the supported
    * subset of ES's bucket-pipeline scripts (Painless is out of
    * scope; anything beyond +,−,×,÷, comparisons, parens and numeric
    * literals refuses loudly at parse). Lockstep Column/SQL emission
    * over the parent's bucket columns — pure \|buckets\|-row
    * arithmetic, zero corpus cost. */
  sealed trait PExpr
  final case class PNum(v: BigDecimal) extends PExpr
  final case class PParam(name: String) extends PExpr
  final case class PBin(op: String, l: PExpr, r: PExpr) extends PExpr
  /** A `doc['field'].value` read — the script_score grammar's one
    * addition over the bucket-pipeline subset. */
  final case class PDoc(field: String) extends PExpr

  /** ES `script_score` — the ARITHMETIC subset: the inner query gates
    * (filter context), and the script's value IS the document's score.
    * The script grammar is [[parsePipeScript]]'s (params, numbers,
    * + − × ÷, parens) extended with `doc['field'].value` over NUMERIC
    * doc-value fields; params substitute to literals at parse, so both
    * engines evaluate one shared expression. `_score` references and
    * Painless-general refuse — the same typed-subset stance as
    * bucket_script. NOTE: ES rejects a NEGATIVE resulting score at
    * runtime; this engine does not scan for sign (a per-doc runtime
    * check would cost a pass) — documented divergence, scripts should
    * be non-negative by construction. */
  final case class ScriptScoreQ(inner: Node, script: PExpr,
      boost: BigDecimal) extends Node

  /** The bucket-script trio — ES's HAVING (`bucket_selector`),
    * computed per-bucket metric (`bucket_script`) and bucket page
    * (`bucket_sort`) — attached to a grouping parent (terms /
    * date_histogram / histogram) as SIBLINGS of its metric sub in the
    * `aggs` map. `paths` map script params to `_count` or the
    * parent's single metric sub; sort keys may also be `_key`.
    * Applied over the parent's RETURNED buckets (post
    * include/min_doc_count/top-N — the BucketMetricAgg stance) in the
    * fixed order script → selector → sort, regardless of JSON order
    * (ES resolves by dependency; this engine's scripts cannot
    * reference each other, so the fixed order is the only
    * well-defined one). Sibling pipelines and child frames read the
    * post-pipe buckets. bucket_sort output ordering is normalized by
    * the engine's (agg, key) output contract — the observable effect
    * is the from/size TRUNCATION, ES's own response-page cut. */
  final case class BucketPipe(kind: String,
      paths: Seq[(String, String)], script: Option[PExpr],
      sortKeys: Seq[(String, Boolean)], from: Int, size: Option[Int])

  final case class AggSpec(name: String, agg: AggNode,
      sub: Option[(String, AggNode)],
      pipes: Seq[(String, BucketPipe)] = Seq.empty)

  /** A parsed search body: `{"query": …, "size": n, "from": n,
    * "sort": […], "_source": […], "aggs": …}`. `query` defaults to
    * match_all (the ES default); any OTHER body key refuses loudly
    * ([[parseBody]]). `sort` keys are (field-or-`_score`, ascending);
    * empty = the default `_score` desc. `source` is None for the
    * default provenance shape, Some(fields) for an `_source` include
    * list (empty = `"_source": false`, rk + doc_id only). */
  final case class Body(query: Node, size: Int, aggs: Seq[AggSpec],
      from: Int, sort: Seq[(String, Boolean)], source: Option[Seq[String]],
      after: Option[Seq[Scalar]], highlight: Option[String],
      collapse: Option[String] = None,
      rescore: Option[Rescore] = None,
      postFilter: Option[Node] = None,
      minScore: Option[BigDecimal] = None,
      trackTotal: Boolean = false,
      scriptFields: Seq[(String, PExpr)] = Seq.empty,
      runtime: Seq[(String, PExpr, String)] = Seq.empty)

  /** ES `rescore` (one stage, score_mode total): the top
    * `window` hits by the original score re-rank by `qw·orig +
    * rw·rescore` (the rescore query contributes only where it
    * matches); hits beyond the window keep their original order
    * below the re-sorted window. */
  final case class Rescore(query: Node, window: Int, qw: BigDecimal,
      rw: BigDecimal)

  /** A JSON scalar a term/range clause compares against, carrying its
    * Spark literal and its SQL literal so both compilers emit the
    * same value. Whole numbers stay integral (a `10` in the JSON must
    * not become `10.0` in the SQL — integer comparisons hash-stably,
    * double formatting doesn't). */
  sealed trait Scalar { def column: Column; def sql: String }
  final case class SStr(v: String) extends Scalar {
    def column: Column = lit(v)
    def sql: String = s"'${v.replace("'", "''")}'"
  }
  final case class SNum(v: BigDecimal) extends Scalar {
    def column: Column =
      if (v.isWhole) lit(v.toLong) else lit(v.toDouble)
    def sql: String =
      if (v.isWhole) v.toBigInt.toString else v.underlying.toPlainString
  }
  final case class SBool(v: Boolean) extends Scalar {
    def column: Column = lit(v)
    def sql: String = v.toString
  }
  /** A DATE-MATH bound resolved at parse time (VERDICT r15 #3):
    * [[column]] carries the Scala-computed concrete day (one literal,
    * both engines compare the same value), while [[sql]] re-derives it
    * with DuckDB DATE arithmetic — the oracle independently exercises
    * the evaluator instead of trusting the baked literal, so a broken
    * LocalDate computation is a hash mismatch, not a silent agreement. */
  final case class SDate(iso: String, expr: String) extends Scalar {
    def column: Column = lit(iso)
    def sql: String = expr
  }

  /** Explicit-anchor ES date math: `yyyy-MM-dd||(±Nd|±NM)*[/d|/M]`.
    * `now` refuses (evaluation-time-dependent — not reproducible, not
    * oracle-able); rounding follows the ES range contract at day grain:
    * `roundUp` (gt/lte bounds) rounds `/M` to the LAST day of the
    * month, round-down (gte/lt) to the first; `/d` is the identity on
    * date-typed (day-grain) fields. Month arithmetic clamps to the
    * month's last day exactly like java.time AND DuckDB (2026-01-31 +
    * 1M = 2026-02-28 in both — verified). */
  private val DateMathRe =
    """(\d{4}-\d{2}-\d{2})\|\|((?:[+-]\d+[dM])*)(?:/([dM]))?""".r

  /** The `now`-anchored date-math GRAMMAR (ES units), used only to
    * decide whether a range bound that starts with "now" is date math
    * (→ the explicit evaluation-time refusal) or a plain string value
    * like "nowhere" (→ falls through to an ordinary scalar bound). */
  private val NowMathRe = """now([+-]\d+[yMwdhHms])*(?:/[yMwdhHms])?""".r

  private def evalDateMath(s: String, roundUp: Boolean,
      ctx: String): SDate = s match {
    case _ if s.startsWith("now") =>
      fail(s"$ctx: 'now'-anchored date math is evaluation-time-" +
        "dependent — unsupported (anchor explicitly: " +
        "\"2026-01-01||-7d/d\")")
    case DateMathRe(anchor, ops, round) =>
      var d =
        try java.time.LocalDate.parse(anchor)
        catch { case _: java.time.format.DateTimeParseException =>
          fail(s"$ctx: '$anchor' is not a calendar date")
        }
      var e = s"DATE '$anchor'"
      val OpRe = """([+-])(\d+)([dM])""".r
      for (m <- OpRe.findAllMatchIn(Option(ops).getOrElse(""))) {
        val n = m.group(2).toInt
        val sign = if (m.group(1) == "+") 1L else -1L
        d = if (m.group(3) == "d") d.plusDays(sign * n)
            else d.plusMonths(sign * n)
        e = s"($e ${m.group(1)} INTERVAL $n " +
          s"${if (m.group(3) == "d") "DAY" else "MONTH"})"
      }
      Option(round) match {
        case Some("M") if roundUp =>
          d = d.withDayOfMonth(1).plusMonths(1).minusDays(1)
          e = s"CAST(date_trunc('month', $e) + INTERVAL 1 MONTH - " +
            "INTERVAL 1 DAY AS DATE)"
        case Some("M") =>
          d = d.withDayOfMonth(1)
          e = s"CAST(date_trunc('month', $e) AS DATE)"
        case _ => // "/d" or none: identity at day grain
          e = s"CAST($e AS DATE)"
      }
      SDate(d.toString, e)
    case _ => fail(s"$ctx: unsupported date-math expression '$s' — " +
      "the supported form is \"yyyy-MM-dd||±Nd…±NM…[/d|/M]\"")
  }

  /** ES's default result size, and its default max result window —
    * a `size` past the window refuses like ES does (deep paging is
    * [[Search.searchAfterWithIndex]]'s job, not a giant limit). */
  val DefaultSize = 10
  val MaxResultWindow = 10000

  /** The corpus's analyzed text fields — [[Search.DefaultField]] (the
    * whole document) and [[Search.HeadField]] (the first
    * [[Search.HeadLen]] tokens, the title-like field). match /
    * match_phrase / multi_match address these; anything else refuses. */
  val AnalyzedFields: Seq[String] = Seq(Search.DefaultField, Search.HeadField)

  // ----------------------------------------------------------- parse

  private[ops] def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"dsl: $msg")

  private val one = BigDecimal(1)

  /** Parse an ES search body. Top-level keys are WHITELISTED — a body
    * carrying `from`, `sort`, `_source`, … refuses loudly instead of
    * returning page-1 default-sorted results that silently ignore the
    * request. `size: 0` is legal (the aggregations-only convention);
    * a missing `query` is match_all (the ES default). */
  def parseBody(json: String): Body = {
    val root = JsonMethods.parse(json) match {
      case o: JObject => o
      case other => fail(s"body must be a JSON object, got $other")
    }
    val known = Set("query", "size", "aggs", "from", "sort", "_source",
      "search_after", "highlight", "collapse", "rescore", "post_filter",
      "min_score", "track_total_hits", "script_fields",
      "runtime_mappings")
    root.obj.collectFirst { case (k, _) if !known.contains(k) => k }
      .foreach(k => fail(s"unsupported body key '$k' — supported: " +
        "_source, aggs, collapse, from, highlight, min_score, " +
        "post_filter, query, rescore, runtime_mappings, " +
        "script_fields, search_after, " +
        "size, sort, track_total_hits"))
    val size = root \ "size" match {
      case JNothing => DefaultSize
      case JInt(n) if n >= 0 && n <= MaxResultWindow => n.toInt
      case JInt(n) => fail(s"size must be in [0, $MaxResultWindow], got $n")
      case v => fail(s"size must be an integer, got $v")
    }
    val from = root \ "from" match {
      case JNothing => 0
      case JInt(n) if n >= 0 && n + size <= MaxResultWindow => n.toInt
      case JInt(n) => fail(s"from + size must be in [0, $MaxResultWindow], " +
        s"got from=$n size=$size (deep paging is search_after's job)")
      case v => fail(s"from must be an integer, got $v")
    }
    val sort = root \ "sort" match {
      case JNothing => Seq.empty
      case v => parseSortEntries(v)
    }
    val source = root \ "_source" match {
      case JNothing => None
      case JBool(false) => Some(Seq.empty)
      case JArray(fs) if fs.nonEmpty => Some(fs.map {
        case JString(f) => f
        case other => fail(s"_source entries must be field names, got $other")
      })
      case other => fail(s"_source must be false or a non-empty field " +
        s"array, got $other")
    }
    source.foreach { fs =>
      if (fs.distinct.size != fs.size) fail("_source lists a field twice")
      if (fs.contains("doc_id"))
        fail("_source must not list doc_id — every hit carries it")
    }
    val after = root \ "search_after" match {
      case JNothing => None
      case JArray(vs) if vs.nonEmpty =>
        if (sort.isEmpty)
          fail("search_after needs an explicit sort (keyset paging " +
            "pages a total order)")
        if (sort.exists(_._1 == "_score"))
          fail("search_after over _score is unsupported — the engine " +
            "emits rank provenance, not scores; page by doc-value " +
            "fields (the scalable ES PIT shape)")
        if (from != 0)
          fail("search_after and from are mutually exclusive (ES contract)")
        if (vs.size != sort.size + 1)
          fail(s"search_after must carry one value per sort key plus " +
            s"the doc_id tiebreaker — expected ${sort.size + 1} values, " +
            s"got ${vs.size}")
        val parsed = vs.map(scalar)
        parsed.last match {
          case SNum(n) if n.isWhole => ()
          case v => fail(s"search_after's last value is the doc_id " +
            s"tiebreaker — must be an integer, got $v")
        }
        Some(parsed)
      case _ => fail("search_after must be a non-empty array of the " +
        "previous page's last sort values")
    }
    val highlight = root \ "highlight" match {
      case JNothing => None
      case h: JObject =>
        h.obj.collectFirst { case (k, _) if k != "fields" => k }
          .foreach(k => fail(s"highlight has unsupported option '$k' — " +
            "supported: fields"))
        h \ "fields" match {
          case JObject(List((f, JObject(Nil)))) => Some(f)
          case JObject(List((f, JObject(opts)))) =>
            fail(s"highlight.$f has unsupported options " +
              s"${opts.map(_._1).mkString(", ")} — the fragment shape " +
              "is fixed (one snippet around the first query-term hit)")
          case JObject(_) =>
            fail("highlight.fields must name exactly one field")
          case _ => fail("highlight needs {\"fields\": {field: {}}}")
        }
      case other => fail(s"highlight must be an object, got $other")
    }
    val collapse = root \ "collapse" match {
      case JNothing => None
      case o: JObject =>
        o.obj.collectFirst { case (k, _) if k != "field" => k }
          .foreach(k => fail(s"collapse has unsupported option '$k' — " +
            "supported: field (inner_hits would need a second per-group " +
            "fetch; dslTopHitsOf serves that shape)"))
        o \ "field" match {
          case JString(f) if f.nonEmpty => Some(f)
          case _ => fail("collapse needs a \"field\"")
        }
      case other => fail(s"collapse must be an object, got $other")
    }
    if (collapse.nonEmpty && after.nonEmpty)
      fail("collapse with search_after is unsupported — page collapsed " +
        "results with from")
    val rescore = root \ "rescore" match {
      case JNothing => None
      case o: JObject =>
        o.obj.collectFirst {
          case (k, _) if k != "window_size" && k != "query" => k
        }.foreach(k => fail(s"rescore has unsupported option '$k' — " +
          "supported: query, window_size"))
        val wdw = o \ "window_size" match {
          case JInt(n) if n >= 1 && n <= MaxResultWindow => n.toInt
          case JNothing => fail("rescore needs a window_size")
          case v => fail(s"rescore window_size must be in " +
            s"[1, $MaxResultWindow], got $v")
        }
        o \ "query" match {
          case q: JObject =>
            val known = Set("rescore_query", "query_weight",
              "rescore_query_weight", "score_mode")
            q.obj.collectFirst { case (k, _) if !known.contains(k) => k }
              .foreach(k => fail(s"rescore.query has unsupported option " +
                s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")}"))
            q \ "score_mode" match {
              case JNothing | JString("total") => ()
              case v => fail("rescore score_mode must be \"total\" " +
                s"(the default weighted sum), got $v")
            }
            def weight(k: String): BigDecimal = q \ k match {
              case JNothing => one
              case JInt(n) => BigDecimal(n)
              case JDouble(d) => BigDecimal(d)
              case JDecimal(d) => d
              case v => fail(s"rescore $k must be a number, got $v")
            }
            val rq = q \ "rescore_query" match {
              case qq: JObject => node(qq)
              case _ => fail("rescore.query needs a \"rescore_query\"")
            }
            Some(Rescore(rq, wdw, weight("query_weight"),
              weight("rescore_query_weight")))
          case _ => fail("rescore needs a \"query\" object")
        }
      case JArray(_) =>
        fail("multiple rescore stages are unsupported — one stage")
      case other => fail(s"rescore must be an object, got $other")
    }
    if (rescore.nonEmpty && sort.nonEmpty)
      fail("rescore cannot combine with sort (the ES rule) — it " +
        "re-ranks the score ordering")
    if (rescore.nonEmpty && after.nonEmpty)
      fail("rescore with search_after is unsupported")
    if (rescore.nonEmpty && collapse.nonEmpty)
      fail("rescore with collapse is unsupported")
    // post_filter: the faceted-search split — narrows HITS only;
    // aggregations keep the pre-post_filter match set (the ES
    // contract, honored by dslAggsOf IGNORING it by design)
    val postFilter = root \ "post_filter" match {
      case JNothing => None
      case pf => Some(node(pf))
    }
    val minScore = root \ "min_score" match {
      case JNothing => None
      case v => scalar(v) match {
        case SNum(x) if x > 0 => Some(x)
        case SNum(x) => fail(s"min_score must be positive, got $x")
        case other => fail(s"min_score must be numeric, got ${other.sql}")
      }
    }
    if (minScore.nonEmpty && sort.nonEmpty && !sort.exists(_._1 == "_score"))
      fail("min_score under a field-only sort is unsupported — the " +
        "engine computes no score there (ES's track_scores would " +
        "force it); sort by _score or drop the sort")
    val trackTotal = root \ "track_total_hits" match {
      case JNothing | JBool(false) => false
      case JBool(true) => true
      case JInt(_) => fail("track_total_hits thresholds are " +
        "unsupported — true gives the exact count (the engine never " +
        "approximates a count it can push to one aggregate)")
      case v => fail(s"track_total_hits must be a boolean, got $v")
    }
    if (trackTotal && after.nonEmpty)
      fail("track_total_hits with search_after is unsupported — the " +
        "keyset gate never materializes the skipped prefix, so the " +
        "page cannot carry a full-set count for free; count once " +
        "via _count")
    val q = root \ "query" match {
      case JNothing => MatchAllQ // the ES default
      case qq => node(qq)
    }
    val aggs = root \ "aggs" match {
      case JNothing => Seq.empty
      case a => parseAggs(a)
    }
    // script_fields: per-hit COMPUTED columns from the arithmetic
    // script subset — each rides the hit row under its own name (the
    // ES fields-in-hits shape; Painless-general refuses as everywhere)
    val scriptFields = root \ "script_fields" match {
      case JNothing => Seq.empty[(String, PExpr)]
      case o: JObject =>
        if (o.obj.isEmpty) fail("script_fields must not be empty")
        if (o.obj.map(_._1).distinct.size != o.obj.size)
          fail("script_fields names a field twice")
        val taken = Set("rk", "doc_id", "n_matched", "tf_total", "dl",
          "score", "total_hits", "h_pos", "h_snippet") ++
          source.getOrElse(Seq.empty) ++
          // sort keys and the collapse field ride the hit row too
          // (the extraCols set) — a script field named after one
          // would produce an ambiguous duplicate column downstream
          sort.map(_._1).filterNot(_ == "_score") ++ collapse
        o.obj.map {
          case (fn2, fo: JObject) =>
            if (taken.contains(fn2))
              fail(s"script_fields name '$fn2' collides with an " +
                "output column")
            fo.obj.collectFirst { case (k, _) if k != "script" => k }
              .foreach(k => fail(s"script_fields.$fn2 has unsupported " +
                s"option '$k' — supported: script"))
            (fn2, parseScriptExpr(fo \ "script", s"script_fields.$fn2"))
          case (fn2, v) => fail(s"script_fields.$fn2 expects " +
            s"{script: …}, got $v")
        }
      case v => fail(s"script_fields must be an object, got $v")
    }
    // runtime_mappings: query-time computed fields — the ES
    // emit(<expr>) contract over the arithmetic script subset; the
    // computed column joins the docs frame BEFORE compilation, so
    // query/sort/aggs machinery sees a plain column (and Catalyst
    // collapses the projection into the scan)
    val runtime = root \ "runtime_mappings" match {
      case JNothing => Seq.empty[(String, PExpr, String)]
      case o: JObject =>
        if (o.obj.isEmpty) fail("runtime_mappings must not be empty")
        if (o.obj.map(_._1).distinct.size != o.obj.size)
          fail("runtime_mappings names a field twice")
        o.obj.map {
          case (fn, fo: JObject) =>
            fo.obj.collectFirst {
              case (k, _) if k != "type" && k != "script" => k
            }.foreach(k => fail(s"runtime_mappings.$fn has " +
              s"unsupported option '$k' — supported: type, script"))
            val tpe = fo \ "type" match {
              case JString(t) if t == "double" || t == "long" => t
              case JString(t) => fail(s"runtime_mappings.$fn type " +
                s"'$t' is unsupported — supported: double, long " +
                "(keyword/date/boolean runtime fields would need " +
                "emit grammars beyond the arithmetic subset)")
              case _ => fail(s"runtime_mappings.$fn needs a \"type\"")
            }
            val (srcRaw, restOpts) = fo \ "script" match {
              case JString(s2) => (s2, List.empty[(String, JValue)])
              case so: JObject =>
                (so \ "source" match {
                  case JString(s2) => s2
                  case _ => fail(s"runtime_mappings.$fn script needs " +
                    "a \"source\"")
                }, so.obj.filter(_._1 != "source"))
              case _ => fail(s"runtime_mappings.$fn needs a " +
                "\"script\"")
            }
            val EmitRe = """(?s)\s*emit\((.*)\)\s*""".r
            val inner = srcRaw match {
              case EmitRe(x) => x
              case _ => fail(s"runtime_mappings.$fn script must be " +
                "emit(<expr>) — the ES runtime-field contract")
            }
            val script = JObject(("source" -> (JString(inner): JValue))
              :: restOpts)
            (fn, parseScriptExpr(script, s"runtime_mappings.$fn"), tpe)
          case (fn, v) => fail(s"runtime_mappings.$fn expects " +
            s"{type, script}, got $v")
        }
      case v => fail(s"runtime_mappings must be an object, got $v")
    }
    Body(q, size, aggs, from, sort, source, after, highlight, collapse,
      rescore, postFilter, minScore, trackTotal, scriptFields, runtime)
  }

  /** The ES `minimum_should_match` grammar, resolved against the
    * bool's should-clause count `n`: a positive integer ("3"), a
    * negative integer ("-2" = n−2, "at most 2 missing"), a percentage
    * ("75%" = ⌊0.75·n⌋, rounded DOWN per the spec), a negative
    * percentage ("-25%" = n − ⌊0.25·n⌋), or space-separated
    * conditionals ("2<-25% 9<-3": each `k<spec` applies when n > k —
    * the entry with the LARGEST such k wins; n ≤ every k means all
    * clauses are required). A resolved value > n makes the bool
    * unmatchable and ≤ 0 disables the gate — both exactly what the
    * integer compiler already does with those numbers, so the grammar
    * is pure parsing. */
  private[ops] def resolveMsm(spec: String, n: Int): Int = {
    def int(s: String): Int =
      try s.toInt catch {
        case _: NumberFormatException =>
          fail(s"minimum_should_match: '$s' is not an integer " +
            s"(in spec '$spec')")
      }
    def simple(s: String): Int =
      if (s.endsWith("%")) {
        val p = int(s.dropRight(1))
        val part = math.floor(math.abs(p) / 100.0 * n).toInt
        if (p < 0) n - part else part
      } else {
        val v = int(s)
        if (v < 0) n + v else v
      }
    val t = spec.trim
    if (t.isEmpty) fail("minimum_should_match: empty spec")
    if (!t.contains('<')) simple(t)
    else {
      val conds = t.split("\\s+").toSeq.map { part =>
        part.split("<", -1) match {
          case Array(k, s) if k.nonEmpty && s.nonEmpty => (int(k), s)
          case _ => fail(s"minimum_should_match: conditional '$part' " +
            s"must be k<spec (in '$spec')")
        }
      }
      conds.filter(_._1 < n).sortBy(_._1).lastOption
        .map(c => simple(c._2)).getOrElse(n)
    }
  }

  /** The `sort` array grammar, shared by the body key and `top_hits`. */
  private def parseSortEntries(v: JValue): Seq[(String, Boolean)] = {
    val sort = v match {
      case JArray(entries) if entries.nonEmpty => entries.map {
        // "field" (asc; bare "_score" sorts desc — both ES defaults)
        case JString(f) => (f, f != "_score")
        case JObject(List((f, JString(ord)))) => (f, parseOrder(f, ord))
        case JObject(List((f, o: JObject))) =>
          o.obj.collectFirst { case (k, _) if k != "order" => k }
            .foreach(k => fail(s"sort.$f has unsupported option '$k' — " +
              "supported: order"))
          o \ "order" match {
            case JString(ord) => (f, parseOrder(f, ord))
            case _ => fail(s"sort.$f needs an \"order\" string")
          }
        case other => fail(s"sort entries must be \"field\" or " +
          s"{field: {order: asc|desc}}, got $other")
      }
      case _ => fail("sort must be a non-empty array")
    }
    if (sort.map(_._1).distinct.size != sort.size)
      fail("sort lists a field twice")
    sort
  }

  private def parseOrder(field: String, ord: String): Boolean = ord match {
    case "asc" => true
    case "desc" => false
    case other => fail(s"sort.$field order must be asc or desc, got '$other'")
  }

  /** The same normalization [[TextAnalysis.norm]]+tokenize applies to
    * documents — match text must analyze identically to the corpus or
    * 'Dup Vector' would never match 'dup vector'. */
  private[ops] def analyzed(s: String): Seq[String] =
    s.trim.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)

  private def scalar(v: JValue): Scalar = v match {
    case JString(s) => SStr(s)
    case JInt(n) => SNum(BigDecimal(n))
    case JLong(n) => SNum(BigDecimal(n))
    case JDouble(d) => SNum(BigDecimal(d))
    case JDecimal(d) => SNum(d)
    case JBool(b) => SBool(b)
    case other => fail(s"expected a scalar value, got $other")
  }

  private def nodeSeq(v: JValue, ctx: String): Seq[Node] = v match {
    case JNothing => Seq.empty
    case JArray(items) => items.map(node)
    case single: JObject => Seq(node(single)) // ES allows bare object
    case other => fail(s"bool.$ctx must be an array of clauses, got $other")
  }

  private[ops] def checkAnalyzed(field: String, clause: String): Unit =
    if (!AnalyzedFields.contains(field))
      fail(s"$clause.$field: not an analyzed text field — analyzed " +
        s"fields: ${AnalyzedFields.mkString(", ")} (keyword/numeric " +
        "fields take term/terms/range/exists)")

  /** One intervals RULE → the equivalent clause node. Supported:
    * `match` (ordered + max_gaps ≥ 0 → the windowed sloppy phrase;
    * unordered + unlimited gaps → all-terms-anywhere, an operator-and
    * match), `prefix` (token prefix), `any_of` (should-of children),
    * `all_of` unordered+unlimited (must-of children) and
    * ordered+bounded over single-term matches (the phrase again).
    * Everything else — ordered with unlimited gaps, unordered with a
    * gap budget, filter/containing rules — needs minimal-interval
    * algebra and refuses loudly. */
  /** The interval positional slice: ordered+unlimited →
    * [[SpanOrderedQ]], ordered+bounded → [[SpanChainQ]] (r16 — the
    * exact total-gap-budget chain; k = 2 coincides with the sloppy
    * phrase it previously desugared to), unordered+bounded →
    * [[SpanWindowQ]] (distinct terms); k ≤ [[MaxIntervalTerms]]. */
  private def intervalSpan(field: String, toks: Seq[String], gaps: Int,
      ordered: Boolean): Node = {
    if (toks.size > MaxIntervalTerms)
      fail(s"intervals over ${toks.size} terms is unsupported — the " +
        s"positional evaluation nests one exists per term (bound " +
        s"$MaxIntervalTerms)")
    if (ordered && gaps == -1) SpanOrderedQ(field, toks)
    else if (ordered) SpanChainQ(field, toks, gaps)
    else {
      if (toks.distinct.size != toks.size)
        fail("unordered bounded intervals need DISTINCT terms (a " +
          "repeated term would need occurrence multiplicity the " +
          "anchor-window check cannot see)")
      SpanWindowQ(field, toks, gaps)
    }
  }

  private def intervalsNode(field: String, spec: JObject): Node = {
    def gapsOrdered(o: JObject, known: Set[String]): (Int, Boolean) = {
      o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
        .foreach(k => fail(s"intervals rule has unsupported option " +
          s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")}"))
      val gaps = o \ "max_gaps" match {
        case JNothing => -1 // the ES default: unlimited
        case JInt(n) if n >= -1 => n.toInt
        case v => fail(s"intervals max_gaps must be ≥ -1, got $v")
      }
      val ordered = o \ "ordered" match {
        case JNothing => false // the ES default
        case JBool(b) => b
        case v => fail(s"intervals ordered must be a boolean, got $v")
      }
      (gaps, ordered)
    }
    spec.obj match {
      case List(("match", o: JObject)) =>
        val (gaps, ordered) =
          gapsOrdered(o, Set("query", "max_gaps", "ordered"))
        val toks = o \ "query" match {
          case JString(s) =>
            val ts = analyzed(s)
            if (ts.isEmpty) fail("intervals match has no terms")
            ts
          case _ => fail("intervals match needs a \"query\" string")
        }
        if (toks.size == 1) MatchQ(field, toks, one, andOp = false)
        else if (!ordered && gaps == -1)
          MatchQ(field, toks, one, andOp = true)
        else intervalSpan(field, toks, gaps, ordered)
      case List(("prefix", o: JObject)) =>
        o.obj.collectFirst { case (k, _) if k != "prefix" => k }
          .foreach(k => fail(s"intervals prefix has unsupported " +
            s"option '$k' — supported: prefix"))
        o \ "prefix" match {
          case JString(p) if p.nonEmpty => analyzed(p) match {
            case Seq(tok) => PhrasePrefixQ(field, Seq(tok), one, 0)
            case _ => fail("intervals prefix must be one token")
          }
          case _ => fail("intervals prefix needs a \"prefix\" string")
        }
      case List(("any_of", o: JObject)) =>
        o.obj.collectFirst { case (k, _) if k != "intervals" => k }
          .foreach(k => fail(s"intervals any_of has unsupported " +
            s"option '$k' — supported: intervals"))
        val kids = o \ "intervals" match {
          case JArray(is) if is.size >= 2 => is.map {
            case sub: JObject => intervalsNode(field, sub)
            case other => fail(s"intervals any_of entries must be " +
              s"rule objects, got $other")
          }
          case _ => fail("intervals any_of needs ≥ 2 intervals")
        }
        BoolQ(Seq.empty, kids, Seq.empty, Seq.empty, Some(1))
      case List(("all_of", o: JObject)) =>
        val (gaps, ordered) =
          gapsOrdered(o, Set("intervals", "max_gaps", "ordered"))
        val subs = o \ "intervals" match {
          case JArray(is) if is.size >= 2 => is
          case _ => fail("intervals all_of needs ≥ 2 intervals")
        }
        if (!ordered && gaps == -1)
          BoolQ(subs.map {
            case sub: JObject => intervalsNode(field, sub)
            case other => fail(s"intervals all_of entries must be " +
              s"rule objects, got $other")
          }, Seq.empty, Seq.empty, Seq.empty, None)
        else {
          // the remaining rule combinations evaluate over SINGLE-TERM
          // children: ordered+bounded ≡ the windowed phrase;
          // ordered+unlimited = the monotone-subsequence scan;
          // unordered+bounded = the anchor-window check
          val toks = subs.map {
            case JObject(List(("match", mo: JObject))) =>
              mo \ "query" match {
                case JString(s) => analyzed(s) match {
                  case Seq(tok) => tok
                  case _ => fail("intervals all_of with gap/order " +
                    "rules: each child must be a single-term match")
                }
                case _ => fail("intervals all_of child match needs " +
                  "a \"query\"")
              }
            case _ => fail("intervals all_of with gap/order rules " +
              "supports single-term match children only")
          }
          intervalSpan(field, toks, gaps, ordered)
        }
      case List((other, _)) => fail(s"unsupported intervals rule " +
        s"'$other' — supported: all_of, any_of, match, prefix " +
        "(filter/containing rules need minimal-interval algebra)")
      case _ => fail("intervals takes exactly one rule")
    }
  }

  private def ciOf(o: JValue, clause: String): Boolean =
    o \ "case_insensitive" match {
      case JNothing => false
      case JBool(b) => b
      case v => fail(s"$clause case_insensitive must be a boolean, got $v")
    }

  private def boostOf(o: JValue): BigDecimal = o \ "boost" match {
    case JNothing => one
    case JInt(n) => BigDecimal(n)
    case JLong(n) => BigDecimal(n)
    case JDouble(d) => BigDecimal(d)
    case JDecimal(d) => d
    case v => fail(s"boost must be a number, got $v")
  }

  /** One text argument: `{"match": {"text": "a b"}}` or the long form
    * `{"match": {"text": {"query": "a b", "boost": 2, "operator":
    * "and"}}}` (`operator` for `match` only — a phrase's adjacency IS
    * its operator). Modifier keys beyond the supported set
    * (`fuzziness`, …) refuse LOUDLY — a silently-dropped modifier
    * would change which documents match, exactly the failure mode
    * this module's contract bans. */
  private def queryText(body: JValue, clause: String,
      allowOperator: Boolean, allowSlop: Boolean = false)
      : (String, String, BigDecimal, Boolean, Option[Int], Option[Int]) =
    body match {
      case JObject(List((field, JString(s)))) =>
        (field, s, one, false, None, None)
      case JObject(List((field, o: JObject))) =>
        val known =
          (if (allowOperator) Set("query", "boost", "operator", "fuzziness")
           else Set("query", "boost")) ++
            (if (allowSlop) Set("slop") else Set.empty)
        o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
          .foreach(k => fail(s"$clause.$field has unsupported option " +
            s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")} " +
            "(a silently-dropped modifier would change which documents " +
            "match)"))
        val andOp = o \ "operator" match {
          case JNothing | JString("or") => false
          case JString("and") => true
          case v => fail(s"$clause.$field operator must be \"and\" or " +
            s"\"or\", got $v")
        }
        // fuzziness: 0 | 1 | 2 | "AUTO" (resolved per term at parse).
        // Some(-1) = AUTO; fuzziness 0 compiles as the EXACT clause
        val fuzz = o \ "fuzziness" match {
          case JNothing => None
          case JString("AUTO") => Some(-1)
          case JInt(n) if n >= 0 && n <= 2 => Some(n.toInt)
          case v => fail(s"$clause.$field fuzziness must be 0, 1, 2 or " +
            s""""AUTO", got $v (Lucene's own edit-budget bound is 2)""")
        }
        val slop = o \ "slop" match {
          case JNothing => None
          case JInt(n) if n >= 0 => Some(n.toInt)
          case v => fail(s"$clause.$field slop must be a non-negative " +
            s"integer, got $v")
        }
        o \ "query" match {
          case JString(s) => (field, s, boostOf(o), andOp, fuzz, slop)
          case _ => fail(s"$clause.$field needs a \"query\" string")
        }
      case other => fail(s"$clause expects {field: text}, got $other")
    }

  /** ES AUTO fuzziness (AUTO:3,6): terms of length 1–2 match exactly,
    * 3–5 allow one edit, 6+ allow two. */
  private[ops] def autoFuzz(term: String): Int =
    if (term.length < 3) 0 else if (term.length < 6) 1 else 2

  private val RangeOps = Seq("gte", "gt", "lte", "lt")

  private val DateLit = "\\d{4}-\\d{2}-\\d{2}"
  private val DayLit = "\\d+d"

  /** Parse one entry of a `function_score` `functions` array. */
  private def parseScoreFn(v: JValue): ScoreFn = v match {
    case o: JObject =>
      val known = Set("filter", "weight", "gauss", "linear", "exp",
        "field_value_factor", "random_score", "script_score")
      o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
        .foreach(k => fail(s"functions entry has unsupported key '$k' — " +
          s"supported: ${known.toSeq.sorted.mkString(", ")} " +
          "(script_score serves the arithmetic subset; " +
          "Painless-general is out of scope)"))
      val filter = o \ "filter" match {
        case JNothing => None
        case fq => Some(node(fq))
      }
      val weight = o \ "weight" match {
        case JNothing => None
        case w => scalar(w) match {
          case SNum(x) if x > 0 => Some(x)
          case SNum(x) => fail(s"functions entry weight must be > 0 " +
            s"(score_mode 'avg' divides by the matching weight sum — " +
            s"an all-zero sum would hit the engines' /0 divergence), " +
            s"got $x")
          case other =>
            fail(s"functions entry weight must be numeric, got ${other.sql}")
        }
      }
      val kinds = o.obj.collect {
        case (k @ ("gauss" | "linear" | "exp" | "field_value_factor" |
            "random_score" | "script_score"), b) => (k, b)
      }
      kinds match {
        case Nil =>
          weight.map(WeightFn(_, filter)).getOrElse(
            fail("functions entry needs a function (gauss/linear/exp/" +
              "field_value_factor/random_score/script_score) or a " +
              "bare weight"))
        case (kind @ ("gauss" | "linear" | "exp"), b) :: Nil =>
          parseDecayFn(kind, b, filter, weight)
        case ("field_value_factor", b) :: Nil => b match {
          case f: JObject =>
            val (field, modifier, factor, missing) = parseFvfBody(f)
            FvfFn(field, modifier, factor, missing, filter, weight)
          case other =>
            fail(s"field_value_factor expects an object, got $other")
        }
        case ("script_score", b) :: Nil => b match {
          case so: JObject =>
            so.obj.collectFirst { case (k, _) if k != "script" => k }
              .foreach(k => fail(s"functions script_score has " +
                s"unsupported option '$k' — supported: script"))
            ScriptFn(parseScriptExpr(so \ "script",
              "functions script_score"), filter, weight)
          case other =>
            fail(s"functions script_score expects an object, got $other")
        }
        case ("random_score", b) :: Nil => b match {
          case r: JObject =>
            r.obj.collectFirst {
              case (k, _) if k != "seed" && k != "field" => k
            }.foreach(k => fail(s"random_score has unsupported option " +
              s"'$k' — supported: seed, field"))
            val seed = r \ "seed" match {
              case JInt(n) => n.toLong
              case _ => fail("random_score needs an integer \"seed\" " +
                "(the seedless form hashes ES-internal state — " +
                "not reproducible)")
            }
            val fld = r \ "field" match {
              case JString(f) if f.nonEmpty => f
              case _ => fail("random_score needs a \"field\" (ES's own " +
                "reproducibility requirement — without one it hashes " +
                "the internal Lucene doc id)")
            }
            RandomFn(seed, fld, filter, weight)
          case other => fail(s"random_score expects an object, got $other")
        }
        case more => fail("functions entry must carry ONE function, " +
          s"got ${more.map(_._1).mkString(", ")}")
      }
    case other => fail(s"functions entries must be objects, got $other")
  }

  /** Decay-function body: `{field: {origin, scale, offset?, decay?}}`.
    * Date form when origin is `yyyy-MM-dd` (scale/offset `"<n>d"`);
    * numeric otherwise. */
  private def parseDecayFn(kind: String, b: JValue, filter: Option[Node],
      weight: Option[BigDecimal]): DecayFn = b match {
    case JObject(List((field, spec: JObject))) =>
      val known = Set("origin", "scale", "offset", "decay")
      spec.obj.collectFirst { case (k, _) if !known.contains(k) => k }
        .foreach(k => fail(s"$kind.$field has unsupported option '$k' — " +
          s"supported: ${known.toSeq.sorted.mkString(", ")}"))
      val decay = spec \ "decay" match {
        case JNothing => BigDecimal("0.5") // the ES default
        case v => scalar(v) match {
          case SNum(x) if x > 0 && x < 1 => x
          case SNum(x) => fail(s"$kind.$field decay must be in (0, 1) " +
            s"exclusive, got $x")
          case other =>
            fail(s"$kind.$field decay must be numeric, got ${other.sql}")
        }
      }
      (spec \ "origin", spec \ "scale") match {
        case (JString(org), JString(sc)) =>
          if (!org.matches(DateLit))
            fail(s"$kind.$field date origin must be yyyy-MM-dd, " +
              s"got '$org'")
          if (!sc.matches(DayLit) || sc == "0d")
            fail(s"$kind.$field date scale must be \"<days>d\" " +
              s"(positive; sub-day units would need time-typed " +
              s"fields), got '$sc'")
          val off = spec \ "offset" match {
            case JNothing => BigDecimal(0)
            case JString(x) if x.matches(DayLit) =>
              BigDecimal(x.stripSuffix("d").toLong)
            case v => fail(s"$kind.$field date offset must be " +
              s""""<days>d", got $v""")
          }
          DecayFn(kind, field, Some(org), None, off,
            BigDecimal(sc.stripSuffix("d").toLong), decay, filter, weight)
        case (ov, sv) if ov != JNothing && sv != JNothing =>
          (scalar(ov), scalar(sv)) match {
            case (SNum(org), SNum(sc)) if sc > 0 =>
              val off = spec \ "offset" match {
                case JNothing => BigDecimal(0)
                case v => scalar(v) match {
                  case SNum(x) if x >= 0 => x
                  case _ => fail(s"$kind.$field offset must be a " +
                    "non-negative number")
                }
              }
              DecayFn(kind, field, None, Some(org), off, sc, decay,
                filter, weight)
            case _ => fail(s"$kind.$field needs a numeric origin and a " +
              "positive numeric scale, or a date origin with a " +
              """"<n>d" scale""")
          }
        case _ => fail(s"$kind.$field needs origin and scale")
      }
    case JObject(List((field, other))) =>
      fail(s"$kind.$field expects an object, got $other")
    case o: JObject => fail(s"$kind must decay ONE field, got " +
      o.obj.map(_._1).mkString(", "))
    case other => fail(s"$kind expects {field: {origin, scale}}, " +
      s"got $other")
  }

  /** Shared field_value_factor body parse (legacy single-function form
    * and functions-array entries). */
  private def parseFvfBody(fvf: JObject)
      : (String, String, BigDecimal, Option[BigDecimal]) = {
    val fvfKnown = Set("field", "modifier", "factor", "missing")
    fvf.obj.collectFirst { case (k, _) if !fvfKnown.contains(k) => k }
      .foreach(k => fail(s"field_value_factor has unsupported " +
        s"option '$k' — supported: " +
        fvfKnown.toSeq.sorted.mkString(", ")))
    val field = fvf \ "field" match {
      case JString(f) if f.nonEmpty => f
      case _ => fail("field_value_factor needs a \"field\"")
    }
    val modifier = fvf \ "modifier" match {
      case JNothing | JString("none") => "none"
      case JString(m @ ("ln1p" | "sqrt" | "square")) => m
      case JString(m) => fail(s"field_value_factor modifier '$m' " +
        "unsupported — supported: ln1p, none, sqrt, square")
      case v => fail(s"field_value_factor modifier must be a " +
        s"string, got $v")
    }
    val factor = fvf \ "factor" match {
      case JNothing => one
      case v => scalar(v) match {
        case SNum(x) => x
        case other =>
          fail(s"field_value_factor factor must be numeric, " +
            s"got ${other.sql}")
      }
    }
    val missing = fvf \ "missing" match {
      case JNothing => None
      case v => scalar(v) match {
        case SNum(x) => Some(x)
        case other => fail(s"field_value_factor missing must be " +
          s"numeric, got ${other.sql}")
      }
    }
    (field, modifier, factor, missing)
  }

  private val ScoreModes =
    Seq("multiply", "sum", "avg", "max", "min", "first")
  private val BoostModes =
    Seq("multiply", "sum", "avg", "max", "min", "replace")

  /** The `functions`-array form of `function_score`. */
  private def parseFnScore(o: JObject): FnScoreQ = {
    val known = Set("query", "functions", "score_mode", "boost_mode",
      "boost")
    o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
      .foreach(k => fail(s"function_score has unsupported option '$k' " +
        s"beside functions — supported: " +
        s"${known.toSeq.sorted.mkString(", ")} (script_score/" +
        "max_boost/min_score are unsupported)"))
    val inner = o \ "query" match {
      case JNothing => MatchAllQ // the ES default
      case q => node(q)
    }
    val fns = o \ "functions" match {
      case JArray(es) if es.nonEmpty => es.map(parseScoreFn)
      case JArray(_) => fail("functions must be a non-empty array")
      case other => fail(s"functions must be an array, got $other")
    }
    val sm = o \ "score_mode" match {
      case JNothing => "multiply" // the ES default
      case JString(m) if ScoreModes.contains(m) => m
      case JString(m) => fail(s"score_mode '$m' unsupported — " +
        s"supported: ${ScoreModes.mkString(", ")}")
      case v => fail(s"score_mode must be a string, got $v")
    }
    val bm = o \ "boost_mode" match {
      case JNothing => "multiply" // the ES default
      case JString(m) if BoostModes.contains(m) => m
      case JString(m) => fail(s"boost_mode '$m' unsupported — " +
        s"supported: ${BoostModes.mkString(", ")}")
      case v => fail(s"boost_mode must be a string, got $v")
    }
    FnScoreQ(inner, fns, sm, bm, boostOf(o))
  }

  /** Parse one `{"span_term": {field: term}}` clause — the
    * single-token span grain every span combinator here composes. */
  private def spanTermOf(v: JValue, ctx: String): (String, String) =
    v match {
      case JObject(List(("span_term", JObject(List((f, JString(t))))))) =>
        checkAnalyzed(f, ctx)
        analyzed(t) match {
          case Seq(tok) => (f, tok)
          case _ => fail(s"$ctx: '$t' must analyze to one token")
        }
      case other => fail(s"$ctx clauses must be span_term objects " +
        "(deeper span-tree nesting is out of scope; enclosure is " +
        s"span_within/span_containing's little-in-big pair), got $other")
    }

  /** Parse a `span_multi` wrapper's prefix — `{"match": {"prefix":
    * {field: value}}}` (the one multi-term span the prefix-phrase
    * machinery serves exactly; wildcard/fuzzy/regexp spans would need
    * positional expansion and refuse). */
  private def spanMultiPrefixOf(o: JObject,
      ctx: String): (String, String) = o \ "match" match {
    case JObject(List(("prefix", JObject(List((f, pv)))))) =>
      checkAnalyzed(f, ctx)
      val raw = pv match {
        case JString(x) if x.nonEmpty => x
        case JObject(List(("value", JString(x)))) if x.nonEmpty => x
        case other => fail(s"$ctx span_multi prefix expects " +
          s"{field: value}, got $other")
      }
      analyzed(raw) match {
        case Seq(tok) => (f, tok)
        case _ => fail(s"$ctx span_multi prefix '$raw' must analyze " +
          "to one token")
      }
    case JObject(List((other, _))) =>
      fail(s"$ctx span_multi supports a prefix inner query only — " +
        s"'$other' spans need positional term expansion (unsupported)")
    case _ => fail(s"$ctx span_multi needs {\"match\": {\"prefix\": …}}")
  }

  /** A span_near leg: a span_term, or — ONLY as the last clause of an
    * in-order near — a span_multi prefix (Lucene's prefix-phrase
    * shape, served by [[PhrasePrefixQ]]). Returns (field, token,
    * isPrefix). */
  private def spanLegOf(v: JValue, ctx: String,
      allowPrefix: Boolean): (String, String, Boolean) = v match {
    case JObject(List(("span_multi", o: JObject))) =>
      if (!allowPrefix)
        fail(s"$ctx: span_multi rides only as the LAST clause of an " +
          "in-order span_near (the prefix-phrase shape) or standalone")
      val (f, t) = spanMultiPrefixOf(o, ctx)
      (f, t, true)
    case _ =>
      val (f, t) = spanTermOf(v, ctx)
      (f, t, false)
  }

  private def node(v: JValue): Node = v match {
    case JObject(List((name, body))) => name match {
      case "bool" =>
        val known = Set("must", "should", "must_not", "filter",
          "minimum_should_match")
        body match {
          case JObject(fields) =>
            fields.collectFirst {
              case (k, _) if !known.contains(k) => k
            }.foreach(k => fail(s"bool has unsupported section '$k' — " +
              s"supported: ${known.toSeq.sorted.mkString(", ")}"))
          case other => fail(s"bool expects an object, got $other")
        }
        // shoulds parse FIRST: the msm grammar resolves against their
        // count, which is known at parse time (the whole point of
        // resolving "75%" here instead of threading a spec around)
        val shoulds = nodeSeq(body \ "should", "should")
        val msm = body \ "minimum_should_match" match {
          case JNothing => None
          case JInt(n) => Some(n.toInt)
          case JString(s) => Some(resolveMsm(s, shoulds.size))
          case o => fail("minimum_should_match must be an integer or an " +
            "ES grammar string (\"75%\", \"-1\", \"3<90%\"), got " + o)
        }
        BoolQ(nodeSeq(body \ "must", "must"), shoulds,
          nodeSeq(body \ "must_not", "must_not"),
          nodeSeq(body \ "filter", "filter"), msm)
      case "match" =>
        val (field, text, boost, andOp, fuzz, _) =
          queryText(body, "match", allowOperator = true)
        checkAnalyzed(field, "match")
        val terms = analyzed(text)
        if (terms.isEmpty) fail(s"match.$field has no terms after analysis")
        fuzz match {
          case None | Some(0) => MatchQ(field, terms, boost, andOp)
          case Some(d) =>
            val budgeted = terms.map(t =>
              (t, if (d == -1) autoFuzz(t) else d))
            // every budget 0 (AUTO over short terms) → the exact clause
            if (budgeted.forall(_._2 == 0)) MatchQ(field, terms, boost, andOp)
            else MatchFzQ(field, budgeted, boost, andOp)
        }
      case "match_phrase" =>
        val (field, text, boost, _, _, slop) =
          queryText(body, "match_phrase", allowOperator = false,
            allowSlop = true)
        checkAnalyzed(field, "match_phrase")
        val terms = analyzed(text)
        if (terms.isEmpty)
          fail(s"match_phrase.$field has no terms after analysis")
        PhraseQ(field, terms, boost, slop.getOrElse(0))
      case "match_phrase_prefix" =>
        val (field, text, boost, _, _, slop) =
          queryText(body, "match_phrase_prefix", allowOperator = false,
            allowSlop = true)
        checkAnalyzed(field, "match_phrase_prefix")
        val terms = analyzed(text)
        if (terms.isEmpty)
          fail(s"match_phrase_prefix.$field has no terms after analysis")
        PhrasePrefixQ(field, terms, boost, slop.getOrElse(0))
      case "multi_match" => body match {
        case o: JObject =>
          val known = Set("query", "fields", "type", "boost", "slop",
            "operator")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"multi_match has unsupported option '$k' " +
              "— supported: boost, fields, operator, query, slop, type"))
          val text = o \ "query" match {
            case JString(s) => s
            case _ => fail("multi_match needs a \"query\" string")
          }
          val mmType = o \ "type" match {
            case JNothing => "best_fields"
            case JString(t @ ("best_fields" | "most_fields" | "phrase" |
                "cross_fields")) => t
            case JString(t) => fail(s"multi_match type '$t' unsupported — " +
              "supported: best_fields (dis_max over per-field scores), " +
              "most_fields (per-field scores sum), phrase (dis_max over " +
              "per-field match_phrase), cross_fields (term-centric: " +
              "best field per term)")
            case other => fail(s"multi_match type must be a string, got $other")
          }
          val slop = o \ "slop" match {
            case JNothing => 0
            case JInt(n) if n >= 0 =>
              if (mmType != "phrase")
                fail(s"multi_match slop is the phrase type's knob — " +
                  s"meaningless for $mmType")
              n.toInt
            case v => fail(s"multi_match slop must be a non-negative " +
              s"integer, got $v")
          }
          val crossAnd = o \ "operator" match {
            case JNothing => false
            case JString(op @ ("and" | "or")) =>
              if (mmType != "cross_fields")
                fail("multi_match operator is supported for " +
                  s"cross_fields only (for $mmType ES applies it " +
                  "per-field — unimplemented, refuse rather than " +
                  "silently reinterpret)")
              op == "and"
            case v => fail(s"multi_match operator must be \"and\" or " +
              s"\"or\", got $v")
          }
          val specs = o \ "fields" match {
            case JArray(fs) if fs.nonEmpty => fs.map {
              case JString(spec) => spec.split('^') match {
                case Array(f) => checkAnalyzed(f, "multi_match"); (f, one)
                case Array(f, b) =>
                  checkAnalyzed(f, "multi_match")
                  val bd = try BigDecimal(b) catch {
                    case _: NumberFormatException =>
                      fail(s"multi_match field boost in '$spec' is not numeric")
                  }
                  (f, bd)
                case _ => fail(s"multi_match field spec '$spec' — " +
                  "expected \"field\" or \"field^boost\"")
              }
              case other => fail(s"multi_match fields must be strings, got $other")
            }
            case _ => fail("multi_match needs a non-empty \"fields\" array")
          }
          if (specs.map(_._1).distinct.size != specs.size)
            fail("multi_match lists a field twice")
          val terms = analyzed(text)
          if (terms.isEmpty) fail("multi_match has no terms after analysis")
          val outer = boostOf(o)
          mmType match {
            case "best_fields" => MultiMatchQ(specs, terms, outer,
              mostFields = false)
            case "most_fields" => MultiMatchQ(specs, terms, outer,
              mostFields = true)
            case "phrase" =>
              // DESUGARED: dis_max over per-field match_phrase (the ES
              // phrase type IS best_fields with phrase matching). The
              // outer boost folds into each branch — max(B·x) = B·max(x)
              // with tie_breaker 0, so the fold is exact
              specs.map { case (f, fb) =>
                PhraseQ(f, terms, fb * outer, slop): Node
              } match {
                case Seq(one1) => one1
                case qs => DisMaxQ(qs, BigDecimal(0))
              }
            case _ =>
              // cross_fields, term-centric: each TERM takes its best
              // field (dis_max over per-field single-term matches, the
              // documented stand-in for Lucene's blended term stats —
              // deterministic and oracle-able where blending is
              // scorer-internal), then terms combine by the operator:
              // "or" = a should group (msm 1 — non-matching terms
              // contribute nothing), "and" = a must list. The outer
              // boost folds into each leaf (distributes over both sum
              // and max)
              val perTerm: Seq[Node] = terms.map { t =>
                specs.map { case (f, fb) =>
                  MatchQ(f, Seq(t), fb * outer, andOp = false): Node
                } match {
                  case Seq(one1) => one1
                  case qs => DisMaxQ(qs, BigDecimal(0))
                }
              }
              if (perTerm.size == 1) perTerm.head
              else if (crossAnd)
                BoolQ(perTerm, Seq.empty, Seq.empty, Seq.empty, None)
              else BoolQ(Seq.empty, perTerm, Seq.empty, Seq.empty, None)
          }
        case other => fail(s"multi_match expects an object, got $other")
      }
      case "combined_fields" =>
        // TRUE BM25F (r15): the weighted fields blend into one
        // pseudo-field — see [[CombinedQ]]; multi_match cross_fields
        // keeps the documented term-centric best-field stand-in
        body match {
          case o: JObject =>
            val known = Set("query", "fields", "operator", "boost")
            o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
              .foreach(k => fail(s"combined_fields has unsupported " +
                s"option '$k' — supported: " +
                known.toSeq.sorted.mkString(", ")))
            val terms = o \ "query" match {
              case JString(s) =>
                val ts = analyzed(s)
                if (ts.isEmpty) fail("combined_fields has no terms")
                ts
              case _ => fail("combined_fields needs a \"query\" string")
            }
            val specs: Seq[(String, BigDecimal)] = o \ "fields" match {
              case JArray(fs) if fs.nonEmpty => fs.map {
                case JString(s) =>
                  val (f, fb) = s.split("\\^") match {
                    case Array(f0) => (f0, one)
                    case Array(f0, b2) => (f0, BigDecimal(b2))
                    case _ => fail(s"combined_fields bad field '$s'")
                  }
                  checkAnalyzed(f, "combined_fields")
                  (f, fb)
                case other => fail("combined_fields fields must be " +
                  s"strings, got $other")
              }
              case _ => fail("combined_fields needs a non-empty " +
                "\"fields\" array")
            }
            val andOp = o \ "operator" match {
              case JNothing | JString("or") => false
              case JString("and") => true
              case v => fail("combined_fields operator must be " +
                s""""and" or "or", got $v""")
            }
            specs.foreach { case (_, w) =>
              if (w <= 0) fail("combined_fields field weights must be " +
                "positive (a zero weight would zero the blended tf " +
                "but still widen df*)")
            }
            if (specs.map(_._1).distinct.size != specs.size)
              fail("combined_fields lists a field twice")
            CombinedQ(specs, terms, andOp, boostOf(o))
          case other =>
            fail(s"combined_fields expects an object, got $other")
        }
      case "intervals" =>
        // the restricted intervals subset with exact desugars onto
        // machinery this module already proves: interval-TREE
        // evaluation (minimal-interval algebra) is scorer-internal,
        // but the everyday rules have order/co-occurrence semantics
        // the phrase/match family expresses exactly
        body match {
          case JObject(List((field, spec: JObject))) =>
            checkAnalyzed(field, "intervals")
            intervalsNode(field, spec)
          case other =>
            fail(s"intervals expects {field: {rule}}, got $other")
        }
      case "term" => body match {
        case JObject(List((field, o: JObject))) =>
          val known = Set("value", "boost")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"term.$field has unsupported option '$k' " +
              "— supported: boost, value"))
          o \ "value" match {
            case JNothing => fail(s"term.$field needs a \"value\"")
            case value => TermQ(field, scalar(value), boostOf(o))
          }
        case JObject(List((field, value))) => TermQ(field, scalar(value), one)
        case other => fail(s"term expects {field: value}, got $other")
      }
      case "terms" => body match {
        case JObject(List((field, JArray(values)))) =>
          if (values.isEmpty) fail(s"terms.$field has an empty value list")
          TermsQ(field, values.map(scalar))
        case JObject(List((field, o: JObject))) =>
          // the terms LOOKUP form
          val known = Set("index", "id", "path")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"terms.$field lookup has unsupported " +
              s"option '$k' — supported: id, index, path (routing is " +
              "unsupported)"))
          o \ "index" match {
            case JString("documents") => ()
            case JString(x) => fail(s"terms.$field lookup index must " +
              s"be 'documents' (the corpus relation), got '$x'")
            case _ => fail(s"terms.$field lookup needs an \"index\"")
          }
          val id = o \ "id" match {
            case JInt(n) => n.toLong
            case JString(s) if s.nonEmpty && s.forall(_.isDigit) =>
              s.toLong
            case _ => fail(s"terms.$field lookup needs a numeric \"id\"")
          }
          o \ "path" match {
            case JString(pp) if pp.nonEmpty => TermsLookupQ(field, id, pp)
            case _ => fail(s"terms.$field lookup needs a \"path\"")
          }
        case other => fail(s"terms expects {field: [values]} or the " +
          s"lookup form {field: {index, id, path}}, got $other")
      }
      case "range" => body match {
        case JObject(List((field, JObject(bounds)))) =>
          if (bounds.isEmpty) fail(s"range.$field has no bounds")
          bounds.collectFirst {
            case (op, _) if !RangeOps.contains(op) => op
          }.foreach(op => fail(s"range.$field has unsupported bound " +
            s"'$op' — supported: ${RangeOps.mkString(", ")}"))
          RangeQ(field, bounds.map { case (op, b) => (op, b match {
            // ES date-math rounding per bound: gt/lte round UP (the
            // whole rounded interval excluded/included), gte/lt DOWN
            case JString(sv) if sv.contains("||") ||
                NowMathRe.pattern.matcher(sv).matches() =>
              evalDateMath(sv, roundUp = op == "gt" || op == "lte",
                s"range.$field $op")
            case _ => scalar(b)
          })})
        case other => fail(s"range expects {field: {gte/gt/lte/lt}}, got $other")
      }
      case "exists" => body \ "field" match {
        case JString(f) => ExistsQ(f)
        case _ => fail("exists needs {\"field\": name}")
      }
      case "ids" => body match {
        case o: JObject =>
          o.obj.collectFirst { case (k, _) if k != "values" => k }
            .foreach(k => fail(s"ids has unsupported option '$k' — " +
              "supported: values"))
          o \ "values" match {
            case JArray(vs) if vs.nonEmpty => IdsQ(vs.map {
              case JInt(n) => n.toLong
              case JLong(n) => n
              case v => fail(s"ids values must be integers (doc_id is " +
                s"numeric in this corpus), got $v")
            })
            case _ => fail("ids needs a non-empty \"values\" array")
          }
        case other => fail(s"ids expects an object, got $other")
      }
      case "prefix" => body match {
        case JObject(List((field, o: JObject))) =>
          o.obj.collectFirst {
            case (k, _) if k != "value" && k != "case_insensitive" => k
          }.foreach(k => fail(s"prefix.$field has unsupported option " +
              s"'$k' — supported: case_insensitive, value"))
          o \ "value" match {
            case JString(s) if s.nonEmpty =>
              PrefixQ(field, s, ciOf(o, s"prefix.$field"))
            case _ => fail(s"prefix.$field needs a non-empty \"value\" string")
          }
        case JObject(List((field, JString(s)))) if s.nonEmpty =>
          PrefixQ(field, s)
        case other => fail(s"prefix expects {field: {value: str}}, got $other")
      }
      case "wildcard" => body match {
        case JObject(List((field, o: JObject))) =>
          o.obj.collectFirst {
            case (k, _) if k != "value" && k != "case_insensitive" => k
          }.foreach(k => fail(s"wildcard.$field has unsupported option " +
              s"'$k' — supported: case_insensitive, value"))
          o \ "value" match {
            case JString(s) if s.nonEmpty =>
              WildcardQ(field, s, ciOf(o, s"wildcard.$field"))
            case _ =>
              fail(s"wildcard.$field needs a non-empty \"value\" string")
          }
        case JObject(List((field, JString(s)))) if s.nonEmpty =>
          WildcardQ(field, s)
        case other =>
          fail(s"wildcard expects {field: {value: str}}, got $other")
      }
      case "span_term" =>
        // spans over single terms: membership IS the span — desugars
        // to a one-term match (scored like any term match)
        body match {
          case JObject(List((field, JString(t)))) =>
            checkAnalyzed(field, "span_term")
            analyzed(t) match {
              case Seq(tok) => MatchQ(field, Seq(tok), one, andOp = false)
              case _ => fail(s"span_term.$field must be one token")
            }
          case other => fail(s"span_term expects {field: term}, " +
            s"got $other")
        }
      case "span_near" =>
        // in-order span_near over single-token span_terms ≡ the
        // sloppy phrase — a pure desugar onto the positional
        // machinery. UNORDERED (in_order: false) is served for TWO
        // clauses via [[SpanUnordQ]] (|p − q| − 1 ≤ slop); three-plus
        // unordered clauses need minimal-window cover and refuse.
        body match {
          case o: JObject =>
            val known = Set("clauses", "slop", "in_order")
            o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
              .foreach(k => fail(s"span_near has unsupported option " +
                s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")}"))
            val inOrder = o \ "in_order" match {
              case JBool(b) => b
              case JNothing => fail("span_near needs an explicit " +
                "in_order (the ES default true is a silent semantics " +
                "switch)")
              case v => fail(s"span_near in_order must be a boolean, " +
                s"got $v")
            }
            val slop = o \ "slop" match {
              case JNothing => 0
              case JInt(n) if n >= 0 => n.toInt
              case v => fail(s"span_near slop must be a non-negative " +
                s"integer, got $v")
            }
            val legs = o \ "clauses" match {
              case JArray(cs) if cs.size >= 2 => cs.zipWithIndex.map {
                case (c, j) => spanLegOf(c, "span_near",
                  allowPrefix = inOrder && j == cs.size - 1)
              }
              case _ => fail("span_near needs at least two clauses")
            }
            val fieldsUsed = legs.map(_._1).distinct
            if (fieldsUsed.size != 1)
              fail("span_near clauses must address ONE field, got " +
                fieldsUsed.mkString(", "))
            val toks = legs.map(_._2)
            if (inOrder && legs.last._3)
              // prefix last leg: exactly the sloppy prefix-phrase
              PhrasePrefixQ(fieldsUsed.head, toks, one, slop)
            else if (inOrder) PhraseQ(fieldsUsed.head, toks, one, slop)
            else toks match {
              case Seq(t1, t2) =>
                if (t1 == t2) fail("unordered span_near needs two " +
                  "DISTINCT terms (a repeated term matches itself)")
                SpanUnordQ(fieldsUsed.head, t1, t2, slop)
              case _ =>
                // r16: k-term unordered = the minimal-window cover the
                // intervals algebra now carries — Lucene's unordered
                // near over k single-token spans matches when the
                // covering interval's width − k ≤ slop, exactly
                // [[SpanWindowQ]](toks, slop)
                if (toks.distinct.size != toks.size)
                  fail("unordered span_near needs DISTINCT terms (a " +
                    "repeated term would need occurrence multiplicity " +
                    "the anchor-window check cannot see)")
                if (toks.size > MaxIntervalTerms)
                  fail(s"span_near over ${toks.size} clauses is " +
                    "unsupported — the positional evaluation nests " +
                    s"one exists per term (bound $MaxIntervalTerms)")
                SpanWindowQ(fieldsUsed.head, toks, slop)
            }
          case other => fail(s"span_near expects an object, got $other")
        }
      case "span_or" =>
        // a span_or of single-token spans matches where ANY term
        // occurs — exactly a should-bool (msm 1) of the term matches,
        // scored like any should
        body match {
          case o: JObject =>
            o.obj.collectFirst { case (k, _) if k != "clauses" => k }
              .foreach(k => fail(s"span_or has unsupported option " +
                s"'$k' — supported: clauses"))
            val legs = o \ "clauses" match {
              case JArray(cs) if cs.nonEmpty =>
                cs.map(spanLegOf(_, "span_or", allowPrefix = true))
              case _ => fail("span_or needs at least one clause")
            }
            BoolQ(Seq.empty, legs.map {
              case (f, t, false) =>
                MatchQ(f, Seq(t), one, andOp = false): Node
              case (f, t, true) => PhrasePrefixQ(f, Seq(t), one, 0): Node
            }, Seq.empty, Seq.empty, Some(1))
          case other => fail(s"span_or expects an object, got $other")
        }
      case "span_not" => body match {
        case o: JObject =>
          val known = Set("include", "exclude", "pre", "post", "dist")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"span_not has unsupported option '$k' — " +
              s"supported: ${known.toSeq.sorted.mkString(", ")}"))
          val (fi, ti) = o \ "include" match {
            case JNothing => fail("span_not needs an \"include\" clause")
            case c => spanTermOf(c, "span_not.include")
          }
          val (fe, te) = o \ "exclude" match {
            case JNothing => fail("span_not needs an \"exclude\" clause")
            case c => spanTermOf(c, "span_not.exclude")
          }
          if (fi != fe)
            fail(s"span_not include/exclude must address ONE field, " +
              s"got $fi, $fe")
          def win(k: String): Int = o \ k match {
            case JNothing => 0
            case JInt(n) if n >= 0 => n.toInt
            case v => fail(s"span_not $k must be a non-negative " +
              s"integer, got $v")
          }
          val dist = win("dist")
          val (pre, post) =
            if (dist > 0) (dist, dist) else (win("pre"), win("post"))
          if (pre + post == 0)
            fail("span_not needs pre/post/dist > 0 — single-token " +
              "spans of distinct terms never overlap at distance 0, " +
              "so the bare form is a silent no-op")
          SpanNotQ(fi, ti, te, pre, post)
        case other => fail(s"span_not expects an object, got $other")
      }
      case "span_multi" => body match {
        // standalone span_multi prefix ≡ any token with the prefix —
        // the single-term prefix-phrase (scored via its qpf family)
        case o: JObject =>
          o.obj.collectFirst { case (k, _) if k != "match" => k }
            .foreach(k => fail(s"span_multi has unsupported option " +
              s"'$k' — supported: match"))
          val (f, t) = spanMultiPrefixOf(o, "span_multi")
          PhrasePrefixQ(f, Seq(t), one, 0)
        case other => fail(s"span_multi expects an object, got $other")
      }
      case "span_first" => body match {
        case o: JObject =>
          val known = Set("match", "end")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"span_first has unsupported option " +
              s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")}"))
          val (f, t) = o \ "match" match {
            case JNothing => fail("span_first needs a \"match\" clause")
            case c => spanTermOf(c, "span_first.match")
          }
          val end = o \ "end" match {
            case JInt(n) if n >= 1 => n.toInt
            case JNothing => fail("span_first needs an \"end\" bound")
            case v => fail(s"span_first end must be a positive " +
              s"integer, got $v")
          }
          SpanFirstQ(f, t, end)
        case other => fail(s"span_first expects an object, got $other")
      }
      case t @ ("span_within" | "span_containing") => body match {
        case o: JObject =>
          o.obj.collectFirst {
            case (k, _) if k != "little" && k != "big" => k
          }.foreach(k => fail(s"$t has unsupported option '$k' — " +
            "supported: big, little"))
          val (lf, lt) = o \ "little" match {
            case JNothing => fail(s"$t needs a \"little\" clause")
            case c => spanTermOf(c, s"$t.little")
          }
          val (bf, t1, t2, slop, ord) = o \ "big" match {
            case JObject(List(("span_near", bo: JObject))) =>
              bo.obj.collectFirst {
                case (k, _) if !Set("clauses", "slop", "in_order")
                  .contains(k) => k
              }.foreach(k => fail(s"$t.big span_near has unsupported " +
                s"option '$k' — supported: clauses, in_order, slop"))
              val inOrder = bo \ "in_order" match {
                case JBool(b) => b
                case JNothing => fail(s"$t.big span_near needs an " +
                  "explicit in_order (the span_near stance)")
                case v => fail(s"$t.big in_order must be a boolean, " +
                  s"got $v")
              }
              val sl = bo \ "slop" match {
                case JNothing => 0
                case JInt(n) if n >= 0 => n.toInt
                case v => fail(s"$t.big slop must be a non-negative " +
                  s"integer, got $v")
              }
              val legs = bo \ "clauses" match {
                case JArray(List(c1, c2)) =>
                  Seq(spanTermOf(c1, s"$t.big"), spanTermOf(c2, s"$t.big"))
                case _ => fail(s"$t.big span_near needs exactly TWO " +
                  "span_term clauses (the enclosing-pair shape this " +
                  "span surface serves)")
              }
              if (legs.map(_._1).distinct.size != 1)
                fail(s"$t.big clauses must address ONE field, got " +
                  legs.map(_._1).distinct.mkString(", "))
              if (!inOrder && legs(0)._2 == legs(1)._2)
                fail(s"$t.big unordered span_near needs two DISTINCT " +
                  "terms (a repeated term matches itself)")
              (legs(0)._1, legs(0)._2, legs(1)._2, sl, inOrder)
            case JNothing => fail(s"$t needs a \"big\" clause")
            case _ => fail(s"$t.big must be a span_near of two " +
              "span_terms — a single-token big can enclose nothing " +
              "beyond itself")
          }
          if (lf != bf)
            fail(s"$t little/big must address ONE field, got " +
              s"'$lf' vs '$bf'")
          SpanWithinQ(lf, lt, t1, t2, slop, ord)
        case other => fail(s"$t expects an object, got $other")
      }
      case "regexp" => body match {
        case JObject(List((field, spec))) =>
          val pat = spec match {
            case o: JObject =>
              o.obj.collectFirst { case (k, _) if k != "value" => k }
                .foreach(k => fail(s"regexp.$field has unsupported " +
                  s"option '$k' — supported: value (flags and " +
                  "case_insensitive would change the match set)"))
              o \ "value" match {
                case JString(x) if x.nonEmpty => x
                case _ =>
                  fail(s"regexp.$field needs a non-empty \"value\"")
              }
            case JString(x) if x.nonEmpty => x
            case other =>
              fail(s"regexp.$field expects {value: pattern}, got $other")
          }
          Seq('~', '&', '<', '>').find(pat.contains(_)).foreach(c =>
            fail(s"regexp.$field: '$c' is a Lucene-specific regexp " +
              "operator — unsupported (patterns are the Java/RE2 " +
              "shared subset)"))
          if (pat.contains('^') || pat.contains('$'))
            fail(s"regexp.$field: explicit anchors are not Lucene " +
              "regexp syntax — the whole term always matches")
          RegexpQ(field, pat)
        case other => fail(s"regexp expects {field: {value: pattern}}, " +
          s"got $other")
      }
      case "fuzzy" => body match {
        // the TERM-level fuzzy clause: one value, edit-budget knobs —
        // desugars to the match-fuzziness machinery ([[MatchFzQ]])
        case JObject(List((field, spec))) =>
          checkAnalyzed(field, "fuzzy")
          val (value, fz, boost) = spec match {
            case o: JObject =>
              val known = Set("value", "fuzziness", "boost")
              o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
                .foreach(k => fail(s"fuzzy.$field has unsupported " +
                  s"option '$k' — supported: " +
                  known.toSeq.sorted.mkString(", ")))
              val v = o \ "value" match {
                case JString(x) if x.nonEmpty => x
                case _ => fail(s"fuzzy.$field needs a non-empty \"value\"")
              }
              val f = o \ "fuzziness" match {
                case JNothing | JString("AUTO") => -1
                case JInt(n) if n >= 0 && n <= 2 => n.toInt
                case v2 => fail(s"fuzzy.$field fuzziness must be 0, 1, " +
                  s"""2 or "AUTO", got $v2""")
              }
              (v, f, boostOf(o))
            case JString(x) if x.nonEmpty => (x, -1, one)
            case other =>
              fail(s"fuzzy.$field expects {value: term}, got $other")
          }
          val term = analyzed(value) match {
            case Seq(t) => t
            case _ => fail(s"fuzzy.$field: '$value' must analyze to " +
              "ONE term (fuzzy is term-level; multi-term text is " +
              "match + fuzziness)")
          }
          val d = if (fz == -1) autoFuzz(term) else fz
          if (d == 0) MatchQ(field, Seq(term), boost, andOp = false)
          else MatchFzQ(field, Seq((term, d)), boost, andOp = false)
        case other => fail(s"fuzzy expects {field: {value: term}}, " +
          s"got $other")
      }
      case "script_score" => body match {
        case o: JObject =>
          val known = Set("query", "script", "boost")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"script_score has unsupported option " +
              s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")} " +
              "(min_score rides the body's own min_score)"))
          val inner = o \ "query" match {
            case JNothing => fail("script_score needs a \"query\"")
            case q => node(q)
          }
          ScriptScoreQ(inner, parseScriptExpr(o \ "script",
            "script_score"), boostOf(o))
        case other => fail(s"script_score expects an object, got $other")
      }
      case "function_score" => body match {
        // the `functions` ARRAY is the general form — decay + fvf +
        // weight + random_score with per-function filters and the full
        // score_mode/boost_mode matrix ([[FnScoreQ]])
        case o: JObject if (o \ "functions") != JNothing => parseFnScore(o)
        case o: JObject =>
          val known = Set("query", "field_value_factor", "boost_mode",
            "boost")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"function_score has unsupported option " +
              s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")} " +
              "(or a \"functions\" array; script_score is unsupported)"))
          val inner = o \ "query" match {
            case JNothing => MatchAllQ // the ES default
            case q => node(q)
          }
          val fvf = o \ "field_value_factor" match {
            case f: JObject => f
            case JNothing => fail("function_score needs a " +
              "\"field_value_factor\" or a \"functions\" array")
            case other =>
              fail(s"field_value_factor expects an object, got $other")
          }
          val (field, modifier, factor, missing) = parseFvfBody(fvf)
          val sumMode = o \ "boost_mode" match {
            case JNothing | JString("multiply") => false
            case JString("sum") => true
            case JString(m) => fail(s"boost_mode '$m' with a bare " +
              "field_value_factor supports multiply (default) and sum " +
              "— use a \"functions\" array for the full matrix")
            case v => fail(s"boost_mode must be a string, got $v")
          }
          FunctionScoreQ(inner, field, modifier, factor, missing,
            sumMode, boostOf(o))
        case other => fail(s"function_score expects an object, got $other")
      }
      case "boosting" => body match {
        case o: JObject =>
          val known = Set("positive", "negative", "negative_boost")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"boosting has unsupported option '$k' — " +
              s"supported: ${known.toSeq.sorted.mkString(", ")}"))
          val pos = o \ "positive" match {
            case JNothing => fail("boosting needs a \"positive\" clause")
            case q => node(q)
          }
          val neg = o \ "negative" match {
            case JNothing => fail("boosting needs a \"negative\" clause")
            case q => node(q)
          }
          val nb = o \ "negative_boost" match {
            case JNothing => fail("boosting needs \"negative_boost\"")
            case v => scalar(v) match {
              case SNum(x) if x >= 0 && x <= 1 => x
              case SNum(x) => fail(s"negative_boost must be in [0, 1], " +
                s"got $x")
              case other => fail(s"negative_boost must be numeric, " +
                s"got ${other.sql}")
            }
          }
          BoostingQ(pos, neg, nb)
        case other => fail(s"boosting expects an object, got $other")
      }
      case "constant_score" => body match {
        case o: JObject =>
          val known = Set("filter", "boost")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"constant_score has unsupported option " +
              s"'$k' — supported: boost, filter"))
          o \ "filter" match {
            case JNothing => fail("constant_score needs a \"filter\" clause")
            case fq => ConstScoreQ(node(fq), boostOf(o))
          }
        case other => fail(s"constant_score expects an object, got $other")
      }
      case "dis_max" => body match {
        case o: JObject =>
          val known = Set("queries", "tie_breaker")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"dis_max has unsupported option '$k' — " +
              "supported: queries, tie_breaker"))
          val tb = o \ "tie_breaker" match {
            case JNothing => BigDecimal(0)
            case JInt(n) => BigDecimal(n)
            case JDouble(d) => BigDecimal(d)
            case JDecimal(d) => d
            case v => fail(s"dis_max tie_breaker must be a number, got $v")
          }
          if (tb < 0 || tb > 1)
            fail(s"dis_max tie_breaker must be in [0, 1], got $tb")
          o \ "queries" match {
            case JArray(qs) if qs.nonEmpty => DisMaxQ(qs.map(node), tb)
            case _ => fail("dis_max needs a non-empty \"queries\" array")
          }
        case other => fail(s"dis_max expects an object, got $other")
      }
      case "nested" => body match {
        case o: JObject =>
          val known = Set("path", "query", "inner_hits")
          o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
            .foreach(k => fail(s"nested has unsupported option '$k' — " +
              "supported: path, query, inner_hits (score_mode is moot: " +
              "nested clauses are membership predicates here, unscored)"))
          val path = o \ "path" match {
            case JString(p) if p.nonEmpty => p
            case _ => fail("nested needs a \"path\" string")
          }
          // inner_hits: {} (name defaults to the path) or {"name": x}.
          // ES's size/sort/_source knobs over the inner page refuse —
          // every matched element returns, in array order, serialized
          // into ONE per-hit column (the term-vectors comma-payload
          // precedent: the oracle recomputes the payload value-for-value)
          val innerHits = o \ "inner_hits" match {
            case JNothing => None
            case ih: JObject =>
              ih.obj.collectFirst { case (k, _) if k != "name" => k }
                .foreach(k => fail(s"nested inner_hits has unsupported " +
                  s"option '$k' — supported: name (all matched elements " +
                  "return in array order; page/sort the OUTER hits)"))
              ih \ "name" match {
                case JNothing => Some(path)
                case JString(nm) if nm.nonEmpty => Some(nm)
                case v => fail(s"nested inner_hits name must be a " +
                  s"non-empty string, got $v")
              }
            case other => fail(s"nested inner_hits must be an object, " +
              s"got $other")
          }
          o \ "query" match {
            case JNothing => fail("nested needs a \"query\" clause")
            case q => NestedQ(path, nestedNode(path, q), innerHits)
          }
        case other => fail(s"nested expects an object, got $other")
      }
      case "simple_query_string" =>
        QueryString.parseClause(body, simple = true)
      case "query_string" =>
        QueryString.parseClause(body, simple = false)
      case "more_like_this" =>
        // MLT with LIKE-TEXT-LOCAL term selection: terms rank by their
        // frequency INSIDE the like text (min_term_freq floor,
        // max_query_terms cut, tf-desc/term-asc order) — deterministic
        // at parse, so the generated oracle exists. ES's default
        // selection also weighs INDEX doc frequencies (min_doc_freq &
        // co) — data-dependent at parse time, refused below.
        body match {
          case o: JObject =>
            val known = Set("fields", "like", "max_query_terms",
              "min_term_freq", "minimum_should_match", "boost")
            o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
              .foreach(k => fail("more_like_this has unsupported option " +
                s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")} " +
                "(doc-frequency knobs select terms from index " +
                "statistics — data-dependent, unsupported)"))
            val field = o \ "fields" match {
              case JNothing => Search.DefaultField
              case JArray(List(JString(f))) =>
                checkAnalyzed(f, "more_like_this"); f
              case JArray(_) => fail("more_like_this supports exactly " +
                "one analyzed field")
              case v =>
                fail(s"more_like_this fields must be an array, got $v")
            }
            val likeText = o \ "like" match {
              case JString(s) => s
              case JArray(vs) if vs.nonEmpty => vs.map {
                case JString(s) => s
                case other => fail("more_like_this like entries must " +
                  s"be text, got $other (the {_index,_id} document " +
                  "form is unsupported)")
              }.mkString(" ")
              case _ => fail("more_like_this needs \"like\" text")
            }
            val minTf = o \ "min_term_freq" match {
              case JNothing => 2 // the ES default
              case JInt(n) if n >= 1 => n.toInt
              case v => fail("more_like_this min_term_freq must be a " +
                s"positive integer, got $v")
            }
            val maxTerms = o \ "max_query_terms" match {
              case JNothing => 25 // the ES default
              case JInt(n) if n >= 1 => n.toInt
              case v => fail("more_like_this max_query_terms must be a " +
                s"positive integer, got $v")
            }
            val counts = analyzed(likeText).groupBy(identity).toSeq
              .map { case (t, xs) => (t, xs.size) }
            val selected = counts.filter(_._2 >= minTf)
              .sortBy { case (t, c) => (-c, t) }.take(maxTerms).map(_._1)
            if (selected.isEmpty)
              fail("more_like_this: no like-text term reaches " +
                s"min_term_freq=$minTf — lower it or provide more text")
            val msm = o \ "minimum_should_match" match {
              case JNothing => resolveMsm("30%", selected.size) // ES dflt
              case JInt(n) => n.toInt
              case JString(s) => resolveMsm(s, selected.size)
              case v => fail("more_like_this minimum_should_match must " +
                s"be an integer or a grammar string, got $v")
            }
            // a pure disjunction needs ≥1 hit regardless of the
            // resolved floor — Lucene's own should-only rule
            BoolQ(Seq.empty,
              selected.map(t =>
                MatchQ(field, Seq(t), boostOf(o), andOp = false)),
              Seq.empty, Seq.empty, Some(math.max(1, msm)))
          case other =>
            fail(s"more_like_this expects an object, got $other")
        }
      case "wrapper" =>
        // the base64 query envelope — clients that must ship a query
        // through a string-typed config slot; decodes and recurses
        body match {
          case JObject(List(("query", JString(b64)))) =>
            val decoded =
              try new String(java.util.Base64.getDecoder.decode(b64),
                java.nio.charset.StandardCharsets.UTF_8)
              catch { case _: IllegalArgumentException =>
                fail("wrapper.query is not valid base64") }
            val inner =
              try JsonMethods.parse(decoded)
              catch { case e: Exception =>
                fail(s"wrapper.query does not decode to JSON: " +
                  s"${e.getMessage}") }
            node(inner)
          case _ =>
            fail("""wrapper needs exactly {"query": "<base64>"}""")
        }
      case "match_bool_prefix" =>
        // search-as-you-type over a term list: every term but the
        // last matches as an OPTIONAL term (operator "and" makes them
        // required), the last as a token prefix — a pure desugar into
        // the oracle-green MatchQ/PhrasePrefixQ machinery
        val (field, text, boost, andOp, fuzz, _) =
          queryText(body, "match_bool_prefix", allowOperator = true)
        if (fuzz.nonEmpty)
          fail(s"match_bool_prefix.$field has unsupported option " +
            "'fuzziness' — supported: boost, operator, query")
        checkAnalyzed(field, "match_bool_prefix")
        val terms = analyzed(text)
        if (terms.isEmpty) fail(s"match_bool_prefix.$field has no terms")
        val prefixQ = PhrasePrefixQ(field, Seq(terms.last), boost, 0)
        if (terms.size == 1) prefixQ
        else {
          val leads: Seq[Node] = terms.dropRight(1)
            .map(t => MatchQ(field, Seq(t), boost, andOp = false))
          if (andOp)
            BoolQ(leads :+ prefixQ, Seq.empty, Seq.empty, Seq.empty, None)
          else
            BoolQ(Seq.empty, leads :+ prefixQ, Seq.empty, Seq.empty,
              Some(1))
        }
      case "pinned" =>
        body match {
          case o: JObject =>
            o.obj.collectFirst {
              case (k, _) if k != "ids" && k != "organic" => k
            }.foreach(k => fail(s"pinned has unsupported option '$k' — " +
              "supported: ids, organic (the docs form is unsupported)"))
            val ids = o \ "ids" match {
              case JArray(vs) if vs.nonEmpty => vs.map {
                case JInt(n) => n.toLong
                case JString(s) if s.nonEmpty && s.forall(_.isDigit) =>
                  s.toLong
                case other =>
                  fail(s"pinned ids must be numeric doc ids, got $other")
              }
              case _ => fail("pinned needs a non-empty \"ids\" array")
            }
            if (ids.distinct.size != ids.size)
              fail("pinned lists an id twice")
            if (ids.size > 100)
              fail(s"pinned supports at most 100 ids (the ES cap), " +
                s"got ${ids.size}")
            val org = o \ "organic" match {
              case q: JObject => node(q)
              case _ => fail("pinned needs an \"organic\" query object")
            }
            PinnedQ(ids, org)
          case other => fail(s"pinned expects an object, got $other")
        }
      case "terms_set" =>
        body match {
          case JObject(List((field, spec: JObject))) =>
            checkAnalyzed(field, "terms_set")
            spec.obj.collectFirst {
              case (k, _) if k != "terms" &&
                k != "minimum_should_match_field" => k
            }.foreach(k => fail(s"terms_set.$field has unsupported " +
              s"option '$k' — supported: terms, " +
              "minimum_should_match_field (the script threshold is " +
              "unsupported)"))
            val ts = spec \ "terms" match {
              case JArray(vs) if vs.nonEmpty => vs.map {
                case JString(s) => analyzed(s) match {
                  case Seq(tok) => tok
                  case _ => fail(s"terms_set.$field term '$s' must " +
                    "analyze to exactly one token")
                }
                case other =>
                  fail(s"terms_set terms must be strings, got $other")
              }
              case _ =>
                fail(s"terms_set.$field needs a non-empty \"terms\" array")
            }
            if (ts.distinct.size != ts.size)
              fail(s"terms_set.$field lists a term twice")
            spec \ "minimum_should_match_field" match {
              case JString(mf) if mf.nonEmpty => TermsSetQ(field, ts, mf)
              case _ => fail(s"terms_set.$field needs " +
                "minimum_should_match_field (the script threshold is " +
                "unsupported)")
            }
          case other => fail("terms_set expects {field: {terms, " +
            s"minimum_should_match_field}}, got $other")
        }
      case "rank_feature" =>
        body match {
          case o: JObject =>
            val known = Set("field", "saturation", "log", "boost")
            o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
              .foreach(k => fail(s"rank_feature has unsupported option " +
                s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")} " +
                "(sigmoid/linear are unsupported)"))
            val f = o \ "field" match {
              case JString(x) if x.nonEmpty => x
              case _ => fail("rank_feature needs a \"field\"")
            }
            (o \ "saturation", o \ "log") match {
              case (s: JObject, JNothing) =>
                s.obj.collectFirst { case (k, _) if k != "pivot" => k }
                  .foreach(k => fail("rank_feature.saturation has " +
                    s"unsupported option '$k' — supported: pivot"))
                s \ "pivot" match {
                  case JNothing => fail("rank_feature.saturation needs " +
                    "a pivot (the pivotless form derives it from index " +
                    "statistics — data-dependent, unsupported)")
                  case v => scalar(v) match {
                    case SNum(x) if x > 0 =>
                      RankFeatureQ(f, "saturation", x, boostOf(o))
                    case _ => fail("rank_feature.saturation.pivot must " +
                      "be a positive number")
                  }
                }
              case (JNothing, l: JObject) =>
                l.obj.collectFirst {
                  case (k, _) if k != "scaling_factor" => k
                }.foreach(k => fail("rank_feature.log has unsupported " +
                  s"option '$k' — supported: scaling_factor"))
                l \ "scaling_factor" match {
                  case JNothing =>
                    fail("rank_feature.log needs a scaling_factor")
                  case v => scalar(v) match {
                    case SNum(x) if x > 0 =>
                      RankFeatureQ(f, "log", x, boostOf(o))
                    case _ => fail("rank_feature.log.scaling_factor " +
                      "must be a positive number")
                  }
                }
              case (JNothing, JNothing) =>
                fail("rank_feature needs saturation {pivot} or log " +
                  "{scaling_factor} (the default pivotless saturation " +
                  "derives its pivot from index statistics — " +
                  "data-dependent, unsupported)")
              case _ => fail("rank_feature takes ONE of saturation/log")
            }
          case other => fail(s"rank_feature expects an object, got $other")
        }
      case "distance_feature" =>
        body match {
          case o: JObject =>
            val known = Set("field", "origin", "pivot", "boost")
            o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
              .foreach(k => fail(s"distance_feature has unsupported " +
                s"option '$k' — supported: " +
                known.toSeq.sorted.mkString(", ")))
            val f = o \ "field" match {
              case JString(x) if x.nonEmpty => x
              case _ => fail("distance_feature needs a \"field\"")
            }
            (o \ "origin", o \ "pivot") match {
              case (JString(org), JString(pv)) =>
                if (!org.matches("\\d{4}-\\d{2}-\\d{2}"))
                  fail("distance_feature date origin must be " +
                    s"yyyy-MM-dd, got '$org'")
                if (!pv.matches("[1-9]\\d*d"))
                  fail("distance_feature date pivot must be " +
                    s""""<days>d" (sub-day units would need """ +
                    s"time-typed fields), got '$pv'")
                DistanceFeatureQ(f, Some(org), None,
                  BigDecimal(pv.stripSuffix("d").toLong), boostOf(o))
              case (ov, pv) if ov != JNothing && pv != JNothing =>
                (scalar(ov), scalar(pv)) match {
                  case (SNum(org), SNum(p)) if p > 0 =>
                    DistanceFeatureQ(f, None, Some(org), p, boostOf(o))
                  case _ => fail("distance_feature needs a numeric " +
                    "origin and a positive numeric pivot, or a date " +
                    """origin with a "<n>d" pivot""")
                }
              case _ =>
                fail("distance_feature needs origin and pivot")
            }
          case other =>
            fail(s"distance_feature expects an object, got $other")
        }
      case "match_all" => MatchAllQ
      case other => fail(s"unsupported query type '$other' — supported: " +
        "bool, boosting, combined_fields, constant_score, dis_max, " +
        "distance_feature, exists, function_score, fuzzy, ids, " +
        "intervals, match, match_all, match_bool_prefix, match_phrase, " +
        "match_phrase_prefix, more_like_this, multi_match, nested, " +
        "pinned, prefix, query_string, range, rank_feature, regexp, " +
        "simple_query_string, span_near, span_term, term, terms, " +
        "terms_set, wildcard, wrapper")
    }
    case JObject(fields) =>
      fail(s"a query clause must have exactly one key, got " +
        s"${fields.map(_._1).mkString(", ")}")
    case other => fail(s"a query clause must be an object, got $other")
  }

  /** The nested struct's subfields — the reference mapping's tags
    * shape (mapping.json:41-56). NOTE the reference maps both `type`
    * and `value` as analyzed `text` (with a `value.keyword` sub-field);
    * nested term/terms here model the `.keyword` sub-field semantics
    * (raw exact equality), which would diverge from ES `term` on the
    * ANALYZED form for multi-token or mixed-case tag values (fixture
    * tags are single lowercase tokens, where the two coincide).
    * An inner clause addressing anything else refuses loudly at parse
    * (the engine cannot see the struct schema until execution, and a
    * silent typo'd subfield must not become a runtime analysis
    * error). */
  val NestedSubFields: Seq[String] = Seq("type", "value")

  /** Strip and validate the `path.` prefix of an inner nested field —
    * ES nested queries address subfields by FULL path. */
  private def nestedSub(path: String, field: String): String = {
    if (!field.startsWith(path + "."))
      fail(s"nested.$path: inner clause field '$field' must be " +
        s"'$path.<subfield>' (ES full-path addressing)")
    val sub = field.stripPrefix(path + ".")
    if (!NestedSubFields.contains(sub))
      fail(s"nested.$path: no subfield '$sub' in the tags mapping — " +
        s"subfields: ${NestedSubFields.mkString(", ")}")
    sub
  }

  private def nestedSeq(path: String, v: JValue, ctx: String)
      : Seq[NestedNode] = v match {
    case JNothing => Seq.empty
    case JArray(items) => items.map(nestedNode(path, _))
    case single: JObject => Seq(nestedNode(path, single))
    case other => fail(s"nested bool.$ctx must be an array of clauses, " +
      s"got $other")
  }

  private def nestedNode(path: String, v: JValue): NestedNode = v match {
    case JObject(List((name, body))) => name match {
      case "term" => body match {
        case JObject(List((field, o: JObject))) =>
          o.obj.collectFirst { case (k, _) if k != "value" => k }
            .foreach(k => fail(s"nested term.$field has unsupported " +
              s"option '$k' — supported: value"))
          o \ "value" match {
            case JNothing => fail(s"nested term.$field needs a \"value\"")
            case value => NTermQ(nestedSub(path, field), scalar(value))
          }
        case JObject(List((field, value))) =>
          NTermQ(nestedSub(path, field), scalar(value))
        case other => fail(s"nested term expects {field: value}, got $other")
      }
      case "terms" => body match {
        case JObject(List((field, JArray(values)))) =>
          if (values.isEmpty)
            fail(s"nested terms.$field has an empty value list")
          NTermsQ(nestedSub(path, field), values.map(scalar))
        case other =>
          fail(s"nested terms expects {field: [values]}, got $other")
      }
      case "match" => body match {
        case JObject(List((field, JString(s)))) =>
          val terms = analyzed(s)
          if (terms.isEmpty)
            fail(s"nested match.$field has no terms after analysis")
          NMatchQ(nestedSub(path, field), terms)
        case other => fail(s"nested match expects {field: text}, " +
          s"got $other (modifiers have no meaning on a tag value)")
      }
      case "exists" => body \ "field" match {
        case JString(f) => NExistsQ(nestedSub(path, f))
        case _ => fail("nested exists needs {\"field\": name}")
      }
      case "bool" =>
        val known = Set("must", "should", "must_not", "filter",
          "minimum_should_match")
        body match {
          case JObject(fields) =>
            fields.collectFirst {
              case (k, _) if !known.contains(k) => k
            }.foreach(k => fail(s"nested bool has unsupported section " +
              s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")}"))
          case other => fail(s"nested bool expects an object, got $other")
        }
        val shoulds = nestedSeq(path, body \ "should", "should")
        val msm = body \ "minimum_should_match" match {
          case JNothing => None
          case JInt(n) => Some(n.toInt)
          case JString(s) => Some(resolveMsm(s, shoulds.size))
          case o => fail(s"nested minimum_should_match must be an " +
            s"integer or grammar string, got $o")
        }
        NBoolQ(nestedSeq(path, body \ "must", "must"), shoulds,
          nestedSeq(path, body \ "must_not", "must_not"),
          nestedSeq(path, body \ "filter", "filter"), msm)
      case other => fail(s"unsupported nested query type '$other' — " +
        "supported inside nested: bool, exists, match, term, terms " +
        "(membership predicates over one tag)")
    }
    case other => fail(s"a nested query clause must be an object with " +
      s"exactly one key, got $other")
  }

  // ------------------------------------------------------ parse aggs

  private def parseAggs(v: JValue): Seq[AggSpec] = v match {
    case JObject(entries) =>
      if (entries.isEmpty) fail("aggs is empty")
      if (entries.map(_._1).distinct.size != entries.size)
        fail("aggs names an aggregation twice")
      val specs = entries.map { case (name, body) =>
        parseAggSpec(name, body, sub = false) }
      // sibling pipeline paths resolve against the WHOLE aggs object
      specs.foreach { s => s.agg match {
        case BucketMetricAgg(_, path, _) => specs.find(_.name == path) match {
          case Some(AggSpec(_, _: TermsAgg | _: DateHistAgg | _: HistAgg,
              _, _)) => ()
          case Some(_) => fail(s"agg '${s.name}': buckets_path '$path' " +
            "must name a GROUPING bucket sibling (terms, " +
            "date_histogram, histogram)")
          case None =>
            fail(s"agg '${s.name}': buckets_path names no sibling '$path'")
        }
        case _ => ()
      }}
      specs
    case other => fail(s"aggs must be an object, got $other")
  }

  /** Parse + validate a pipeline agg's `buckets_path`. Parent
    * pipelines read `_count`; sibling pipelines read
    * `<sibling>>_count` (the sibling is validated in [[parseAggs]],
    * where the whole object is visible). */
  private def pipelinePathOf(spec: JValue, name: String, tpe: String,
      sibling: Boolean, extraKnown: Set[String] = Set.empty): String = {
    val known = Set("buckets_path") ++ extraKnown
    spec match {
      case o: JObject =>
        o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
          .foreach(k => fail(s"agg '$name' $tpe has unsupported option " +
            s"'$k' — supported: ${known.toSeq.sorted.mkString(", ")}"))
      case other => fail(s"agg '$name' expects an object, got $other")
    }
    spec \ "buckets_path" match {
      case JString(p) if sibling && p.endsWith(">_count") &&
          p.length > ">_count".length => p.stripSuffix(">_count")
      case JString("_count") if !sibling => "_count"
      case JString(p) if sibling => fail(s"agg '$name' $tpe buckets_path " +
        s"""must be "<sibling>>_count" (metric paths would read a """ +
        s"sibling's sub — unsupported), got '$p'")
      case JString(p) => fail(s"agg '$name' $tpe buckets_path must be " +
        s""""_count" (a metric path would need a second sub under the """ +
        s"one-sub nesting rule), got '$p'")
      case _ => fail(s"agg '$name' $tpe needs a \"buckets_path\"")
    }
  }

  /** Parses the [[ScriptedMetricAgg]] accumulator quartet — see the
    * case class for the supported shape and the integral-sums
    * rationale. Scripts are whitespace-normalized before matching so
    * formatting never changes semantics. */
  private def parseScriptedMetric(spec: JValue, name: String)
      : ScriptedMetricAgg = {
    val known = Set("init_script", "map_script", "combine_script",
      "reduce_script", "params")
    spec match {
      case o: JObject => o.obj.collectFirst {
        case (k, _) if !known.contains(k) => k
      }.foreach(k => fail(s"agg '$name' scripted_metric has " +
        s"unsupported option '$k' — supported: " +
        known.toSeq.sorted.mkString(", ")))
      case other => fail(s"agg '$name' expects an object, got $other")
    }
    def script(k: String): String = spec \ k match {
      case JString(s2) if s2.nonEmpty =>
        s2.trim.replaceAll("\\s+", " ").replaceAll(" ;", ";")
      case JNothing => fail(s"agg '$name' scripted_metric needs a " +
        s"""\"$k\" (the full accumulator quartet pins the semantics)""")
      case v => fail(s"agg '$name' $k must be a string, got $v")
    }
    val params = spec \ "params" match {
      case JNothing => Map.empty[String, BigDecimal]
      case po: JObject => po.obj.map { case (pn, pv) => scalar(pv) match {
        case SNum(x) => pn -> x
        case other => fail(s"agg '$name' params.$pn must be numeric, " +
          s"got ${other.sql}")
      }}.toMap
      case v => fail(s"agg '$name' params must be an object, got $v")
    }
    val InitRe = """state\.(\w+) = 0;?""".r
    val MapRe = """state\.(\w+) \+= (.+?);?""".r
    val CombRe = """return state\.(\w+);?""".r
    val RedRe =
      """double (\w+) = 0; for \((\w+) in states\) \{ \1 \+= \2;? \} return \1;?""".r
    val v0 = script("init_script") match {
      case InitRe(v) => v
      case s2 => fail(s"agg '$name' init_script must be " +
        s"""\"state.<v> = 0\" (the sum accumulator), got '$s2'""")
    }
    val (v1, mapSrc) = script("map_script") match {
      case MapRe(v, e) => (v, e)
      case s2 => fail(s"agg '$name' map_script must be " +
        s"""\"state.<v> += <arithmetic>\", got '$s2'""")
    }
    if (v1 != v0) fail(s"agg '$name' map_script accumulates state.$v1 " +
      s"but init_script declared state.$v0")
    script("combine_script") match {
      case CombRe(`v0`) => ()
      case s2 => fail(s"agg '$name' combine_script must be " +
        s"""\"return state.$v0\", got '$s2'""")
    }
    script("reduce_script") match {
      case RedRe(_, _) => ()
      case s2 => fail(s"agg '$name' reduce_script must be the " +
        "canonical merge \"double r = 0; for (s in states) " +
        s"""{ r += s } return r\", got '$s2'""")
    }
    val e0 = parsePipeScript(mapSrc, s"agg '$name' map_script",
      allowDoc = true)
    val e1 = pexprSubst(e0, params, s"agg '$name' map_script")
    def checkIntegral(e: PExpr): Unit = e match {
      case PNum(v) if !v.isWhole =>
        fail(s"agg '$name' map_script literal $v is fractional — a " +
          "sum of non-integral doubles is summation-order-dependent " +
          "(unverifiable by the hash gate); scale to integers")
      case PBin("/", _, _) =>
        fail(s"agg '$name' map_script division is unsupported — it " +
          "breaks the integral distributed sum; divide the RESULT " +
          "via a bucket_script or client-side")
      case PBin(op, _, _) if CmpOps.contains(op) =>
        fail(s"agg '$name' map_script must be arithmetic — a " +
          "comparison is a filter, not a summand")
      case PBin(_, l, r) => checkIntegral(l); checkIntegral(r)
      case _ => ()
    }
    checkIntegral(e1)
    ScriptedMetricAgg(e1)
  }

  /** `shard_size` of a sampler agg — the sample bound (ES default
    * 100), capped at the result window the sampling search obeys. */
  private def samplerShardSize(spec: JValue, name: String): Int =
    spec \ "shard_size" match {
      case JNothing => 100 // the ES default
      case JInt(x) if x >= 1 && x <= MaxResultWindow => x.toInt
      case v => fail(s"agg '$name' shard_size must be a positive " +
        s"integer ≤ $MaxResultWindow, got $v")
    }

  /** The shared `percents` grammar (percentiles, percentiles_bucket):
    * a non-empty array in [0, 100], no duplicates, ES's defaults when
    * absent. */
  private def parsePercents(spec: JValue, name: String)
      : Seq[BigDecimal] = {
    val ps = spec \ "percents" match {
      case JNothing => DefaultPercents
      case JArray(xs) if xs.nonEmpty => xs.map(scalar).map {
        case SNum(v) if v >= 0 && v <= 100 => v
        case SNum(v) => fail(s"agg '$name' percent $v out of " +
          "[0, 100]")
        case other => fail(s"agg '$name' percents must be " +
          s"numbers, got ${other.sql}")
      }
      case v => fail(s"agg '$name' percents must be a " +
        s"non-empty array, got $v")
    }
    if (ps.map(pctKeyOf).distinct.size != ps.size)
      fail(s"agg '$name' lists a percent twice")
    ps
  }

  private def aggField(spec: JValue, name: String,
      known: Set[String]): String = {
    spec match {
      case o: JObject =>
        o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
          .foreach(k => fail(s"agg '$name' has unsupported option '$k' — " +
            s"supported: ${known.toSeq.sorted.mkString(", ")}"))
      case other => fail(s"agg '$name' expects an object, got $other")
    }
    spec \ "field" match {
      case JString(f) => f
      case _ => fail(s"agg '$name' needs a \"field\"")
    }
  }

  /** Every aggregation type [[parseAggSpec]] accepts. The refusal
    * message a user sees on a typo enumerates EXACTLY this list, and
    * DslSpec pins it against the match's own `case` labels so the two
    * can never drift again (r14 shipped the message missing
    * `percentiles`). */
  val SupportedAggTypes: Seq[String] = Seq("adjacency_matrix",
    "auto_date_histogram", "avg",
    "avg_bucket", "boxplot", "cardinality", "cumulative_cardinality",
    "cumulative_sum",
    "date_histogram",
    "date_range", "derivative", "diversified_sampler", "extended_stats",
    "extended_stats_bucket",
    "filter", "filters",
    "global", "histogram", "max", "max_bucket",
    "median_absolute_deviation", "min", "min_bucket",
    "missing", "moving_fn", "moving_percentiles", "multi_terms",
    "nested", "normalize", "percentile_ranks",
    "percentiles", "percentiles_bucket",
    "random_sampler", "range", "rare_terms", "sampler",
    "scripted_metric",
    "serial_diff", "significant_terms", "significant_text", "stats",
    "stats_bucket", "string_stats", "sum", "t_test",
    "sum_bucket", "terms", "top_hits", "top_metrics", "value_count",
    "weighted_avg")

  private val CmpOps = Set(">", ">=", "<", "<=", "==", "!=")

  /** Tokenize + recursive-descent parse of the bucket-pipeline script
    * subset: `params.<ident>`, numeric literals, + − × ÷, comparisons,
    * parens. Precedence comparison < additive < multiplicative.
    * `allowDoc` adds `doc['field'].value` atoms (the script_score
    * grammar). */
  private def parsePipeScript(s: String, ctx: String,
      allowDoc: Boolean = false): PExpr = {
    val toks = scala.collection.mutable.ListBuffer.empty[String]
    var i = 0
    while (i < s.length) {
      val c = s(i)
      if (c.isWhitespace) i += 1
      else if (c.isDigit) {
        val j = s.indexWhere(x => !x.isDigit && x != '.', i)
        val end = if (j < 0) s.length else j
        val t = s.substring(i, end)
        // shape-check here so atom()'s BigDecimal can't throw a raw
        // NumberFormatException on '1.2.3' / '1.' (ADVICE r15)
        if (!t.matches("""\d+(\.\d+)?"""))
          fail(s"$ctx script: malformed number '$t'")
        toks += t; i = end
      } else if (s.startsWith("params.", i)) {
        val st = i + 7
        val j = s.indexWhere(x => !x.isLetterOrDigit && x != '_', st)
        val end = if (j < 0) s.length else j
        if (end == st) fail(s"$ctx script: params. needs a name")
        toks += s.substring(i, end); i = end
      } else if (allowDoc && s.startsWith("doc[", i)) {
        val close = s.indexOf("'].value", i)
        if (!s.startsWith("doc['", i) || close < 0)
          fail(s"$ctx script: doc reads must be doc['field'].value")
        val fld = s.substring(i + 5, close)
        if (!fld.matches("[A-Za-z_][A-Za-z0-9_]*"))
          fail(s"$ctx script: doc field '$fld' is not an identifier")
        toks += s"doc:$fld"; i = close + 8
      } else if (i + 1 < s.length &&
          Set(">=", "<=", "==", "!=").contains(s.substring(i, i + 2))) {
        toks += s.substring(i, i + 2); i += 2
      } else if ("+-*/()<>".contains(c)) { toks += c.toString; i += 1 }
      else fail(s"$ctx script: unsupported character '$c' — the " +
        "supported subset is params.x, numbers, + - * / ( ) and " +
        "comparisons (Painless is out of scope)")
    }
    var pos = 0
    def peek: Option[String] = toks.lift(pos)
    def take(): String = { val t = toks(pos); pos += 1; t }
    def atom(): PExpr = peek match {
      case Some("(") =>
        take(); val e = cmp()
        if (peek.contains(")")) take()
        else fail(s"$ctx script: unbalanced parens")
        e
      case Some(t) if t.startsWith("params.") =>
        take(); PParam(t.stripPrefix("params."))
      case Some(t) if t.startsWith("doc:") =>
        take(); PDoc(t.stripPrefix("doc:"))
      case Some(t) if t.head.isDigit => take(); PNum(BigDecimal(t))
      case other => fail(s"$ctx script: expected a value, got $other")
    }
    def mul(): PExpr = {
      var e = atom()
      while (peek.exists(t => t == "*" || t == "/"))
        e = PBin(take(), e, atom())
      e
    }
    def add(): PExpr = {
      var e = mul()
      while (peek.exists(t => t == "+" || t == "-"))
        e = PBin(take(), e, mul())
      e
    }
    def cmp(): PExpr = {
      val e = add()
      if (peek.exists(CmpOps.contains)) PBin(take(), e, add()) else e
    }
    val e = cmp()
    if (pos != toks.length)
      fail(s"$ctx script: trailing tokens from '${toks(pos)}'")
    e
  }

  private def pexprParams(e: PExpr): Seq[String] = e match {
    case PParam(n) => Seq(n)
    case PBin(_, l, r) => pexprParams(l) ++ pexprParams(r)
    case _ => Seq.empty
  }

  /** doc['…'].value fields a script reads (projection + numeric-type
    * check set). */
  private def pexprDocFields(e: PExpr): Seq[String] = e match {
    case PDoc(f) => Seq(f)
    case PBin(_, l, r) => pexprDocFields(l) ++ pexprDocFields(r)
    case _ => Seq.empty
  }

  /** Parse a `script` value — a bare source string or
    * `{source, params}` — into the arithmetic [[PExpr]] with params
    * substituted (shared by the `script_score` QUERY and the
    * functions-array `script_score` FUNCTION). */
  /** `_score` as a standalone token (not inside an identifier like
    * `f_score` or `raw_score`). `doc['_score']` still matches — the
    * quote is not a word character — which is the intended refusal. */
  private val ScoreRefRe = """(?<![A-Za-z0-9_])_score(?![A-Za-z0-9_])""".r

  private def parseScriptExpr(v: JValue, ctx: String): PExpr = {
    val (src, params) = v match {
      case JString(s2) if s2.nonEmpty =>
        (s2, Map.empty[String, BigDecimal])
      case so: JObject =>
        so.obj.collectFirst {
          case (k, _) if k != "source" && k != "params" => k
        }.foreach(k => fail(s"$ctx script has unsupported option " +
          s"'$k' — supported: source, params (stored-script id / " +
          "lang need a script registry)"))
        val s2 = so \ "source" match {
          case JString(x) if x.nonEmpty => x
          case _ => fail(s"$ctx script needs a \"source\"")
        }
        val ps = so \ "params" match {
          case JNothing => Map.empty[String, BigDecimal]
          case po: JObject => po.obj.map {
            case (pn, pv) => scalar(pv) match {
              case SNum(x) => pn -> x
              case other => fail(s"$ctx params.$pn must be numeric, " +
                s"got ${other.sql}")
            }
          }.toMap
          case v2 => fail(s"$ctx params must be an object, got $v2")
        }
        (s2, ps)
      case _ => fail(s"$ctx needs a \"script\" (string or " +
        "{source, params})")
    }
    // standalone-token match only — params.raw_score or
    // doc['f_score'].value are legitimate names that merely CONTAIN
    // the substring; a bare _score (or doc['_score']) is the refusal
    if (ScoreRefRe.findFirstIn(src).nonEmpty)
      fail(s"$ctx: _score references are unsupported — the " +
        "arithmetic subset reads doc['field'].value and params only")
    val e0 = parsePipeScript(src, ctx, allowDoc = true)
    if (isCmpExpr(e0))
      fail(s"$ctx must be arithmetic — a comparison is a filter, " +
        "not a score")
    pexprSubst(e0, params, ctx)
  }

  /** Substitutes script params to literals at parse — both engines then
    * evaluate ONE shared expression with no runtime binding. */
  private def pexprSubst(e: PExpr, params: Map[String, BigDecimal],
      ctx: String): PExpr = e match {
    case PParam(n) => params.get(n).map(PNum).getOrElse(
      fail(s"$ctx references params.$n — not in the script's params"))
    case PBin(op, l, r) =>
      PBin(op, pexprSubst(l, params, ctx), pexprSubst(r, params, ctx))
    case other => other
  }

  private def isCmpExpr(e: PExpr): Boolean = e match {
    case PBin(op, _, _) => CmpOps.contains(op)
    case _ => false
  }

  /** Parse one bucket_selector / bucket_script / bucket_sort entry.
    * `metricSub` is the parent's single metric sub (path target). */
  private def parseBucketPipe(parent: String, pn: String, kind: String,
      spec: JValue, metricSub: Option[(String, AggNode)]): BucketPipe = {
    val o = spec match {
      case x: JObject => x
      case other => fail(s"agg '$pn' $kind expects an object, got $other")
    }
    def checkPath(path: String, sortCtx: Boolean): Unit = path match {
      case "_count" => ()
      case "_key" if sortCtx => ()
      case p =>
        val ok = metricSub.exists { case (sn, m) =>
          sn == p && (m match {
            case MetricAgg(k, _) =>
              Seq("avg", "sum", "min", "max", "value_count").contains(k)
            case _: CardinalityAgg => true
            case _ => false
          })
        }
        if (!ok) fail(s"agg '$pn' buckets_path '$p' must be _count" +
          (if (sortCtx) ", _key," else "") + " or the parent's " +
          "single-value metric sub (avg/sum/min/max/value_count/" +
          "cardinality) — stats/percentiles are multi-value, and " +
          "pipes cannot reference other pipes")
    }
    kind match {
      case "bucket_sort" =>
        o.obj.collectFirst {
          case (k, _) if !Set("sort", "from", "size").contains(k) => k
        }.foreach(k => fail(s"agg '$pn' bucket_sort has unsupported " +
          s"option '$k' — supported: from, size, sort"))
        val keys = o \ "sort" match {
          case JArray(es) if es.nonEmpty => es.map {
            case JObject(List((p, JObject(List(("order",
                JString(ord))))))) if ord == "asc" || ord == "desc" =>
              checkPath(p, sortCtx = true); (p, ord == "asc")
            case JString(p) => checkPath(p, sortCtx = true); (p, true)
            case v => fail(s"agg '$pn' bucket_sort sort entries are " +
              s"""{"<path>": {"order": "asc"|"desc"}}, got $v""")
          }
          case _ => fail(s"agg '$pn' bucket_sort needs a non-empty " +
            "\"sort\" (a sortless truncation would page an " +
            "engine-internal order — not deterministic)")
        }
        val from = o \ "from" match {
          case JNothing => 0
          case JInt(x) if x >= 0 => x.toInt
          case v => fail(s"agg '$pn' bucket_sort from must be a " +
            s"non-negative integer, got $v")
        }
        val size = o \ "size" match {
          case JNothing => None
          case JInt(x) if x > 0 => Some(x.toInt)
          case v => fail(s"agg '$pn' bucket_sort size must be a " +
            s"positive integer, got $v")
        }
        BucketPipe(kind, Seq.empty, None, keys, from, size)
      case _ =>
        o.obj.collectFirst {
          case (k, _) if !Set("buckets_path", "script").contains(k) => k
        }.foreach(k => fail(s"agg '$pn' $kind has unsupported option " +
          s"'$k' — supported: buckets_path, script"))
        val paths = o \ "buckets_path" match {
          case JObject(ps) if ps.nonEmpty => ps.map {
            case (prm, JString(p)) => checkPath(p, sortCtx = false)
              (prm, p)
            case (prm, v) =>
              fail(s"agg '$pn' buckets_path.$prm must be a string, got $v")
          }
          case _ => fail(s"agg '$pn' $kind needs a non-empty " +
            "\"buckets_path\" object ({param: path})")
        }
        val script = o \ "script" match {
          case JString(s) if s.nonEmpty => parsePipeScript(s, s"agg '$pn'")
          case _ => fail(s"agg '$pn' $kind needs a \"script\" string")
        }
        pexprParams(script).foreach(prm =>
          if (!paths.exists(_._1 == prm))
            fail(s"agg '$pn' script references params.$prm — not in " +
              "buckets_path"))
        if (kind == "bucket_selector" && !isCmpExpr(script))
          fail(s"agg '$pn' bucket_selector script must be a comparison " +
            "(it keeps or drops buckets)")
        if (kind == "bucket_script" && isCmpExpr(script))
          fail(s"agg '$pn' bucket_script script must be arithmetic " +
            "(a comparison belongs in bucket_selector)")
        BucketPipe(kind, paths, Some(script), Seq.empty, 0, None)
    }
  }

  private def parseAggSpec(name: String, body: JValue,
      sub: Boolean): AggSpec = body match {
    case JObject(entries) =>
      val (subEntries, typeEntries) = entries.partition(_._1 == "aggs")
      // the bucket-script trio rides BESIDE the (single) ordinary sub
      // in the parent's aggs map — partition it out before the
      // one-sub rule
      def pipeKindOf(v: JValue): Option[String] = v match {
        case JObject(es) => es.collectFirst {
          case (k, _) if k == "bucket_selector" || k == "bucket_script" ||
            k == "bucket_sort" => k
        }
        case _ => None
      }
      val aggEntries: Seq[(String, JValue)] = subEntries match {
        case Nil => Seq.empty
        case List((_, JObject(obs))) => obs
        case _ => fail(s"agg '$name': aggs must be an object")
      }
      val (pipeRaw, ordinary) =
        aggEntries.partition(e => pipeKindOf(e._2).isDefined)
      if (pipeRaw.nonEmpty && sub)
        fail(s"agg '$name': bucket_selector/bucket_script/bucket_sort " +
          "attach to a top-level grouping parent (one level of nesting)")
      val subSpec = ordinary match {
        case Nil => None
        case List((sn, sb)) =>
          if (sub) fail(s"agg '$name': sub-aggregations nest one level only")
          parseAggSpec(sn, sb, sub = true).agg match {
            case m @ (_: StatsAgg | _: MetricAgg | _: CardinalityAgg) =>
              Some((sn, m: AggNode))
            case b @ (_: TermsAgg | _: DateHistAgg | _: HistAgg |
                      _: TopHitsAgg) =>
              Some((sn, b: AggNode))
            case pl: PipelineAgg => Some((sn, pl: AggNode))
            case cc: CumCardAgg => Some((sn, cc: AggNode))
            case _ => fail(s"sub-aggregation '$sn' must be a metric, a " +
              "grouping bucket, top_hits, or a parent pipeline — bucket " +
              "aggs nest one of: avg, cardinality, cumulative_sum, " +
              "date_histogram, derivative, histogram, max, min, stats, " +
              "sum, terms, top_hits, value_count")
          }
        case _ =>
          fail(s"agg '$name': aggs must hold exactly one sub-aggregation " +
            "(bucket_selector/bucket_script/bucket_sort pipes ride " +
            "beside it)")
      }
      val agg = typeEntries match {
        case List((tpe, spec)) => tpe match {
          case "terms" =>
            val f = aggField(spec, name,
              Set("field", "size", "order", "missing", "min_doc_count",
                "include", "exclude"))
            val n = spec \ "size" match {
              case JNothing => DefaultSize
              case JInt(x) if x > 0 && x <= MaxResultWindow => x.toInt
              case v => fail(s"agg '$name' size must be a positive integer " +
                s"≤ $MaxResultWindow, got $v")
            }
            val order = spec \ "order" match {
              case JNothing => ByCount
              case JObject(List(("_count", JString("desc")))) => ByCount
              case JObject(List(("_key", JString("asc")))) => ByKey
              case JObject(List(("_key", JString("desc")))) => ByKeyDesc
              case JObject(List((sub, JString(ord))))
                  if sub != "_count" && sub != "_key" =>
                BySub(sub, parseOrder(sub, ord))
              case v => fail(s"agg '$name' order must be " +
                s"""{"_count": "desc"} (default), {"_key": "asc"|"desc"}, or """ +
                s"""{"<metric sub-agg>": "asc"|"desc"}, got $v""")
            }
            val missing = spec \ "missing" match {
              case JNothing => None
              case v => Some(scalar(v))
            }
            val minDoc = spec \ "min_doc_count" match {
              case JNothing => 1
              case JInt(x) if x >= 1 => x.toInt
              case v => fail(s"agg '$name' min_doc_count must be a " +
                s"positive integer, got $v (0 would require emitting " +
                "empty buckets for unseen terms — unsupported)")
            }
            def keyRegex(kk: String): Option[String] = spec \ kk match {
              case JNothing => None
              case JString(pat) if pat.nonEmpty =>
                // the RegexpQ pattern discipline: Java/RE2 shared
                // subset, Lucene ops + anchors refuse
                Seq('~', '&', '<', '>').find(pat.contains(_))
                  .foreach(c => fail(s"agg '$name' $kk: '$c' is a " +
                    "Lucene-specific regexp operator — unsupported"))
                if (pat.contains('^') || pat.contains('$'))
                  fail(s"agg '$name' $kk: explicit anchors are not " +
                    "Lucene regexp syntax — the whole key always matches")
                Some(pat)
              case JArray(_) => fail(s"agg '$name' $kk: the exact-list " +
                "form is unsupported — express the set as a regex " +
                "(a|b|c)")
              case v => fail(s"agg '$name' $kk must be a regex string, " +
                s"got $v")
            }
            TermsAgg(f, n, order, missing, minDoc, keyRegex("include"),
              keyRegex("exclude"))
          case "date_histogram" =>
            val f = aggField(spec, name,
              Set("field", "calendar_interval", "min_doc_count"))
            val iv = spec \ "calendar_interval" match {
              case JString(x @ ("day" | "week" | "month")) => x
              case JNothing => fail(s"agg '$name' needs calendar_interval")
              case v => fail(s"agg '$name': calendar_interval must be " +
                s"""\"day\", \"week\", or \"month\", got $v""")
            }
            // min_doc_count 0 = the ES gap-fill contract (ES's own
            // date_histogram DEFAULT; this engine's default stays 1 —
            // populated buckets only — a spec-pinned divergence kept
            // for round-over-round result stability)
            val fill = spec \ "min_doc_count" match {
              case JNothing => false
              case JInt(x) if x == 1 => false
              case JInt(x) if x == 0 => true
              case v => fail(s"agg '$name' min_doc_count must be 0 " +
                "(emit empty buckets across gaps) or 1 (populated " +
                s"only), got $v")
            }
            DateHistAgg(f, iv, fill)
          case "auto_date_histogram" =>
            val f = aggField(spec, name, Set("field", "buckets"))
            val bk = spec \ "buckets" match {
              case JNothing => 10 // the ES default
              case JInt(x) if x > 0 && x <= MaxResultWindow => x.toInt
              case v => fail(s"agg '$name' buckets must be a positive " +
                s"integer ≤ $MaxResultWindow, got $v")
            }
            AutoDateHistAgg(f, bk)
          case "random_sampler" =>
            spec match {
              case o: JObject => o.obj.collectFirst {
                case (k, _) if k != "probability" && k != "seed" => k
              }.foreach(k => fail(s"agg '$name' random_sampler has " +
                s"unsupported option '$k' — supported: probability, seed"))
              case other =>
                fail(s"agg '$name' expects an object, got $other")
            }
            val prob = spec \ "probability" match {
              case v if v != JNothing => scalar(v) match {
                case SNum(x) if x > 0 && x <= 1 => x
                case SNum(x) => fail(s"agg '$name' probability must be " +
                  s"in (0, 1], got $x")
                case other => fail(s"agg '$name' probability must be " +
                  s"numeric, got ${other.sql}")
              }
              case _ => fail(s"agg '$name' random_sampler needs a " +
                "\"probability\"")
            }
            val seed = spec \ "seed" match {
              case JInt(n) => n.toLong
              case _ => fail(s"agg '$name' random_sampler needs an " +
                "integer \"seed\" (the seedless form is not " +
                "reproducible)")
            }
            RandomSamplerAgg(prob, seed)
          case "sampler" =>
            if (sub) fail(s"agg '$name': sampler is top-level only " +
              "(one level of nesting)")
            spec match {
              case o: JObject => o.obj.collectFirst {
                case (k, _) if k != "shard_size" => k
              }.foreach(k => fail(s"agg '$name' sampler has " +
                s"unsupported option '$k' — supported: shard_size"))
              case other =>
                fail(s"agg '$name' expects an object, got $other")
            }
            SamplerAgg(samplerShardSize(spec, name), None)
          case "diversified_sampler" =>
            if (sub) fail(s"agg '$name': diversified_sampler is " +
              "top-level only (one level of nesting)")
            val f = aggField(spec, name,
              Set("field", "shard_size", "max_docs_per_value"))
            spec \ "max_docs_per_value" match {
              case JNothing => () // the ES default: 1
              case JInt(x) if x == 1 => ()
              case v => fail(s"agg '$name' max_docs_per_value must " +
                s"be 1 (the ES default — served by the top-1-per-value " +
                "collapse machinery; higher caps would need a " +
                s"per-value rank window), got $v")
            }
            SamplerAgg(samplerShardSize(spec, name), Some(f))
          case "scripted_metric" =>
            if (sub) fail(s"agg '$name': scripted_metric is top-level " +
              "only (per-bucket scripted metrics would need a slot in " +
              "the single-field sub machinery)")
            parseScriptedMetric(spec, name)
          case "histogram" =>
            val f = aggField(spec, name, Set("field", "interval"))
            spec \ "interval" match {
              case JInt(x) if x > 0 => HistAgg(f, x.toLong)
              case v => fail(s"agg '$name' interval must be a positive " +
                s"integer, got $v (fractional intervals would bucket by " +
                "double arithmetic — not supported)")
            }
          case "stats" => StatsAgg(aggField(spec, name, Set("field")))
          case "avg" | "sum" | "min" | "max" | "value_count" =>
            MetricAgg(tpe, aggField(spec, name, Set("field")))
          case "extended_stats" =>
            if (sub) fail(s"agg '$name': extended_stats emits multiple " +
              "rows (variance/std_deviation/sum_of_squares ride extra " +
              "keyed rows) — top-level only; subs take stats")
            MetricAgg("extended_stats", aggField(spec, name, Set("field")))
          case "boxplot" =>
            if (sub) fail(s"agg '$name': boxplot emits five keyed rows " +
              "(min/q1/q2/q3/max) — top-level only; subs take stats")
            // `compression` (the TDigest knob) refuses via aggField:
            // quartiles here are EXACT (the percentiles machinery),
            // so there is no sketch to tune
            MetricAgg("boxplot", aggField(spec, name, Set("field")))
          case "median_absolute_deviation" =>
            if (sub) fail(s"agg '$name': median_absolute_deviation is " +
              "top-level only — its two-aggregate plan (median, then " +
              "median of deviations) has no slot in the one-pass " +
              "sub-metric machinery")
            // `compression` refuses for the same reason as boxplot —
            // the MAD here is exact, not a TDigest
            MadAgg(aggField(spec, name, Set("field")))
          case "string_stats" =>
            if (sub) fail(s"agg '$name': string_stats emits five keyed " +
              "rows (count/min_length/max_length/avg_length/entropy) — " +
              "top-level only; subs take stats")
            // show_distribution refuses via aggField's supported set
            val f = aggField(spec, name, Set("field"))
            if (AnalyzedFields.contains(f))
              fail(s"agg '$name' string_stats reads RAW values; '$f' " +
                "is an analyzed text field (ES would read index terms " +
                "— aggregate a keyword field, or pre-tokenize " +
                "upstream)")
            StringStatsAgg(f)
          case "t_test" =>
            if (sub) fail(s"agg '$name': t_test is top-level only — " +
              "its two-population rows have no slot in the sub-metric " +
              "machinery")
            spec match {
              case o: JObject =>
                o.obj.collectFirst {
                  case (k, _) if k != "a" && k != "b" && k != "type" => k
                }.foreach(k => fail(s"agg '$name' t_test has " +
                  s"unsupported option '$k' — supported: a, b, type"))
              case other => fail(s"agg '$name' expects an object, " +
                s"got $other")
            }
            val kind = spec \ "type" match {
              case JNothing => "heteroscedastic" // the ES default
              case JString(k2) if Set("paired", "heteroscedastic",
                "homoscedastic")(k2) => k2
              case v => fail(s"agg '$name' t_test type must be paired, " +
                s"heteroscedastic, or homoscedastic, got $v")
            }
            def pop(part: String): (String, Option[Node]) =
              spec \ part match {
                case o: JObject =>
                  o.obj.collectFirst {
                    case (k, _) if k != "field" && k != "filter" => k
                  }.foreach(k => fail(s"agg '$name' t_test.$part has " +
                    s"unsupported option '$k' — supported: field, " +
                    "filter"))
                  val f = o \ "field" match {
                    case JString(x) => x
                    case _ => fail(s"agg '$name' t_test.$part needs a " +
                      "\"field\"")
                  }
                  val flt = o \ "filter" match {
                    case JNothing => None
                    case q => Some(node(q))
                  }
                  (f, flt)
                case _ => fail(s"agg '$name' t_test needs " +
                  s"\"$part\": {\"field\": …}")
              }
            val (af, aflt) = pop("a")
            val (bf, bflt) = pop("b")
            if (kind == "paired" && (aflt.nonEmpty || bflt.nonEmpty))
              fail(s"agg '$name' t_test: paired takes no filters — " +
                "both samples read the same documents")
            if (kind != "paired" && af == bf &&
                (aflt.isEmpty || bflt.isEmpty))
              fail(s"agg '$name' t_test: unpaired on ONE field needs " +
                "a filter on both populations (identical samples " +
                "have nothing to test)")
            TTestAgg(af, aflt, bf, bflt, kind)
          case "weighted_avg" =>
            if (sub) fail(s"agg '$name': weighted_avg is top-level only " +
              "— the two-field input has no slot in the sub-metric " +
              "machinery")
            spec match {
              case o: JObject =>
                o.obj.collectFirst {
                  case (k, _) if k != "value" && k != "weight" => k
                }.foreach(k => fail(s"agg '$name' weighted_avg has " +
                  s"unsupported option '$k' — supported: value, weight"))
              case other => fail(s"agg '$name' expects an object, " +
                s"got $other")
            }
            def wfield(part: String): String = spec \ part match {
              case o: JObject =>
                o.obj.collectFirst { case (k, _) if k != "field" => k }
                  .foreach(k => fail(s"agg '$name' weighted_avg.$part " +
                    s"has unsupported option '$k' — supported: field " +
                    "(missing substitutes are unsupported — ES's " +
                    "skip-missing default applies)"))
                o \ "field" match {
                  case JString(f) => f
                  case _ => fail(s"agg '$name' weighted_avg.$part " +
                    "needs a \"field\"")
                }
              case _ => fail(s"agg '$name' weighted_avg needs " +
                s"\"$part\": {\"field\": …}")
            }
            WeightedAvgAgg(wfield("value"), wfield("weight"))
          case "multi_terms" =>
            spec match {
              case o: JObject =>
                o.obj.collectFirst {
                  case (k, _) if k != "terms" && k != "size" &&
                    k != "order" => k
                }.foreach(k => fail(s"agg '$name' multi_terms has " +
                  s"unsupported option '$k' — supported: order, size, " +
                  "terms"))
              case other => fail(s"agg '$name' expects an object, " +
                s"got $other")
            }
            val fs = spec \ "terms" match {
              case JArray(ts) if ts.size >= 2 => ts.map {
                case o: JObject =>
                  o.obj.collectFirst { case (k, _) if k != "field" => k }
                    .foreach(k => fail(s"agg '$name' multi_terms term " +
                      s"has unsupported option '$k' — supported: field"))
                  o \ "field" match {
                    case JString(f) => f
                    case _ => fail(s"agg '$name' multi_terms terms " +
                      "need a \"field\"")
                  }
                case other => fail(s"agg '$name' multi_terms terms " +
                  s"must be objects, got $other")
              }
              case _ => fail(s"agg '$name' multi_terms needs a " +
                "\"terms\" array of at least two fields")
            }
            if (fs.distinct.size != fs.size)
              fail(s"agg '$name' multi_terms lists a field twice")
            val n = spec \ "size" match {
              case JNothing => DefaultSize
              case JInt(x) if x > 0 && x <= MaxResultWindow => x.toInt
              case v => fail(s"agg '$name' size must be a positive " +
                s"integer ≤ $MaxResultWindow, got $v")
            }
            val order = spec \ "order" match {
              case JNothing => ByCount
              case JObject(List(("_count", JString("desc")))) => ByCount
              case JObject(List(("_key", JString("asc")))) => ByKey
              case JObject(List(("_key", JString("desc")))) => ByKeyDesc
              case v => fail(s"agg '$name' multi_terms order must be " +
                s"""{"_count": "desc"} or {"_key": "asc"|"desc"}, got $v""")
            }
            MultiTermsAgg(fs, n, order)
          case "rare_terms" =>
            val f = aggField(spec, name, Set("field", "max_doc_count"))
            val m = spec \ "max_doc_count" match {
              case JNothing => 1 // the ES default
              case JInt(x) if x >= 1 && x <= 100 => x.toInt
              case v => fail(s"agg '$name' max_doc_count must be in " +
                s"[1, 100] (the ES bound), got $v")
            }
            RareTermsAgg(f, m)
          case "significant_terms" =>
            val f = aggField(spec, name, Set("field", "size"))
            val n = spec \ "size" match {
              case JNothing => DefaultSize
              case JInt(x) if x > 0 && x <= MaxResultWindow => x.toInt
              case v => fail(s"agg '$name' size must be a positive " +
                s"integer ≤ $MaxResultWindow, got $v")
            }
            SigTermsAgg(f, n)
          case "significant_text" =>
            val f = aggField(spec, name, Set("field", "size"))
            if (f != Search.DefaultField)
              fail(s"agg '$name' significant_text field must be " +
                s"'${Search.DefaultField}' (the analyzed source field " +
                "— keyword fields take significant_terms; 'head' is a " +
                "derived prefix, not a source field)")
            val n = spec \ "size" match {
              case JNothing => DefaultSize
              case JInt(x) if x > 0 && x <= MaxResultWindow => x.toInt
              case v => fail(s"agg '$name' size must be a positive " +
                s"integer ≤ $MaxResultWindow, got $v")
            }
            SigTextAgg(f, n)
          case "missing" => MissingAgg(aggField(spec, name, Set("field")))
          case "global" =>
            if (sub) fail(s"agg '$name': global is top-level only")
            spec match {
              case JObject(Nil) => GlobalAgg()
              case _ => fail(s"agg '$name': global takes no options " +
                "({} — the whole point is ignoring the query)")
            }
          case "date_range" =>
            val f = aggField(spec, name, Set("field", "ranges"))
            val ranges = spec \ "ranges" match {
              case JArray(rs) if rs.nonEmpty => rs.map {
                case o: JObject =>
                  o.obj.collectFirst {
                    case (k, _) if k != "from" && k != "to" => k
                  }.foreach(k => fail(s"agg '$name' date_range bucket " +
                    s"has unsupported key '$k' — supported: from, to"))
                  def bound(k: String): Option[SDate] = o \ k match {
                    case JNothing => None
                    case JString(d)
                        if d.matches("\\d{4}-\\d{2}-\\d{2}") =>
                      Some(SDate(d, s"DATE '$d'"))
                    // explicit-anchor date math; both bounds round
                    // DOWN ("to" is exclusive, so /M means "up to the
                    // start of that month" — the ES date_range form)
                    case JString(dm)
                        if dm.contains("||") || dm.startsWith("now") =>
                      Some(evalDateMath(dm, roundUp = false,
                        s"agg '$name' date_range $k"))
                    case v => fail(s"agg '$name' date_range $k must be " +
                      s"a yyyy-MM-dd date or explicit-anchor date math " +
                      s"""("<date>||±Nd±NM/d|/M"), got $v ('now' is """ +
                      "evaluation-time-dependent — unsupported)")
                  }
                  val b2 = (bound("from"), bound("to"))
                  if (b2._1.isEmpty && b2._2.isEmpty)
                    fail(s"agg '$name' date_range bucket needs from " +
                      "and/or to")
                  b2
                case other => fail(s"agg '$name' date_range buckets " +
                  s"must be objects, got $other")
              }
              case _ => fail(s"agg '$name' needs a non-empty " +
                "\"ranges\" array")
            }
            val labels = ranges.map(dateRangeLabel)
            if (labels.distinct.size != labels.size)
              fail(s"agg '$name' lists a date_range bucket twice")
            DateRangeAgg(f, ranges)
          case "percentile_ranks" =>
            if (sub) fail(s"agg '$name': percentile_ranks emits one row " +
              "per probe value — top-level only (the percentiles stance)")
            val f = aggField(spec, name, Set("field", "values"))
            val vs = spec \ "values" match {
              case JArray(xs) if xs.nonEmpty => xs.map(scalar).map {
                case n: SNum => n.v
                case other => fail(s"agg '$name' values must be " +
                  s"numbers, got ${other.sql}")
              }
              case _ => fail(s"agg '$name' needs a non-empty " +
                "\"values\" array")
            }
            if (vs.distinct.size != vs.size)
              fail(s"agg '$name' lists a value twice")
            PctRanksAgg(f, vs)
          case "top_metrics" =>
            if (sub) fail(s"agg '$name': top_metrics is top-level only")
            spec match {
              case o: JObject =>
                o.obj.collectFirst {
                  case (k, _) if k != "metrics" && k != "sort" &&
                    k != "size" => k
                }.foreach(k => fail(s"agg '$name' top_metrics has " +
                  s"unsupported option '$k' — supported: metrics, " +
                  "size, sort"))
              case other => fail(s"agg '$name' expects an object, " +
                s"got $other")
            }
            spec \ "size" match {
              case JNothing => ()
              case JInt(n) if n == 1 => ()
              case v => fail(s"agg '$name' top_metrics size must be 1 " +
                s"(multi-row top_metrics is dslTopHitsOf's shape), " +
                s"got $v")
            }
            val m = spec \ "metrics" match {
              case o: JObject =>
                o.obj.collectFirst { case (k, _) if k != "field" => k }
                  .foreach(k => fail(s"agg '$name' top_metrics.metrics " +
                    s"has unsupported option '$k' — supported: field"))
                o \ "field" match {
                  case JString(x) => x
                  case _ => fail(s"agg '$name' top_metrics.metrics " +
                    "needs a \"field\"")
                }
              case _ => fail(s"agg '$name' top_metrics needs " +
                "\"metrics\": {\"field\": …}")
            }
            spec \ "sort" match {
              case JObject(List((sf, JString(ord2))))
                  if ord2 == "asc" || ord2 == "desc" =>
                TopMetricsAgg(m, sf, ord2 == "asc")
              case _ => fail(s"agg '$name' top_metrics needs " +
                """\"sort\": {field: \"asc\"|\"desc\"}""")
            }
          case "cumulative_sum" | "derivative" =>
            if (!sub) fail(s"agg '$name': $tpe is a PARENT pipeline " +
              "aggregation — place it under a date_histogram/histogram's " +
              "aggs")
            pipelinePathOf(spec, name, tpe, sibling = false)
            PipelineAgg(tpe)
          case "serial_diff" =>
            if (!sub) fail(s"agg '$name': $tpe is a PARENT pipeline " +
              "aggregation — place it under a date_histogram/histogram's " +
              "aggs")
            pipelinePathOf(spec, name, tpe, sibling = false,
              extraKnown = Set("lag"))
            val lagN = spec \ "lag" match {
              case JNothing => 1 // the ES default
              case JInt(x) if x >= 1 && x <= MaxResultWindow => x.toInt
              case v => fail(s"agg '$name' serial_diff lag must be a " +
                s"positive integer, got $v")
            }
            PipelineAgg(tpe, lag = lagN)
          case "moving_fn" =>
            if (!sub) fail(s"agg '$name': $tpe is a PARENT pipeline " +
              "aggregation — place it under a date_histogram/histogram's " +
              "aggs")
            pipelinePathOf(spec, name, tpe, sibling = false,
              extraKnown = Set("window", "script", "shift"))
            val wdw = spec \ "window" match {
              case JInt(x) if x >= 1 && x <= MaxResultWindow => x.toInt
              case JNothing => fail(s"agg '$name' moving_fn needs a " +
                "\"window\" (ES has no default)")
              case v => fail(s"agg '$name' moving_fn window must be a " +
                s"positive integer, got $v")
            }
            val sh = spec \ "shift" match {
              case JNothing => 0 // the ES default: window BEFORE current
              case JInt(x) if x >= 0 && x <= wdw => x.toInt
              case v => fail(s"agg '$name' moving_fn shift must be an " +
                s"integer in [0, window], got $v")
            }
            val MovingFnRe =
              """MovingFunctions\.(\w+)\(values\)""".r
            // fn dispatch via Set membership, NOT case labels — the
            // SupportedAggTypes drift gate greps this region's
            // `case "…"` patterns as aggregation types
            val closedForm = Set("unweightedAvg", "sum", "min", "max")
            val iterative = Set("ewma", "holt", "holtWinters", "stdDev",
              "linearWeightedAvg")
            val fnName = spec \ "script" match {
              case JString(MovingFnRe(f)) if closedForm(f) => f
              case JString(MovingFnRe(f)) if iterative(f) =>
                fail(s"agg '$name' moving_fn MovingFunctions.$f is " +
                  "unsupported — iterative/libm-dependent semantics " +
                  "the oracle cannot verify bit-for-bit; supported: " +
                  "unweightedAvg, sum, min, max")
              case JString(MovingFnRe(f)) =>
                fail(s"agg '$name' moving_fn script names unknown " +
                  s"MovingFunctions.$f — supported: " +
                  "unweightedAvg, sum, min, max")
              case JString(_) => fail(s"agg '$name' moving_fn script " +
                "must be \"MovingFunctions.<fn>(values)\" — arbitrary " +
                "Painless refuses loudly")
              case _ => fail(s"agg '$name' moving_fn needs a \"script\"")
            }
            PipelineAgg(tpe, window = wdw, shift = sh, fn = fnName)
          case "cumulative_cardinality" =>
            if (!sub) fail(s"agg '$name': $tpe is a PARENT pipeline " +
              "aggregation — place it under a date_histogram/histogram's " +
              "aggs")
            spec match {
              case o: JObject =>
                // if/else on the key, NOT case labels — the drift
                // gate greps this region's `case "…"` patterns
                o.obj.collectFirst {
                  case (k, _) if k != "field" => k
                }.foreach { k =>
                  if (k == "buckets_path") fail(s"agg '$name' " +
                    "cumulative_cardinality: ES references a sibling " +
                    "cardinality agg via buckets_path; under the " +
                    "one-sub rule this engine takes the FIELD inline " +
                    """— write {"field": …} (the referenced """ +
                    "cardinality's field; semantics identical, exact " +
                    "instead of sketch-merged)")
                  else fail(s"agg '$name' cumulative_cardinality " +
                    s"has unsupported option '$k' — supported: field")
                }
              case other => fail(s"agg '$name' expects an object, " +
                s"got $other")
            }
            spec \ "field" match {
              case JString(f) if f.nonEmpty => CumCardAgg(f)
              case _ => fail(s"agg '$name' cumulative_cardinality " +
                "needs a \"field\"")
            }
          case "normalize" =>
            if (!sub) fail(s"agg '$name': $tpe is a PARENT pipeline " +
              "aggregation — place it under a date_histogram/histogram's " +
              "aggs")
            pipelinePathOf(spec, name, tpe, sibling = false,
              extraKnown = Set("method"))
            // method dispatch via Set membership, NOT case labels —
            // the drift gate greps this region's `case "…"` patterns
            val methods = Set("rescale_0_1", "rescale_0_100",
              "percent_of_sum", "mean", "z-score")
            val m = spec \ "method" match {
              case JString(x) if methods(x) => x
              case JString("softmax") => fail(s"agg '$name' normalize " +
                "softmax is unsupported — exp is libm territory the " +
                "oracle cannot verify bit-for-bit; supported: " +
                methods.toSeq.sorted.mkString(", "))
              case JString(other) => fail(s"agg '$name' normalize " +
                s"names unknown method '$other' — supported: " +
                methods.toSeq.sorted.mkString(", "))
              case JNothing => fail(s"agg '$name' normalize needs a " +
                "\"method\" (ES has no default)")
              case v => fail(s"agg '$name' normalize method must be " +
                s"a string, got $v")
            }
            PipelineAgg(tpe, fn = m)
          case "moving_percentiles" =>
            if (!sub) fail(s"agg '$name': $tpe is a PARENT pipeline " +
              "aggregation — place it under a date_histogram/histogram's " +
              "aggs")
            pipelinePathOf(spec, name, tpe, sibling = false,
              extraKnown = Set("window", "shift", "percent"))
            val wdw = spec \ "window" match {
              case JInt(x) if x >= 1 && x <= MaxResultWindow => x.toInt
              case JNothing => fail(s"agg '$name' moving_percentiles " +
                "needs a \"window\" (ES has no default)")
              case v => fail(s"agg '$name' moving_percentiles window " +
                s"must be a positive integer, got $v")
            }
            val sh = spec \ "shift" match {
              case JNothing => 0 // the ES default: window BEFORE current
              case JInt(x) if x >= 0 && x <= wdw => x.toInt
              case v => fail(s"agg '$name' moving_percentiles shift " +
                s"must be an integer in [0, window], got $v")
            }
            val p = spec \ "percent" match {
              case JNothing => BigDecimal(50)
              case v => scalar(v) match {
                case SNum(x) if x >= 0 && x <= 100 => x
                case SNum(x) => fail(s"agg '$name' percent $x out of " +
                  "[0, 100]")
                case other => fail(s"agg '$name' percent must be a " +
                  s"number, got ${other.sql}")
              }
            }
            PipelineAgg(tpe, window = wdw, shift = sh, pct = p)
          case "avg_bucket" | "sum_bucket" | "min_bucket" | "max_bucket" |
               "stats_bucket" | "extended_stats_bucket" =>
            if (sub) fail(s"agg '$name': $tpe is a SIBLING pipeline " +
              "aggregation — place it at the top level beside the " +
              "bucket agg it reads")
            BucketMetricAgg(tpe.stripSuffix("_bucket"),
              pipelinePathOf(spec, name, tpe, sibling = true))
          case "percentiles_bucket" =>
            if (sub) fail(s"agg '$name': $tpe is a SIBLING pipeline " +
              "aggregation — place it at the top level beside the " +
              "bucket agg it reads")
            BucketMetricAgg("percentiles",
              pipelinePathOf(spec, name, tpe, sibling = true,
                extraKnown = Set("percents")),
              parsePercents(spec, name))
          case "cardinality" =>
            val f = aggField(spec, name, Set("field", "precision_threshold"))
            val thr = spec \ "precision_threshold" match {
              case JNothing => None
              case JInt(x) if x >= 1 && x <= 40000 => Some(x.toInt)
              case v => fail(s"agg '$name' precision_threshold must be an " +
                s"integer in [1, 40000] (the ES bound), got $v")
            }
            CardinalityAgg(f, thr)
          case "range" =>
            val f = aggField(spec, name, Set("field", "ranges"))
            val ranges = spec \ "ranges" match {
              case JArray(rs) if rs.nonEmpty => rs.map {
                case o: JObject =>
                  o.obj.collectFirst {
                    case (k, _) if k != "from" && k != "to" => k
                  }.foreach(k => fail(s"agg '$name' range bucket has " +
                    s"unsupported key '$k' — supported: from, to"))
                  def bound(k: String): Option[Scalar] = o \ k match {
                    case JNothing => None
                    case v => scalar(v) match {
                      case n: SNum => Some(n)
                      case _ => fail(s"agg '$name' range $k must be numeric")
                    }
                  }
                  val b = (bound("from"), bound("to"))
                  if (b._1.isEmpty && b._2.isEmpty)
                    fail(s"agg '$name' range bucket needs from and/or to")
                  b
                case other =>
                  fail(s"agg '$name' range buckets must be objects, " +
                    s"got $other")
              }
              case _ => fail(s"agg '$name' needs a non-empty \"ranges\" " +
                "array")
            }
            val labels = ranges.map(rangeLabel)
            if (labels.distinct.size != labels.size)
              fail(s"agg '$name' lists a range bucket twice")
            RangeAgg(f, ranges)
          case "filter" =>
            // the spec IS the stored clause: {"filter": {"term": …}}
            FilterAgg(node(spec))
          case "filters" =>
            spec match {
              case o: JObject =>
                o.obj.collectFirst {
                  case (k, _) if k != "filters" && k != "other_bucket" &&
                      k != "other_bucket_key" => k
                }.foreach(k => fail(s"agg '$name' filters has " +
                  s"unsupported option '$k' — supported: filters, " +
                  "other_bucket, other_bucket_key"))
              case other => fail(s"agg '$name' expects an object, got $other")
            }
            // other_bucket desugars AT PARSE to one more named bucket
            // whose clause is the complement (must_not of every named
            // clause) — zero new machinery, the overlap-free boolean
            // column the filters pass already counts. other_bucket_key
            // implies other_bucket (the ES rule); default key _other_.
            val otherKey = spec \ "other_bucket_key" match {
              case JNothing => "_other_"
              case JString(k) if k.nonEmpty => k
              case v => fail(s"agg '$name' other_bucket_key must be a " +
                s"non-empty string, got $v")
            }
            val wantOther = spec \ "other_bucket" match {
              case JNothing => (spec \ "other_bucket_key") != JNothing
              case JBool(x) => x
              case v => fail(s"agg '$name' other_bucket must be a " +
                s"boolean, got $v")
            }
            spec \ "filters" match {
              case JObject(entries) if entries.nonEmpty =>
                if (entries.map(_._1).distinct.size != entries.size)
                  fail(s"agg '$name' names a filter bucket twice")
                if (wantOther && entries.exists(_._1 == otherKey))
                  fail(s"agg '$name': other_bucket key '$otherKey' " +
                    "collides with a named filter bucket")
                val named = entries.map { case (nm, q) => nm -> node(q) }
                val other =
                  if (!wantOther) Seq.empty
                  else Seq(otherKey -> (BoolQ(Seq.empty, Seq.empty,
                    named.map(_._2), Seq.empty, None): Node))
                FiltersAgg(named ++ other)
              case JArray(_) => fail(s"agg '$name': anonymous filters " +
                "are unsupported — name each bucket " +
                """({"filters": {"<name>": <query>, …}})""")
              case _ => fail(s"agg '$name' needs a non-empty " +
                "\"filters\" object")
            }
          case "adjacency_matrix" =>
            if (sub) fail(s"agg '$name': adjacency_matrix is top-level " +
              "only — its matrix rows are conditional columns of the " +
              "global row, not a grouping key a parent could nest")
            spec match {
              case o: JObject =>
                o.obj.collectFirst {
                  case (k, _) if k != "filters" && k != "separator" => k
                }.foreach(k => fail(s"agg '$name' adjacency_matrix has " +
                  s"unsupported option '$k' — supported: filters, " +
                  "separator"))
              case other => fail(s"agg '$name' expects an object, " +
                s"got $other")
            }
            val sep = spec \ "separator" match {
              case JNothing => "&" // the ES default
              case JString(s2) if s2.nonEmpty => s2
              case v => fail(s"agg '$name' separator must be a " +
                s"non-empty string, got $v")
            }
            spec \ "filters" match {
              case JObject(entries) if entries.nonEmpty =>
                if (entries.map(_._1).distinct.size != entries.size)
                  fail(s"agg '$name' names a filter twice")
                if (entries.size > 100)
                  fail(s"agg '$name' adjacency_matrix takes at most " +
                    s"100 filters (the ES bound — ${entries.size} " +
                    "filters would expand to " +
                    s"${entries.size * (entries.size + 1) / 2} buckets)")
                entries.map(_._1).find(_.contains(sep)).foreach(nm =>
                  fail(s"agg '$name': filter name '$nm' contains the " +
                    s"separator '$sep' — intersection keys would be " +
                    "ambiguous"))
                // sorted by name: ES composes intersection keys from
                // a sorted map, so "b&a" never appears
                AdjacencyAgg(entries.map { case (nm, q) =>
                  nm -> node(q) }.sortBy(_._1), sep)
              case JArray(_) => fail(s"agg '$name': anonymous filters " +
                "are unsupported — name each filter " +
                """({"filters": {"<name>": <query>, …}})""")
              case _ => fail(s"agg '$name' needs a non-empty " +
                "\"filters\" object")
            }
          case "nested" =>
            spec match {
              case o: JObject =>
                o.obj.collectFirst { case (k, _) if k != "path" => k }
                  .foreach(k => fail(s"agg '$name' nested has " +
                    s"unsupported option '$k' — supported: path"))
              case other => fail(s"agg '$name' expects an object, got $other")
            }
            spec \ "path" match {
              case JString(pp) if pp.nonEmpty => NestedAgg(pp)
              case _ => fail(s"agg '$name' nested needs a \"path\" string")
            }
          case "percentiles" =>
            val f = aggField(spec, name, Set("field", "percents"))
            PercentilesAgg(f, parsePercents(spec, name))
          case "top_hits" =>
            spec match {
              case o: JObject =>
                o.obj.collectFirst {
                  case (k, _) if k != "size" && k != "sort" => k
                }.foreach(k => fail(s"agg '$name' top_hits has " +
                  s"unsupported option '$k' — supported: size, sort"))
              case other => fail(s"agg '$name' expects an object, got $other")
            }
            val n = spec \ "size" match {
              case JNothing => 3 // the ES top_hits default
              case JInt(x) if x > 0 && x <= MaxResultWindow => x.toInt
              case v => fail(s"agg '$name' top_hits size must be a " +
                s"positive integer ≤ $MaxResultWindow, got $v")
            }
            val sort = spec \ "sort" match {
              case JNothing => Seq.empty
              case v => parseSortEntries(v)
            }
            if (sort.isEmpty)
              fail(s"agg '$name' top_hits needs an explicit field sort " +
                "(per-bucket ranking must be deterministic)")
            TopHitsAgg(n, sort)
          case other => fail(s"unsupported aggregation type '$other' — " +
            s"supported: ${SupportedAggTypes.mkString(", ")} (composite " +
            "pages through its own endpoint, dslAggsCompositeOf; the " +
            "score-based sampler has no score in filter context — " +
            "random_sampler serves the sampling shape)")
        }
        case Nil => fail(s"agg '$name' has no aggregation type")
        case more => fail(s"agg '$name' must have exactly one type, got " +
          more.map(_._1).mkString(", "))
      }
      if (subSpec.nonEmpty && agg.isInstanceOf[AutoDateHistAgg])
        fail(s"agg '$name': auto_date_histogram takes no " +
          "sub-aggregations — its interval is chosen from the data, so " +
          "a sub's bucket identity would be unstable across corpora " +
          "(use date_histogram with an explicit calendar_interval)")
      if (subSpec.nonEmpty && !aggTakesSub(agg))
        fail(s"agg '$name': metrics take no aggs — only bucket aggs " +
          "(terms, date_histogram, histogram, range, filter) nest")
      subSpec.map(_._2).foreach {
        case _: PipelineAgg | _: CumCardAgg => agg match {
          case _: DateHistAgg | _: HistAgg => ()
          case _ => fail(s"agg '$name': cumulative_sum/derivative/" +
            "serial_diff/moving_fn/normalize/moving_percentiles/" +
            "cumulative_cardinality need an ORDERED histogram parent " +
            "(date_histogram or histogram) — a terms bucket has no " +
            "temporal order to accumulate over")
        }
        case _ => ()
      }
      agg match {
        case _: SamplerAgg =>
          if (pipeRaw.nonEmpty)
            fail(s"agg '$name': bucket pipes on a sampler are " +
              "unsupported — pipe the sub's own buckets")
          subSpec.map(_._2) match {
            case Some(_: StatsAgg | _: MetricAgg | _: CardinalityAgg |
                _: TermsAgg) => ()
            case Some(_) => fail(s"agg '$name': a sampler sub must be " +
              "a metric, cardinality, or terms aggregation")
            case None => fail(s"agg '$name': sampler needs exactly one " +
              "sub-aggregation — the sample scope exists to feed one")
          }
        case _: ScriptedMetricAgg if pipeRaw.nonEmpty =>
          fail(s"agg '$name': bucket pipes on scripted_metric are " +
            "unsupported — it emits one value, not buckets")
        case _ => ()
      }
      val subIsBucket = subSpec.exists(x => !isMetric(x._2) &&
        !x._2.isInstanceOf[PipelineAgg] &&
        !x._2.isInstanceOf[CumCardAgg])
      if (subIsBucket) {
        agg match {
          case _: TermsAgg | _: DateHistAgg | _: HistAgg |
               _: NestedAgg | _: SamplerAgg => ()
          case _ => fail(s"agg '$name': a bucket sub-aggregation needs a " +
            "grouping-keyed parent (terms, date_histogram, histogram) — " +
            "range/filter/filters buckets take metric subs only")
        }
        subSpec.map(_._2).foreach {
          case TermsAgg(_, _, _: BySub, _, _, _, _) =>
            fail(s"agg '$name': a sub-terms cannot order by its own " +
              "sub-aggregation (one level of nesting)")
          case DateHistAgg(_, _, true) =>
            fail(s"agg '$name': min_doc_count: 0 on a SUB-level " +
              "date_histogram is unsupported — gap fill is implemented " +
              "for the top-level grouping only (per-parent fill would " +
              "need a parent×calendar frame); hoist the date_histogram " +
              "to the parent or drop min_doc_count")
          case TermsAgg(_, _, _, _, _, inc, exc)
              if inc.nonEmpty || exc.nonEmpty =>
            fail(s"agg '$name': include/exclude on a SUB-terms is " +
              "unsupported — gate the parent, or filter upstream")
          case _ => ()
        }
      }
      agg match {
        case NestedAgg(path) => subSpec match {
          case Some((_, t: TermsAgg)) =>
            nestedSub(path, t.field) // full-path + subfield validation
            if (t.missing.nonEmpty)
              fail(s"agg '$name': missing inside a nested agg is " +
                "unsupported (tag subfields are total in this mapping)")
            if (t.order.isInstanceOf[BySub])
              fail(s"agg '$name': a nested sub-terms cannot order by a " +
                "metric (one level of nesting)")
            if (t.include.nonEmpty || t.exclude.nonEmpty)
              fail(s"agg '$name': include/exclude inside a nested agg " +
                "is unsupported")
          case _ => fail(s"agg '$name': nested needs exactly one terms " +
            s"sub-aggregation over $path.<subfield>")
        }
        case TermsAgg(_, _, BySub(sn, _), _, _, _, _) => subSpec match {
          case Some((`sn`, _: MetricAgg | _: CardinalityAgg)) => ()
          case Some((`sn`, _)) => fail(s"agg '$name': order by '$sn' " +
            "needs a SINGLE-VALUE metric sub (avg, sum, min, max, " +
            "value_count, cardinality) — stats is multi-valued, " +
            "buckets have no one value")
          case _ => fail(s"agg '$name' orders by '$sn' but carries no " +
            s"sub-aggregation of that name")
        }
        case _ => ()
      }
      val pipes = pipeRaw.map { case (pn, pb) =>
        val kind = pipeKindOf(pb).get
        pb match {
          case JObject(es) => es.collectFirst {
            case (k, _) if k != kind => k
          }.foreach(k => fail(s"agg '$pn': a pipe entry carries only " +
            s"its own type, got '$k' beside $kind"))
          case _ => ()
        }
        (pn, parseBucketPipe(name, pn, kind, pb \ kind,
          subSpec.filter(x => isMetric(x._2))))
      }
      if (pipes.nonEmpty) agg match {
        case _: TermsAgg | _: DateHistAgg | _: HistAgg => ()
        case other => fail(s"agg '$name': bucket pipes attach to a " +
          s"grouping parent (terms, date_histogram, histogram), " +
          s"not ${other.getClass.getSimpleName.stripSuffix("$")}")
      }
      if (pipes.count(_._2.kind == "bucket_sort") > 1)
        fail(s"agg '$name': at most one bucket_sort per parent")
      AggSpec(name, agg, subSpec, pipes)
    case other => fail(s"agg '$name' expects an object, got $other")
  }

  private def aggTakesSub(a: AggNode): Boolean = a match {
    case _: TermsAgg | _: DateHistAgg | _: HistAgg | _: RangeAgg |
         _: FilterAgg | _: FiltersAgg | _: AdjacencyAgg | _: NestedAgg |
         _: MultiTermsAgg | _: MissingAgg | _: DateRangeAgg |
         _: GlobalAgg | _: RandomSamplerAgg | _: SamplerAgg => true
    case _ => false
  }

  private def isMetric(a: AggNode): Boolean = a match {
    case _: StatsAgg | _: MetricAgg | _: CardinalityAgg => true
    case _ => false
  }

  /** The deterministic bucket key of a range bucket — a literal both
    * compilers emit, `from-to` with `*` for an open end (the ES key
    * convention, integral-valued). */
  private def rangeLabel(r: (Option[Scalar], Option[Scalar])): String =
    r._1.map(_.sql).getOrElse("*") + "-" + r._2.map(_.sql).getOrElse("*")

  /** [[rangeLabel]] for date_range buckets — keys show the RESOLVED
    * day (the ES convention: bucket keys render the computed bound). */
  private def dateRangeLabel(r: (Option[SDate], Option[SDate])): String =
    r._1.map(_.iso).getOrElse("*") + "-" + r._2.map(_.iso).getOrElse("*")

  /** Fields an agg node reads (the bucket key or metric input; a
    * filter agg's clause fields travel through the clause
    * inventory instead). */
  private def aggFieldsOf(a: AggNode): Seq[String] = a match {
    case TermsAgg(f, _, _, _, _, _, _) => Seq(f)
    case DateHistAgg(f, _, _) => Seq(f)
    case AutoDateHistAgg(f, _) => Seq(f)
    case RandomSamplerAgg(_, _) => Seq.empty
    // the div field is the SAMPLING search's concern (collapse fetches
    // its own doc-values); the agg frame needs only the sub's fields
    case SamplerAgg(_, _) => Seq.empty
    case sm: ScriptedMetricAgg => pexprDocFields(sm.expr)
    case HistAgg(f, _) => Seq(f)
    case StatsAgg(f) => Seq(f)
    case MetricAgg(_, f) => Seq(f)
    case MadAgg(f) => Seq(f)
    case StringStatsAgg(f) => Seq(f)
    case CumCardAgg(f) => Seq(f)
    case TTestAgg(af, _, bf, _, _) => Seq(af, bf)
    case CardinalityAgg(f, _) => Seq(f)
    case RangeAgg(f, _) => Seq(f)
    case PercentilesAgg(f, _) => Seq(f)
    case FilterAgg(_) => Seq.empty
    case FiltersAgg(_) => Seq.empty
    case AdjacencyAgg(_, _) => Seq.empty
    case _: PipelineAgg => Seq.empty
    case BucketMetricAgg(_, _, _) => Seq.empty
    case MultiTermsAgg(fs, _, _) => fs
    case RareTermsAgg(f, _) => Seq(f)
    case SigTermsAgg(f, _) => Seq(f)
    case SigTextAgg(f, _) => Seq(f)
    case WeightedAvgAgg(v, w) => Seq(v, w)
    case MissingAgg(f) => Seq(f)
    case GlobalAgg() => Seq.empty
    case DateRangeAgg(f, _) => Seq(f)
    case PctRanksAgg(f, _) => Seq(f)
    case TopMetricsAgg(m, sf, _) => Seq(m, sf)
    case TopHitsAgg(_, sort) => sort.map(_._1)
    case NestedAgg(p) => Seq(p)
  }

  /** COLUMN names an AggSpec reads — a nested agg's sub addresses
    * struct SUBFIELDS of the path column, never top-level columns. */
  private def aggSpecFields(sp: AggSpec): Seq[String] = sp.agg match {
    case NestedAgg(p) => Seq(p)
    case a => aggFieldsOf(a) ++ sp.sub.toSeq.flatMap(x => aggFieldsOf(x._2))
  }

  /** Stored clause nodes inside an aggs body (`filter` / `filters`
    * buckets) — merged into the query's clause inventory so their
    * text predicates share the ONE feature frame. */
  private def aggClauseNodes(b: Body): Seq[Node] = b.aggs.flatMap {
    case AggSpec(_, FilterAgg(n), _, _) => Seq(n)
    case AggSpec(_, FiltersAgg(fs), _, _) => fs.map(_._2)
    case AggSpec(_, AdjacencyAgg(fs, _), _, _) => fs.map(_._2)
    case AggSpec(_, TTestAgg(_, aflt, _, bflt, _), _, _) =>
      aflt.toSeq ++ bflt.toSeq
    case _ => Seq.empty
  }

  /** The adjacency matrix's bucket expansion: each named filter, then
    * every name-ordered pair (the conjunction of both predicates) —
    * the bucket label and the clause set each membership column
    * compiles from. */
  private def adjBuckets(fs: Seq[(String, Node)], sep: String)
      : Seq[(String, Seq[Node])] =
    fs.map { case (nm, n) => (nm, Seq(n)) } ++
      (for {
        i <- fs.indices; j <- fs.indices if i < j
      } yield (s"${fs(i)._1}$sep${fs(j)._1}",
        Seq(fs(i)._2, fs(j)._2)))

  /** (kind, field) of a metric node — parse guarantees subs are
    * metrics, and top-level stats/metric/cardinality flow through the
    * same emission. */
  private def metricKindField(a: AggNode): (String, String) = a match {
    case StatsAgg(f) => ("stats", f)
    case MetricAgg(k, f) => (k, f)
    case CardinalityAgg(f, None) => ("cardinality", f)
    // the threshold rides the kind so two cardinalities on one field
    // (exact beside approx, or two precisions) emit distinct columns
    case CardinalityAgg(f, Some(t)) => (s"cardinality_hll_$t", f)
    case other => fail(s"not a metric aggregation: $other") // unreachable
  }

  /** The HLL++ relative standard deviation a `precision_threshold`
    * maps to: 1.04/√threshold (the HLL error law with the threshold as
    * the register budget), clamped to Spark's supported range — higher
    * thresholds buy tighter sketches, the ES contract's shape. */
  /** ES's default percents. */
  private val DefaultPercents: Seq[BigDecimal] =
    Seq(1, 5, 25, 50, 75, 95, 99).map(BigDecimal(_))

  /** Canonical percent string both compilers emit as the row KEY
    * ("25", "99.9") and the derived column tag ("25", "99d9"). */
  private def pctKeyOf(p: BigDecimal): String =
    p.underlying.stripTrailingZeros.toPlainString
  private def pctTag(p: BigDecimal): String =
    pctKeyOf(p).replace(".", "d")

  private def rsdOfThreshold(t: Int): Double =
    math.max(0.005, math.min(0.39, 1.04 / math.sqrt(t.toDouble)))

  // ------------------------------------------- clause/field inventory

  /** Collect over the AST with the CONTEXT flag Lucene calls "query
    * vs filter context": children of must/should inherit, children of
    * filter/must_not are filter-context (scored = false). Statistics
    * are aggregated only for scored clauses — a filter-context match
    * gates on its tf columns but contributes no df/Σdl work. */
  private def collectCtx[A](n: Node, scored: Boolean)(
      pf: PartialFunction[(Node, Boolean), Seq[A]]): Seq[A] =
    pf.applyOrElse((n, scored), (_: (Node, Boolean)) => Seq.empty[A]) ++
      (n match {
        case BoolQ(m, s, mn, fl, _) =>
          (m ++ s).flatMap(collectCtx(_, scored)(pf)) ++
            (mn ++ fl).flatMap(collectCtx(_, false)(pf))
        case ConstScoreQ(f, _) => collectCtx(f, false)(pf)
        case DisMaxQ(qs, _) => qs.flatMap(collectCtx(_, scored)(pf))
        case FunctionScoreQ(q, _, _, _, _, _, _) =>
          collectCtx(q, scored)(pf)
        case FnScoreQ(q, fns, _, _, _) =>
          collectCtx(q, scored)(pf) ++
            fns.flatMap(_.filter.toSeq.flatMap(collectCtx(_, false)(pf)))
        case ScriptScoreQ(q, _, _) =>
          // the inner query GATES; its own score is never read (the
          // script replaces it), so it contributes in filter context
          collectCtx(q, false)(pf)
        case BoostingQ(pos, neg, _) =>
          collectCtx(pos, scored)(pf) ++ collectCtx(neg, false)(pf)
        case PinnedQ(_, organic) => collectCtx(organic, scored)(pf)
        case _ => Seq.empty
      })

  /** Distinct (field, term) match keys in first-appearance order —
    * the column order of the feature frame, shared by both
    * compilers. */
  private def tkeysOf(n: Node): Seq[(String, String)] = collectCtx(n, true) {
    case (MatchQ(f, ts, _, _), _) => ts.map((f, _))
    case (MultiMatchQ(fs, ts, _, _), _) =>
      fs.flatMap { case (f, _) => ts.map((f, _)) }
    case (CombinedQ(fs, ts, _, _), _) =>
      fs.flatMap { case (f, _) => ts.map((f, _)) }
    case (TermsSetQ(f, ts, _), _) => ts.map((f, _))
  }.distinct

  private def tkeysScoredOf(n: Node): Seq[(String, String)] =
    collectCtx(n, true) {
      case (MatchQ(f, ts, _, _), true) => ts.map((f, _))
      case (MultiMatchQ(fs, ts, _, _), true) =>
        fs.flatMap { case (f, _) => ts.map((f, _)) }
      case (TermsSetQ(f, ts, _), true) => ts.map((f, _))
    }.distinct

  private def pkeysOf(n: Node): Seq[(String, Seq[String], Int, Boolean)] =
    collectCtx(n, true) {
      case (PhraseQ(f, ts, _, sl), _) => Seq((f, ts, sl, false))
      case (PhrasePrefixQ(f, ts, _, sl), _) => Seq((f, ts, sl, true))
    }.distinct

  private def pkeysScoredOf(n: Node)
      : Seq[(String, Seq[String], Int, Boolean)] =
    collectCtx(n, true) {
      case (PhraseQ(f, ts, _, sl), true) => Seq((f, ts, sl, false))
      case (PhrasePrefixQ(f, ts, _, sl), true) => Seq((f, ts, sl, true))
    }.distinct

  /** Distinct FUZZY (field, term, edit-budget) keys — the third
    * feature family, columns qzf (tf) / qzd (df). */
  private def zkeysOf(n: Node): Seq[(String, String, Int)] =
    collectCtx(n, true) {
      case (MatchFzQ(f, ts, _, _), _) => ts.map { case (t, d) => (f, t, d) }
    }.distinct

  private def zkeysScoredOf(n: Node): Seq[(String, String, Int)] =
    collectCtx(n, true) {
      case (MatchFzQ(f, ts, _, _), true) =>
        ts.map { case (t, d) => (f, t, d) }
    }.distinct

  /** Analyzed-field regexp keys — feature column qrf (tf of matching
    * tokens); unscored, so no statistic family. Non-analyzed regexp
    * compiles directly over the doc-value ([[exactFields]]). */
  private def rkeysOf(n: Node): Seq[(String, String)] =
    collectCtx(n, true) {
      case (RegexpQ(f, pat), _) if AnalyzedFields.contains(f) =>
        Seq((f, pat))
    }.distinct

  /** Positional span keys — feature column qsp (count of matching
    * span occurrences); unscored like regexp, so no statistic
    * family. The key is the span NODE itself (value equality). */
  private def skeysOf(n: Node): Seq[Node] =
    collectCtx(n, true) {
      case (s @ (_: SpanNotQ | _: SpanFirstQ | _: SpanUnordQ |
          _: SpanOrderedQ | _: SpanWindowQ | _: SpanWithinQ |
          _: SpanChainQ), _) =>
        Seq(s: Node)
    }.distinct

  private def spanFieldOf(n: Node): String = n match {
    case SpanNotQ(f, _, _, _, _) => f
    case SpanFirstQ(f, _, _) => f
    case SpanUnordQ(f, _, _, _) => f
    case SpanOrderedQ(f, _) => f
    case SpanWindowQ(f, _, _) => f
    case SpanWithinQ(f, _, _, _, _, _) => f
    case SpanChainQ(f, _, _) => f
    case other => fail(s"not a span key: $other") // unreachable
  }

  /** The tokens a span key probes (postings pruning set). */
  private def spanToksOf(n: Node): Seq[String] = n match {
    case SpanNotQ(_, inc, exc, _, _) => Seq(inc, exc)
    case SpanFirstQ(_, t, _) => Seq(t)
    case SpanUnordQ(_, t1, t2, _) => Seq(t1, t2)
    case SpanOrderedQ(_, ts) => ts
    case SpanWindowQ(_, ts, _) => ts
    case SpanWithinQ(_, lt, t1, t2, _, _) => Seq(lt, t1, t2)
    case SpanChainQ(_, ts, _) => ts
    case _ => Seq.empty
  }

  /** SCORED combined-fields keys — (sorted field set, term), each
    * needing the BLENDED doc frequency df* (docs where ANY of the
    * fields carries the term); statistic column `qcd`. Weight-free:
    * weights scale tf, never membership. */
  private def ckeysOf(n: Node): Seq[(Seq[String], String)] =
    collectCtx(n, true) {
      case (CombinedQ(fs, ts, _, _), true) =>
        ts.map(t => (fs.map(_._1).sorted, t))
    }.distinct

  /** Ordered-interval count over per-term position arrays: first-term
    * anchors that start a strictly-increasing chain (one nested
    * exists per further term). */
  private def orderedChainCount(pos: Seq[Column]): Column = {
    def chain(rest: Seq[Column], prev: Column): Column = rest match {
      case h +: t if t.isEmpty => exists(h, q => q > prev)
      case h +: t => exists(h, q => q > prev && chain(t, q))
      case _ => lit(true) // unreachable: ≥ 2 terms by parse
    }
    size(filter(pos.head, a => chain(pos.tail, a)))
  }

  /** Bounded ordered-chain count: first-term anchors a starting a
    * strictly-increasing chain whose LAST element sits within
    * [a, a + w] — since the chain increases, bounding the last bounds
    * them all; w = max_gaps + k − 1 (the ES ordered-interval width). */
  private def chainWindowCount(pos: Seq[Column], w: Int): Column = {
    def chain(rest: Seq[Column], prev: Column, a: Column): Column =
      rest match {
        case h +: t if t.isEmpty =>
          exists(h, q => q > prev && q <= a + lit(w))
        case h +: t =>
          exists(h, q => q > prev && q <= a + lit(w) && chain(t, q, a))
        case _ => lit(true) // unreachable: ≥ 2 terms by parse
      }
    size(filter(pos.head, a => chain(pos.tail, a, a)))
  }

  /** Unordered-window anchor count: occurrences s (of ANY term) with
    * every other term inside [s, s + w] — exact for distinct terms
    * (the window's min is always a chosen occurrence). */
  private def windowAnchorCount(pos: Seq[Column], w: Int): Column =
    pos.indices.map { i =>
      size(filter(pos(i), s =>
        pos.indices.filter(_ != i).map(j =>
          exists(pos(j), q => q >= s && q <= s + lit(w)))
          .reduce(_ && _)))
    }.reduce(_ + _)

  /** Non-text fields the query references (term/terms/range/exists) —
    * ONLY these are projected, so column pruning reaches the scan. */
  private def exactFields(n: Node): Seq[String] = collectCtx(n, true) {
    case (TermQ(f, _, _), _) => Seq(f)
    case (TermsQ(f, _), _) => Seq(f)
    case (TermsLookupQ(f, _, pp), _) => Seq(f, pp)
    case (RangeQ(f, _), _) => Seq(f)
    case (ExistsQ(f), _) => Seq(f)
    case (PrefixQ(f, _, _), _) => Seq(f)
    case (WildcardQ(f, _, _), _) => Seq(f)
    case (RegexpQ(f, _), _) if !AnalyzedFields.contains(f) => Seq(f)
    case (FunctionScoreQ(_, f, _, _, _, _, _), _) => Seq(f)
    case (FnScoreQ(_, fns, _, _, _), _) => fns.flatMap {
      case d: DecayFn => Seq(d.field)
      case v: FvfFn => Seq(v.field)
      case r: RandomFn => Seq(r.field)
      case sf: ScriptFn => pexprDocFields(sf.script)
      case _: WeightFn => Seq.empty
    }
    case (ScriptScoreQ(_, s, _), _) => pexprDocFields(s)
    case (NestedQ(path, _, _), _) => Seq(path)
    case (TermsSetQ(_, _, mf), _) => Seq(mf)
    case (RankFeatureQ(f, _, _, _), _) => Seq(f)
    case (DistanceFeatureQ(f, _, _, _, _), _) => Seq(f)
  }.distinct

  /** Distinct SCORED `term` clauses — each needs a doc-frequency
    * statistic, because ES scores a term query on a keyword field as
    * PURE IDF: keyword fields index one token with norms off, so
    * Lucene's BM25 tf part is (tf·(k1+1))/(tf+k1) = 2.2/2.2 = 1 and
    * the clause's query-context contribution is idf(df(value))
    * exactly. Filter-context term clauses need no statistic. */
  private def ktsScoredOf(n: Node): Seq[(String, Scalar)] =
    collectCtx(n, true) { case (TermQ(f, v, _), true) => Seq((f, v)) }.distinct

  /** True when EVERY document satisfying the predicate carries at
    * least one query term — the condition under which an index-served
    * evaluation may restrict its candidate universe to the
    * (df-bounded) term-matched docs instead of scanning doc-values
    * for the whole corpus. Conservative by construction: must_not and
    * optional shoulds never count. */
  private[ops] def requiresText(n: Node): Boolean = n match {
    case _: MatchQ | _: PhraseQ | _: MultiMatchQ | _: MatchFzQ |
         _: PhrasePrefixQ => true
    // a span hit IS a postings hit (the include/all-terms occurrence)
    case _: SpanNotQ | _: SpanFirstQ | _: SpanUnordQ |
         _: SpanOrderedQ | _: SpanWindowQ | _: SpanWithinQ |
         _: SpanChainQ => true
    // any combined_fields hit carries a query term in an analyzed field
    case _: CombinedQ => true
    // an analyzed-field regexp hit IS a postings hit
    case RegexpQ(f, _) => AnalyzedFields.contains(f)
    case FunctionScoreQ(q, _, _, _, _, _, _) => requiresText(q)
    case FnScoreQ(q, _, _, _, _) => requiresText(q)
    case ScriptScoreQ(q, _, _) => requiresText(q)
    case BoostingQ(pos, _, _) => requiresText(pos)
    case BoolQ(m, s, _, fl, msm) =>
      m.exists(requiresText) || fl.exists(requiresText) ||
        (m.isEmpty && fl.isEmpty && s.nonEmpty &&
          msm.getOrElse(1) >= 1 && s.forall(requiresText))
    case ConstScoreQ(f, _) => requiresText(f)
    // a dis_max doc matches when ANY branch matches — text is implied
    // only when every branch implies it
    case DisMaxQ(qs, _) => qs.forall(requiresText)
    case _ => false
  }

  // ----------------------------------------------------- compilation

  /** Shared naming between the two compilers and the two serving
    * paths: feature and statistic column names keyed by the clause
    * inventory's index maps. */
  private def dlName(field: String): String =
    if (field == Search.DefaultField) "dl" else "hdl"
  private def sumdlName(field: String): String =
    if (field == Search.DefaultField) "sumdl" else "hsumdl"

  private type TIdx = Map[(String, String), Int]
  private type PIdx = Map[(String, Seq[String], Int, Boolean), Int]
  private type KIdx = Map[(String, Scalar), Int]
  private type ZIdx = Map[(String, String, Int), Int]

  /** Exact round-trip double literal — Java's shortest repr; both
    * engines parse decimal-to-nearest, so the literal reconstructs the
    * same bits. Always emitted under CAST(· AS DOUBLE) so DuckDB never
    * types it DECIMAL. */
  private def dLit(v: Double): String = java.lang.Double.toString(v)

  /** 2^60 — the [0,1) divisor of the 15-hex-digit md5 hash (exact
    * power-of-two division). */
  private val TwoPow60: Double = 1152921504606846976.0

  /** The `field_value_factor` value expression, shared by the legacy
    * single-function [[FunctionScoreQ]] and functions-array
    * [[FvfFn]]: modifier ∘ (factor · COALESCE(field, missing)). */
  private def fvfExpr(field: String, modifier: String,
      factor: BigDecimal,
      missing: Option[BigDecimal]): (Column, String) = {
    val vC = missing.map(m => coalesce(col(field), SNum(m).column))
      .getOrElse(col(field))
    val vSql = missing
      .map(m => s"COALESCE(f.$field, ${SNum(m).sql})")
      .getOrElse(s"f.$field")
    val fLit = factor.underlying.toPlainString
    val scaled: (Column, String) =
      if (factor == one) (vC.cast("double"),
        s"CAST($vSql AS DOUBLE)")
      else (lit(factor.toDouble) * vC,
        s"(CAST($fLit AS DOUBLE) * $vSql)")
    modifier match {
      case "ln1p" => (log(lit(1.0) + scaled._1),
        s"ln(1 + ${scaled._2})")
      case "sqrt" => (sqrt(scaled._1), s"sqrt(${scaled._2})")
      case "square" => (scaled._1 * scaled._1,
        s"(${scaled._2} * ${scaled._2})")
      case _ => scaled
    }
  }

  /** A functions-array entry's UNWEIGHTED value, in lockstep Column /
    * SQL. Decay constants (ln(decay)/scale², scale/(1−decay)) compute
    * ONCE here and emit as the same double literal to both engines
    * (see [[DecayFn]]); the runtime `exp` is rank-internal. */
  private def fnValue(fn: ScoreFn): (Column, String) = fn match {
    case DecayFn(kind, field, dateO, numO, offset, scale, decay, _, _) =>
      val draw: (Column, String) = dateO match {
        case Some(org) =>
          // whole-day distance — integer in both engines (the
          // distance_feature precedent)
          (abs(datediff(col(field), to_date(lit(org)))).cast("double"),
            s"CAST(abs(date_diff('day', DATE '$org', f.$field)) " +
              "AS DOUBLE)")
        case None =>
          val oLit = numO.get.underlying.toPlainString
          (abs(col(field).cast("double") - lit(numO.get.toDouble)),
            s"abs(CAST(f.$field AS DOUBLE) - CAST($oLit AS DOUBLE))")
      }
      val d: (Column, String) =
        if (offset == BigDecimal(0)) draw
        else {
          val offLit = offset.underlying.toPlainString
          (greatest(lit(0.0), draw._1 - lit(offset.toDouble)),
            s"greatest(CAST(0 AS DOUBLE), (${draw._2} - " +
              s"CAST($offLit AS DOUBLE)))")
        }
      val v: (Column, String) = kind match {
        case "gauss" =>
          val gc =
            math.log(decay.toDouble) / (scale.toDouble * scale.toDouble)
          (exp(lit(gc) * d._1 * d._1),
            s"exp(CAST(${dLit(gc)} AS DOUBLE) * ${d._2} * ${d._2})")
        case "exp" =>
          val lc = math.log(decay.toDouble) / scale.toDouble
          (exp(lit(lc) * d._1),
            s"exp(CAST(${dLit(lc)} AS DOUBLE) * ${d._2})")
        case _ => // linear
          val s0 = scale.toDouble / (1.0 - decay.toDouble)
          val sL = s"CAST(${dLit(s0)} AS DOUBLE)"
          (greatest(lit(0.0), (lit(s0) - d._1) / lit(s0)),
            s"greatest(CAST(0 AS DOUBLE), (($sL - ${d._2}) / $sL))")
      }
      // a doc missing the field scores 1.0 (the ES decay contract)
      (when(col(field).isNotNull, v._1).otherwise(lit(1.0)),
        s"CASE WHEN f.$field IS NOT NULL THEN ${v._2} " +
          "ELSE CAST(1 AS DOUBLE) END")
    case FvfFn(field, modifier, factor, missing, _, _) =>
      fvfExpr(field, modifier, factor, missing)
    case RandomFn(seed, field, _, _) =>
      // md5-hex-to-long in [0, 2^60) over "seed:value" — both engines'
      // shared hash idiom; exact /2^60 lands in [0, 1). Use on STRING /
      // INTEGER doc-values (a double field's VARCHAR rendering is
      // engine-specific). Missing field scores 1.0 (the decay stance).
      val key = s"$seed:"
      val vC = conv(substring(md5(concat(lit(key),
        col(field).cast("string"))), 1, 15), 16, 10)
        .cast("long").cast("double") / lit(TwoPow60)
      val vSql = s"(CAST(('0x' || substr(md5('$key' || " +
        s"CAST(f.$field AS VARCHAR)), 1, 15))::BIGINT AS DOUBLE) / " +
        s"CAST(${dLit(TwoPow60)} AS DOUBLE))"
      (when(col(field).isNotNull, vC).otherwise(lit(1.0)),
        s"CASE WHEN f.$field IS NOT NULL THEN $vSql " +
          "ELSE CAST(1 AS DOUBLE) END")
    case ScriptFn(e, _, _) =>
      // params substituted at parse — the resolver is unreachable
      pexprEmit(e, n => fail(s"functions script_score: unbound params.$n"))
    case _: WeightFn => (lit(1.0), "CAST(1 AS DOUBLE)")
  }

  /** Both compilers' output, emitted by ONE recursion so the Spark
    * plan and the oracle SQL agree on predicate structure and on
    * floating-point addition order (double + is not associative — a
    * reordered sum is a hash mismatch waiting to happen). `score` is
    * None for filter-context-only clauses. */
  private case class C(pred: Column, predSql: String,
      score: Option[(Column, String)])

  private def termScoreSql(tf: String, df: String, dl: String,
      sumdl: String): String = {
    val avgdl = s"(CAST(s.$sumdl AS DOUBLE) / CAST(s.n AS DOUBLE))"
    val t = s"CAST(f.$tf AS DOUBLE)"
    s"(ln(1.0 + (CAST(s.n - s.$df AS DOUBLE) + 0.5) / " +
      s"(CAST(s.$df AS DOUBLE) + 0.5)) * (($t * 2.2) / " +
      s"($t + 1.2 * (0.25 + 0.75 * (CAST(f.$dl AS DOUBLE) / $avgdl)))))"
  }

  /** The keyword idf — same literal shape as [[Search.bm25ScoreOf]]'s
    * idf factor, tf part elided (≡ 1 on a norms-off keyword field). */
  private def keywordIdfOf(i: Int): (Column, String) =
    (log(lit(1.0) +
      ((col("n") - col(s"qkd$i")).cast("double") + lit(0.5)) /
      (col(s"qkd$i").cast("double") + lit(0.5))),
      s"ln(1.0 + (CAST(s.n - s.qkd$i AS DOUBLE) + 0.5) / " +
        s"(CAST(s.qkd$i AS DOUBLE) + 0.5))")

  private def sumScores(parts: Seq[(Column, String)]): (Column, String) =
    (parts.map(_._1).reduce(_ + _),
      parts.map(_._2).mkString("(", "\n   + ", ")"))

  /** Clause boost: a ×1 boost emits NOTHING (the un-boosted clause
    * compiles exactly as before boosts existed); otherwise both
    * compilers multiply the whole clause sum by the same double. */
  private def boosted(p: (Column, String), b: BigDecimal): (Column, String) =
    if (b == one) p
    else (p._1 * lit(b.toDouble),
      s"(${p._2} * CAST(${b.underlying.toPlainString} AS DOUBLE))")

  /** Per-field BM25 sum of one match clause's terms. */
  private def matchParts(field: String, terms: Seq[String],
      tfIdx: TIdx): Seq[(Column, String)] =
    terms.map { t =>
      val i = tfIdx((field, t))
      (Search.bm25ScoreOf(1, _ => col(s"qtf$i"), _ => col(s"qdf$i"),
        col(dlName(field)), col(sumdlName(field)), col("n")),
        termScoreSql(s"qtf$i", s"qdf$i", dlName(field), sumdlName(field)))
    }

  private def compile(n: Node, scored: Boolean, tfIdx: TIdx, pfIdx: PIdx,
      ktIdx: KIdx, zfIdx: ZIdx = Map.empty,
      rfIdx: TIdx = Map.empty,
      sfIdx: Map[Node, Int] = Map.empty,
      cfIdx: Map[(Seq[String], String), Int] = Map.empty): C = n match {
    case MatchFzQ(field, terms, boost, andOp) =>
      // same shape as MatchQ over the fuzzy feature family: tf/df of
      // the edit-distance expansion treated as one pseudo-term each
      val keys = terms.map { case (t, d) => (field, t, d) }
      val tPreds = keys.map(k => col(s"qzf${zfIdx(k)}") > 0)
      val pred = if (andOp) tPreds.reduce(_ && _) else tPreds.reduce(_ || _)
      val predSql = keys.map(k => s"f.qzf${zfIdx(k)} > 0")
        .mkString("(", if (andOp) " AND " else " OR ", ")")
      val score =
        if (scored) Some(boosted(sumScores(keys.map { k =>
          val i = zfIdx(k)
          (Search.bm25ScoreOf(1, _ => col(s"qzf$i"), _ => col(s"qzd$i"),
            col(dlName(field)), col(sumdlName(field)), col("n")),
            termScoreSql(s"qzf$i", s"qzd$i", dlName(field),
              sumdlName(field)))
        }), boost))
        else None
      C(pred, predSql, score)
    case MatchQ(field, terms, boost, andOp) =>
      // operator "and" requires every term; scoring is unchanged (ES:
      // the operator gates matching, the matched doc still sums all
      // its term contributions)
      val tPreds = terms.map(t => col(s"qtf${tfIdx((field, t))}") > 0)
      val pred = if (andOp) tPreds.reduce(_ && _) else tPreds.reduce(_ || _)
      val predSql = terms.map(t => s"f.qtf${tfIdx((field, t))} > 0")
        .mkString("(", if (andOp) " AND " else " OR ", ")")
      val score =
        if (scored) Some(boosted(sumScores(matchParts(field, terms, tfIdx)),
          boost))
        else None
      C(pred, predSql, score)
    case CombinedQ(specs, terms, andOp, boost) =>
      // TRUE BM25F over the weighted pseudo-field (see [[CombinedQ]]):
      // the engine's one BM25 literal shape evaluated on blended
      // inputs — tf*/dl*/avgdl* as weighted sums of existing columns
      // and statistics, df* from the `qcd` family
      val fset = specs.map(_._1).sorted
      def anyField(t: String): (Column, String) =
        (specs.map { case (f, _) =>
          col(s"qtf${tfIdx((f, t))}") > 0 }.reduce(_ || _),
          specs.map { case (f, _) => s"f.qtf${tfIdx((f, t))} > 0" }
            .mkString("(", " OR ", ")"))
      val perTermPred = terms.map(anyField)
      val pred =
        if (andOp) perTermPred.map(_._1).reduce(_ && _)
        else perTermPred.map(_._1).reduce(_ || _)
      val predSql = perTermPred.map(_._2)
        .mkString("(", if (andOp) " AND " else " OR ", ")")
      val score = if (!scored) None else {
        // weighted blends — emitted identically in both engines; a ×1
        // weight elides its multiplier (the boosted() discipline)
        def wTerm(w: BigDecimal, c: Column, cSql: String)
            : (Column, String) =
          if (w == one) (c.cast("double"), s"CAST($cSql AS DOUBLE)")
          else (lit(w.toDouble) * c,
            s"(CAST(${w.underlying.toPlainString} AS DOUBLE) * $cSql)")
        def blend(parts: Seq[(Column, String)]): (Column, String) =
          (parts.map(_._1).reduce(_ + _),
            parts.map(_._2).mkString("(", " + ", ")"))
        val dlStar = blend(specs.map { case (f, w) =>
          wTerm(w, col(dlName(f)), s"f.${dlName(f)}") })
        val sumdlStar = blend(specs.map { case (f, w) =>
          wTerm(w, col(sumdlName(f)), s"s.${sumdlName(f)}") })
        val parts = terms.map { t =>
          val i = cfIdx((fset, t))
          val tfStar = blend(specs.map { case (f, w) =>
            wTerm(w, col(s"qtf${tfIdx((f, t))}"),
              s"f.qtf${tfIdx((f, t))}") })
          val avgdlC = sumdlStar._1 / col("n").cast("double")
          val avgdlSql = s"(${sumdlStar._2} / CAST(s.n AS DOUBLE))"
          val idfC = log(lit(1.0) +
            ((col("n") - col(s"qcd$i")).cast("double") + lit(0.5)) /
              (col(s"qcd$i").cast("double") + lit(0.5)))
          val idfSql = s"ln(1.0 + (CAST(s.n - s.qcd$i AS DOUBLE) + " +
            s"0.5) / (CAST(s.qcd$i AS DOUBLE) + 0.5))"
          (idfC * ((tfStar._1 * lit(2.2)) / (tfStar._1 +
            lit(1.2) * (lit(0.25) + lit(0.75) * (dlStar._1 / avgdlC)))),
            s"($idfSql * ((${tfStar._2} * 2.2) / (${tfStar._2} + " +
              s"1.2 * (0.25 + 0.75 * (${dlStar._2} / $avgdlSql)))))")
        }
        Some(boosted(sumScores(parts), boost))
      }
      C(pred, predSql, score)
    case MultiMatchQ(fieldsB, terms, boost, mostFields) =>
      val keys = fieldsB.flatMap { case (f, _) => terms.map(t => (f, t)) }
      val pred = keys.map(k => col(s"qtf${tfIdx(k)}") > 0).reduce(_ || _)
      val predSql = keys.map(k => s"f.qtf${tfIdx(k)} > 0")
        .mkString("(", " OR ", ")")
      val score = if (!scored) None else {
        val per = fieldsB.map { case (f, fb) =>
          boosted(sumScores(matchParts(f, terms, tfIdx)), fb)
        }
        // best_fields = dis_max: max over per-field scores (greatest
        // is a comparison, not arithmetic — no fp-order hazard);
        // most_fields SUMS them in field order (both compilers)
        val combined =
          if (per.size == 1) per.head
          else if (mostFields) sumScores(per)
          else (greatest(per.map(_._1): _*),
            per.map(_._2).mkString("greatest(", ", ", ")"))
        Some(boosted(combined, boost))
      }
      C(pred, predSql, score)
    case PhrasePrefixQ(field, terms, boost, slop) =>
      val i = pfIdx((field, terms, slop, true))
      val score =
        if (scored) Some(boosted(
          (Search.bm25ScoreOf(1, _ => col(s"qpf$i"), _ => col(s"qpd$i"),
            col(dlName(field)), col(sumdlName(field)), col("n")),
            termScoreSql(s"qpf$i", s"qpd$i", dlName(field),
              sumdlName(field))), boost))
        else None
      C(col(s"qpf$i") > 0, s"f.qpf$i > 0", score)
    case PhraseQ(field, terms, boost, slop) =>
      val i = pfIdx((field, terms, slop, false))
      val score =
        if (scored) Some(boosted(
          (Search.bm25ScoreOf(1, _ => col(s"qpf$i"), _ => col(s"qpd$i"),
            col(dlName(field)), col(sumdlName(field)), col("n")),
            termScoreSql(s"qpf$i", s"qpd$i", dlName(field),
              sumdlName(field))), boost))
        else None
      C(col(s"qpf$i") > 0, s"f.qpf$i > 0", score)
    case TermQ(field, v, boost) =>
      // query-context score = idf of the value's doc frequency (the
      // exact ES/Lucene number for a norms-off keyword field — see
      // [[ktsScoredOf]]); filter/must_not context compiles no score
      // and aggregates no statistic for it
      val score =
        if (scored) Some(boosted(keywordIdfOf(ktIdx((field, v))), boost))
        else None
      C(col(field) === v.column, s"f.$field = ${v.sql}", score)
    case TermsQ(field, vs) =>
      // OR-of-equalities rather than isin(): the two are equivalent
      // and this mirrors the SQL text exactly, clause for clause
      C(vs.map(v => col(field) === v.column).reduce(_ || _),
        vs.map(v => s"f.$field = ${v.sql}").mkString("(", " OR ", ")"),
        None)
    case TermsLookupQ(field, id, path) =>
      // Spark-side evaluation requires resolveLookups (a serving path
      // that forgot it fails analysis on this column name, loudly);
      // the SQL side IS the lookup — an IN-subquery over the shared
      // relation, data-independent at generation time
      C(col(s"graft_unresolved_terms_lookup_$field"),
        s"f.$field IN (SELECT $path FROM f WHERE doc_id = $id)", None)
    case RangeQ(field, bounds) =>
      val (preds, sqls) = bounds.map {
        case ("gte", v) => (col(field) >= v.column, s"f.$field >= ${v.sql}")
        case ("gt", v) => (col(field) > v.column, s"f.$field > ${v.sql}")
        case ("lte", v) => (col(field) <= v.column, s"f.$field <= ${v.sql}")
        case ("lt", v) => (col(field) < v.column, s"f.$field < ${v.sql}")
        case (op, _) => fail(s"range bound $op") // unreachable post-parse
      }.unzip
      C(preds.reduce(_ && _), sqls.mkString("(", " AND ", ")"), None)
    case ExistsQ(field) =>
      C(col(field).isNotNull, s"f.$field IS NOT NULL", None)
    case IdsQ(vs) =>
      // mirror terms: OR-of-equalities over doc_id, unscored (the
      // constant-score convention this module documents for
      // set-membership clauses)
      C(vs.map(v => col("doc_id") === lit(v)).reduce(_ || _),
        vs.map(v => s"f.doc_id = $v").mkString("(", " OR ", ")"), None)
    case PrefixQ(field, v, ci) =>
      if (ci)
        C(lower(col(field)).startsWith(lit(v.toLowerCase)),
          s"starts_with(lower(f.$field), '${quoteSql(v.toLowerCase)}')",
          None)
      else
        C(col(field).startsWith(lit(v)),
          s"starts_with(f.$field, '${quoteSql(v)}')", None)
    case WildcardQ(field, pat, ci) =>
      val re = wildcardRegex(if (ci) pat.toLowerCase else pat)
      val ref = if (ci) s"lower(f.$field)" else s"f.$field"
      val c0 = if (ci) lower(col(field)) else col(field)
      C(c0.rlike(re), s"regexp_matches($ref, '${quoteSql(re)}')", None)
    case s @ (_: SpanNotQ | _: SpanFirstQ | _: SpanUnordQ |
        _: SpanOrderedQ | _: SpanWindowQ | _: SpanWithinQ |
        _: SpanChainQ) =>
      // positional span features: count of matching span occurrences
      // (scan: token-array lambdas; served: positional postings) —
      // unscored membership, the regexp stance
      val i = sfIdx(s)
      C(col(s"qsp$i") > 0, s"f.qsp$i > 0", None)
    case RegexpQ(field, pat) =>
      if (AnalyzedFields.contains(field)) {
        val i = rfIdx((field, pat))
        C(col(s"qrf$i") > 0, s"f.qrf$i > 0", None)
      } else
        // raw doc-value, Lucene-anchored: the whole value must match
        C(col(field).rlike("^(?:" + pat + ")$"),
          s"regexp_full_match(f.$field, '${quoteSql(pat)}')", None)
    case FunctionScoreQ(q, field, modifier, factor, missing, sumMode,
        boost) =>
      val c = compile(q, scored, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx, sfIdx, cfIdx)
      val score = if (!scored) None else {
        val base: (Column, String) = c.score.getOrElse(
          (lit(1.0), "CAST(1 AS DOUBLE)")) // scoreless inner = ES base 1
        val fv = fvfExpr(field, modifier, factor, missing)
        val combined: (Column, String) =
          if (sumMode) (base._1 + fv._1, s"(${base._2} + ${fv._2})")
          else (base._1 * fv._1, s"(${base._2} * ${fv._2})")
        Some(boosted(combined, boost))
      }
      C(c.pred, c.predSql, score)
    case ScriptScoreQ(inner, script, boost) =>
      // inner gates in filter context; the script's value IS the score
      // (params were substituted at parse — the resolver is unreachable)
      val ic = compile(inner, false, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx,
        sfIdx, cfIdx)
      val score =
        if (!scored) None
        else Some(boosted(pexprEmit(script,
          n => fail(s"script_score: unbound params.$n")), boost))
      C(ic.pred, ic.predSql, score)
    case FnScoreQ(q, fns, scoreMode, boostMode, boost) =>
      val c = compile(q, scored, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx, sfIdx, cfIdx)
      val score = if (!scored) None else {
        val base: (Column, String) = c.score.getOrElse(
          (lit(1.0), "CAST(1 AS DOUBLE)")) // scoreless inner = ES base 1
        // per function: optional applies-predicate (filter context) and
        // the WEIGHTED value weight·value (a bare weight function's
        // value IS its weight)
        val parts: Seq[(Option[(Column, String)], (Column, String),
            BigDecimal)] = fns.map { fn =>
          val fp = fn.filter.map { fq =>
            val fc = compile(fq, false, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx, sfIdx, cfIdx)
            (fc.pred, fc.predSql)
          }
          val w = fn.weight.getOrElse(one)
          val wv: (Column, String) = fn match {
            case _: WeightFn =>
              (lit(w.toDouble),
                s"CAST(${w.underlying.toPlainString} AS DOUBLE)")
            case _ =>
              val v = fnValue(fn)
              if (fn.weight.isEmpty) v
              else (lit(w.toDouble) * v._1,
                s"(CAST(${w.underlying.toPlainString} AS DOUBLE) * " +
                  s"${v._2})")
          }
          (fp, wv, w)
        }
        // gate a filtered function's contribution; `els` is the mode's
        // identity, SQL-NULL when the combiner skips nulls
        def gate(fp: Option[(Column, String)], wv: (Column, String),
            els: Option[String]): (Column, String) = fp match {
          case None => wv
          case Some((p, pSql)) =>
            val (eC, eSql) = els match {
              case Some(e) => (lit(e.toDouble), s"CAST($e AS DOUBLE)")
              case None => (lit(null).cast("double"),
                "CAST(NULL AS DOUBLE)")
            }
            (when(p, wv._1).otherwise(eC),
              s"CASE WHEN $pSql THEN ${wv._2} ELSE $eSql END")
        }
        def sumUp(gs: Seq[(Column, String)]): (Column, String) =
          (gs.map(_._1).reduce(_ + _),
            gs.map(_._2).mkString("(", " + ", ")"))
        // a doc matching NO function keeps function score 1.0 (see
        // [[FnScoreQ]]); needed only when every function is filtered
        val anyApplies: Option[(Column, String)] =
          if (parts.exists(_._1.isEmpty)) None
          else Some((parts.flatMap(_._1).map(_._1).reduce(_ || _),
            parts.flatMap(_._1).map(_._2).mkString("(", " OR ", ")")))
        def noneTo1(v: (Column, String)): (Column, String) =
          anyApplies match {
            case None => v
            case Some((a, aSql)) =>
              (when(a, v._1).otherwise(lit(1.0)),
                s"CASE WHEN $aSql THEN ${v._2} ELSE CAST(1 AS " +
                  "DOUBLE) END")
          }
        val fscore: (Column, String) = scoreMode match {
          case "multiply" =>
            val gs = parts.map(p => gate(p._1, p._2, Some("1")))
            (gs.map(_._1).reduce(_ * _),
              gs.map(_._2).mkString("(", " * ", ")"))
          case "sum" =>
            noneTo1(sumUp(parts.map(p => gate(p._1, p._2, Some("0")))))
          case "avg" =>
            // ES's documented avg: the WEIGHTED average
            // Σ(w·v)/Σw over the matching functions
            val num = sumUp(parts.map(p => gate(p._1, p._2, Some("0"))))
            val den = sumUp(parts.map { p =>
              val wLit = p._3.underlying.toPlainString
              gate(p._1, (lit(p._3.toDouble),
                s"CAST($wLit AS DOUBLE)"), Some("0"))
            })
            noneTo1((num._1 / den._1, s"(${num._2} / ${den._2})"))
          case m @ ("max" | "min") =>
            // greatest/least skip NULLs in BOTH engines (verified on
            // DuckDB 1.0 + Spark) — non-applying functions gate to NULL
            val gs = parts.map(p => gate(p._1, p._2, None))
            val (fC, fSql) =
              if (gs.size == 1) gs.head
              else if (m == "max")
                (greatest(gs.map(_._1): _*),
                  gs.map(_._2).mkString("greatest(", ", ", ")"))
              else (least(gs.map(_._1): _*),
                gs.map(_._2).mkString("least(", ", ", ")"))
            noneTo1((fC, fSql))
          case _ => // first: array order, fallback 1.0
            val gs = parts.map(p => gate(p._1, p._2, None))
            (coalesce(gs.map(_._1) :+ lit(1.0): _*),
              (gs.map(_._2) :+ "CAST(1 AS DOUBLE)")
                .mkString("COALESCE(", ", ", ")"))
        }
        val combined: (Column, String) = boostMode match {
          case "multiply" => (base._1 * fscore._1,
            s"(${base._2} * ${fscore._2})")
          case "sum" => (base._1 + fscore._1,
            s"(${base._2} + ${fscore._2})")
          case "avg" => ((base._1 + fscore._1) / lit(2.0),
            s"((${base._2} + ${fscore._2}) / CAST(2 AS DOUBLE))")
          case "max" => (greatest(base._1, fscore._1),
            s"greatest(${base._2}, ${fscore._2})")
          case "min" => (least(base._1, fscore._1),
            s"least(${base._2}, ${fscore._2})")
          case _ => fscore // replace
        }
        Some(boosted(combined, boost))
      }
      C(c.pred, c.predSql, score)
    case BoostingQ(pos, neg, nb) =>
      val pc = compile(pos, scored, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx, sfIdx, cfIdx)
      val nc = compile(neg, false, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx, sfIdx, cfIdx)
      val score = if (!scored) None else pc.score.map { case (sp, spSql) =>
        val nbLit = nb.underlying.toPlainString
        (when(nc.pred, sp * lit(nb.toDouble)).otherwise(sp),
          s"CASE WHEN ${nc.predSql} THEN ($spSql * CAST($nbLit AS " +
            s"DOUBLE)) ELSE $spSql END")
      }
      C(pc.pred, pc.predSql, score)
    case ConstScoreQ(fq, boost) =>
      // the ES way to give a filter a score: the wrapped clause
      // compiles in FILTER context (no statistics), and the whole
      // clause scores the constant boost in query context
      val c = compile(fq, false, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx, sfIdx, cfIdx)
      val score =
        if (scored) Some((lit(boost.toDouble),
          s"CAST(${boost.underlying.toPlainString} AS DOUBLE)"))
        else None
      C(c.pred, c.predSql, score)
    case DisMaxQ(qs, tb) =>
      val cs = qs.map(compile(_, scored, tfIdx, pfIdx, ktIdx, zfIdx,
        rfIdx, sfIdx, cfIdx))
      val pred = cs.map(_.pred).reduce(_ || _)
      val predSql = cs.map(_.predSql).mkString("(", " OR ", ")")
      // dis_max: best branch's score + tie_breaker × the others'.
      // Per-branch scores gate on the branch matching (a non-matching
      // branch contributes nothing); an unscored branch contributes a
      // constant 0.0, same stance as unscored shoulds.
      val score = if (!scored) None else {
        val gated = cs.map { c =>
          c.score match {
            case Some((s, sql)) =>
              (when(c.pred, s).otherwise(lit(0.0)),
                s"CASE WHEN ${c.predSql} THEN $sql ELSE 0.0 END")
            case None => (lit(0.0), "0.0")
          }
        }
        if (cs.forall(_.score.isEmpty)) None
        else {
          val best =
            if (gated.size == 1) gated.head
            else (greatest(gated.map(_._1): _*),
              gated.map(_._2).mkString("greatest(", ", ", ")"))
          if (tb == BigDecimal(0)) Some(best)
          else {
            // max + tb·(sum − max); greatest is a comparison (no
            // fp-order hazard) and the sum keeps branch order
            val (sumC, sumSql) = sumScores(gated)
            Some((best._1 + lit(tb.toDouble) * (sumC - best._1),
              s"(${best._2} + CAST(${tb.underlying.toPlainString} " +
                s"AS DOUBLE) * ($sumSql - ${best._2}))"))
          }
        }
      }
      C(pred, predSql, score)
    case PinnedQ(ids, organic) =>
      val c = compile(organic, scored, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx, sfIdx, cfIdx)
      val inPred = ids.map(v => col("doc_id") === lit(v)).reduce(_ || _)
      val inSql = ids.map(v => s"f.doc_id = $v").mkString("(", " OR ", ")")
      val score = if (!scored) None else {
        // organic score gates on the organic predicate: a pinned doc
        // outside the organic match set scores ONLY its pin
        val base: (Column, String) = c.score match {
          case Some((s, sql)) =>
            (when(c.pred, s).otherwise(lit(0.0)),
              s"CASE WHEN ${c.predSql} THEN $sql ELSE 0.0 END")
          case None => (lit(0.0), "0.0")
        }
        Some(ids.zipWithIndex.foldRight(base) {
          case ((id, k), (elseC, elseSql)) =>
            val s = PinBase - k
            (when(col("doc_id") === lit(id), lit(s.toDouble))
              .otherwise(elseC),
              s"CASE WHEN f.doc_id = $id THEN CAST($s AS DOUBLE) " +
                s"ELSE $elseSql END")
        })
      }
      C(c.pred || inPred, s"(${c.predSql} OR $inSql)", score)
    case TermsSetQ(field, terms, msmField) =>
      val cnt = terms
        .map(t => when(col(s"qtf${tfIdx((field, t))}") > 0, 1).otherwise(0))
        .reduce(_ + _)
      val cntSql = terms
        .map(t => s"CASE WHEN f.qtf${tfIdx((field, t))} > 0 THEN 1 " +
          "ELSE 0 END")
        .mkString("(", " + ", ")")
      // a doc with no threshold value matches nothing (ES errors on a
      // missing value; a null-gated non-match is the declarative twin)
      val pred = col(msmField).isNotNull && cnt >= col(msmField)
      val predSql =
        s"(f.$msmField IS NOT NULL AND $cntSql >= f.$msmField)"
      val score =
        if (scored) Some(sumScores(matchParts(field, terms, tfIdx)))
        else None
      C(pred, predSql, score)
    case RankFeatureQ(field, fn, param, boost) =>
      val pred = col(field).isNotNull && col(field) > lit(0)
      val predSql = s"(f.$field IS NOT NULL AND f.$field > 0)"
      val pLit = param.underlying.toPlainString
      val score = if (!scored) None else Some(boosted(fn match {
        case "saturation" =>
          (col(field).cast("double") /
            (col(field).cast("double") + lit(param.toDouble)),
            s"(CAST(f.$field AS DOUBLE) / (CAST(f.$field AS DOUBLE) + " +
              s"CAST($pLit AS DOUBLE)))")
        case _ =>
          (log(lit(param.toDouble) * col(field).cast("double") + lit(1.0)),
            s"ln(CAST($pLit AS DOUBLE) * CAST(f.$field AS DOUBLE) + 1.0)")
      }, boost))
      C(pred, predSql, score)
    case DistanceFeatureQ(field, dateO, numO, pivot, boost) =>
      val pLit = pivot.underlying.toPlainString
      val dist: (Column, String) = dateO match {
        case Some(org) =>
          // whole-day distance — integer in both engines, so the
          // single division below is bit-stable
          (abs(datediff(col(field), to_date(lit(org)))).cast("double"),
            s"CAST(abs(date_diff('day', DATE '$org', f.$field)) " +
              "AS DOUBLE)")
        case None =>
          val oLit = numO.get.underlying.toPlainString
          (abs(col(field).cast("double") - lit(numO.get.toDouble)),
            s"abs(CAST(f.$field AS DOUBLE) - CAST($oLit AS DOUBLE))")
      }
      val score = if (!scored) None else Some(boosted(
        (lit(pivot.toDouble) / (lit(pivot.toDouble) + dist._1),
          s"(CAST($pLit AS DOUBLE) / (CAST($pLit AS DOUBLE) + " +
            s"${dist._2}))"), boost))
      C(col(field).isNotNull, s"f.$field IS NOT NULL", score)
    case NestedQ(path, nq, _) =>
      // ONE element satisfies the whole inner query: exists over the
      // array with the compiled per-element predicate — both engines
      // evaluate the same lambda (list_filter len > 0 ≡ exists).
      // Unscored, the set-membership convention.
      val (predOf, sqlOf) = nestedPred(nq)
      C(exists(col(path), predOf),
        s"len(list_filter(f.$path, t -> $sqlOf)) > 0", None)
    case MatchAllQ => C(lit(true), "TRUE", None)
    case BoolQ(must, should, mustNot, filterCtx, minShould) =>
      val mc = must.map(compile(_, scored, tfIdx, pfIdx, ktIdx, zfIdx,
        rfIdx, sfIdx, cfIdx))
      val sc = should.map(compile(_, scored, tfIdx, pfIdx, ktIdx, zfIdx,
        rfIdx, sfIdx, cfIdx))
      val nc = mustNot.map(compile(_, false, tfIdx, pfIdx, ktIdx, zfIdx,
        rfIdx, sfIdx, cfIdx))
      val fc = filterCtx.map(compile(_, false, tfIdx, pfIdx, ktIdx, zfIdx,
        rfIdx, sfIdx, cfIdx))
      // ES defaults: a should beside a must/filter is optional scoring
      // (msm 0); alone it is the only matching condition (msm 1)
      val msm = minShould.getOrElse(
        if (must.nonEmpty || filterCtx.nonEmpty) 0 else 1)
      val shouldGate: Option[(Column, String)] =
        if (sc.isEmpty || msm <= 0) None
        else Some((
          sc.map(c => when(c.pred, 1).otherwise(0)).reduce(_ + _) >= msm,
          sc.map(c => s"CASE WHEN ${c.predSql} THEN 1 ELSE 0 END")
            .mkString("(", " + ", s") >= $msm")))
      val preds = mc.map(c => (c.pred, c.predSql)) ++
        fc.map(c => (c.pred, c.predSql)) ++
        nc.map(c => (!c.pred, s"NOT ${c.predSql}")) ++ shouldGate
      val (pred, predSql) =
        if (preds.isEmpty) (lit(true), "TRUE")
        else (preds.map(_._1).reduce(_ && _),
          preds.map(_._2).mkString("(", " AND ", ")"))
      // query context scores: must scores always count (the doc
      // matched), should scores count only when their clause matched
      val scores = mc.flatMap(_.score) ++ sc.flatMap(c =>
        c.score.map { case (s, sql) =>
          (when(c.pred, s).otherwise(lit(0.0)),
            s"CASE WHEN ${c.predSql} THEN $sql ELSE 0.0 END")
        })
      C(pred, predSql,
        if (scores.isEmpty) None else Some(sumScores(scores)))
  }

  /** Per-ELEMENT predicate of a nested inner query: a Column→Column
    * lambda body and its SQL text over the lambda variable `t`,
    * emitted by one recursion (the [[compile]] lockstep discipline
    * applied inside the array). */
  private def nestedPred(n: NestedNode): (Column => Column, String) =
    n match {
      case NTermQ(sub, v) =>
        (t => t.getField(sub) === v.column, s"t.$sub = ${v.sql}")
      case NTermsQ(sub, vs) =>
        (t => vs.map(v => t.getField(sub) === v.column).reduce(_ || _),
          vs.map(v => s"t.$sub = ${v.sql}").mkString("(", " OR ", ")"))
      case NMatchQ(sub, terms) =>
        // analyzed token membership over the tag value — any query
        // term present (the match OR convention); the value analyzes
        // exactly like corpus text
        (t => terms.map(w =>
          array_contains(TextAnalysis.toks(t.getField(sub)), w))
          .reduce(_ || _),
          terms.map(w => "len(list_filter(string_split(regexp_replace(" +
            s"lower(trim(t.$sub)), '\\s+', ' ', 'g'), ' '), " +
            s"x -> x = '${quoteSql(w)}')) > 0")
            .mkString("(", " OR ", ")"))
      case NExistsQ(sub) =>
        (t => t.getField(sub).isNotNull, s"t.$sub IS NOT NULL")
      case NBoolQ(must, should, mustNot, filterCtx, minShould) =>
        val mc = (must ++ filterCtx).map(nestedPred)
        val nc = mustNot.map(nestedPred)
        val sc = should.map(nestedPred)
        val msm = minShould.getOrElse(
          if (must.nonEmpty || filterCtx.nonEmpty) 0 else 1)
        val gateSql =
          if (sc.isEmpty || msm <= 0) None
          else Some(sc.map(c => s"CASE WHEN ${c._2} THEN 1 ELSE 0 END")
            .mkString("(", " + ", s") >= $msm"))
        val sqls = mc.map(_._2) ++ nc.map(c => s"NOT ${c._2}") ++ gateSql
        val sql =
          if (sqls.isEmpty) "TRUE"
          else sqls.mkString("(", " AND ", ")")
        val colFn: Column => Column = t => {
          val gate: Option[Column] =
            if (sc.isEmpty || msm <= 0) None
            else Some(sc.map(c => when(c._1(t), 1).otherwise(0))
              .reduce(_ + _) >= msm)
          val parts = mc.map(_._1(t)) ++ nc.map(c => !c._1(t)) ++ gate
          parts.reduceOption(_ && _).getOrElse(lit(true))
        }
        (colFn, sql)
    }

  // --------------------------------------------- shared frame builder

  /** The full clause inventory + compiled predicate of one body —
    * everything both serving paths and both SQL generators need. */
  private case class Plan(q: Node, size: Int,
      tkeys: Seq[(String, String)],
      pkeys: Seq[(String, Seq[String], Int, Boolean)],
      stkeys: Seq[(String, String)],
      spkeys: Seq[(String, Seq[String], Int, Boolean)],
      skts: Seq[(String, Scalar)], exact: Seq[String],
      tfIdx: TIdx, pfIdx: PIdx, ktIdx: KIdx, c: C,
      from: Int = 0, sortKeys: Seq[(String, Boolean)] = Seq.empty,
      source: Option[Seq[String]] = None,
      after: Option[Seq[Scalar]] = None,
      highlight: Option[String] = None,
      collapse: Option[String] = None,
      rescore: Option[Rescore] = None,
      rsC: Option[C] = None,
      zkeys: Seq[(String, String, Int)] = Seq.empty,
      szkeys: Seq[(String, String, Int)] = Seq.empty,
      zfIdx: ZIdx = Map.empty,
      rkeys: Seq[(String, String)] = Seq.empty,
      rfIdx: TIdx = Map.empty,
      postC: Option[C] = None,
      minScore: Option[BigDecimal] = None,
      trackTotal: Boolean = false,
      skeys: Seq[Node] = Seq.empty,
      sfIdx: Map[Node, Int] = Map.empty,
      ckeys: Seq[(Seq[String], String)] = Seq.empty,
      cfIdx: Map[(Seq[String], String), Int] = Map.empty,
      rndFields: Seq[String] = Seq.empty,
      sciFields: Seq[String] = Seq.empty,
      sfieldsC: Seq[(String, PExpr)] = Seq.empty,
      // inner_hits channels: (column name, nested path, inner query) —
      // one per-hit serialized column of the MATCHED nested elements
      innerHits: Seq[(String, String, NestedNode)] = Seq.empty) {
    def needsText: Boolean =
      tkeys.nonEmpty || pkeys.nonEmpty || zkeys.nonEmpty ||
        rkeys.nonEmpty || skeys.nonEmpty
    /** A field-only `sort` never evaluates the score — ES computes
      * scores only when the ranking needs them (`track_scores`
      * defaults false under sort), so the statistics vanish exactly
      * as for a scoreless query. */
    def needsScore: Boolean =
      sortKeys.isEmpty || sortKeys.exists(_._1 == "_score")
    def needsStats: Boolean = needsScore &&
      (c.score.isDefined || rsC.exists(_.score.isDefined))
    /** Analyzed fields whose statistics the score references. */
    def scoredFields: Seq[String] =
      (stkeys.map(_._1) ++ spkeys.map(_._1) ++ szkeys.map(_._1) ++
        ckeys.flatMap(_._1)).distinct
    /** Analyzed fields any feature (scored or filter-ctx) reads. */
    def usedFields: Seq[String] =
      (tkeys.map(_._1) ++ pkeys.map(_._1) ++ zkeys.map(_._1) ++
        rkeys.map(_._1) ++ skeys.map(spanFieldOf)).distinct
    /** sort keys that are real columns (not `_score`). */
    def sortFields: Seq[String] = sortKeys.map(_._1).filter(_ != "_score")
  }

  private def planOf(q: Node, size: Int,
      extraInv: Seq[Node] = Seq.empty): Plan = {
    // extraInv nodes (a rescore query) join the clause/statistic
    // inventory — ONE feature frame and ONE stats aggregate serve the
    // organic score and the rescore score — but only q compiles to
    // the predicate
    val inv = q +: extraInv
    val tkeys = inv.flatMap(tkeysOf).distinct
    val pkeys = inv.flatMap(pkeysOf).distinct
    val skts = inv.flatMap(ktsScoredOf).distinct
    val zkeys = inv.flatMap(zkeysOf).distinct
    val rkeys = inv.flatMap(rkeysOf).distinct
    val tfIdx = tkeys.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val pfIdx = pkeys.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap
    val ktIdx = skts.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val zfIdx = zkeys.zipWithIndex.map { case (z, i) => z -> (i + 1) }.toMap
    val rfIdx = rkeys.zipWithIndex.map { case (r, i) => r -> (i + 1) }.toMap
    val skeys = inv.flatMap(skeysOf).distinct
    val sfIdx = skeys.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    val ckeys = inv.flatMap(ckeysOf).distinct
    val cfIdx = ckeys.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    Plan(q, size, tkeys, pkeys, inv.flatMap(tkeysScoredOf).distinct,
      inv.flatMap(pkeysScoredOf).distinct, skts,
      inv.flatMap(exactFields).distinct, tfIdx, pfIdx, ktIdx,
      compile(q, scored = true, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx, sfIdx,
        cfIdx),
      zkeys = zkeys, szkeys = inv.flatMap(zkeysScoredOf).distinct,
      zfIdx = zfIdx, rkeys = rkeys, rfIdx = rfIdx,
      skeys = skeys, sfIdx = sfIdx, ckeys = ckeys, cfIdx = cfIdx,
      rndFields = inv.flatMap(randomFieldsOf).distinct,
      sciFields = inv.flatMap(scriptNumFieldsOf).distinct)
  }

  /** doc['…'].value fields of every script_score in the tree — they
    * must be NUMERIC doc-values (the arithmetic casts them DOUBLE;
    * Spark would null a bad string cast where DuckDB errors). */
  private def scriptNumFieldsOf(n: Node): Seq[String] = collectCtx(n, true) {
    case (ScriptScoreQ(_, s, _), _) => pexprDocFields(s)
    case (FnScoreQ(_, fns, _, _, _), _) =>
      fns.collect { case sf: ScriptFn => pexprDocFields(sf.script) }.flatten
  }.distinct

  /** random_score fields in the tree — their doc-values must be
    * string/integer: the hash runs on the field's VARCHAR rendering,
    * which is engine-specific for float/double (the [[RandomFn]]
    * emitter's documented contract, enforced where a schema is in
    * hand — ADVICE r15). */
  private def randomFieldsOf(n: Node): Seq[String] = collectCtx(n, true) {
    case (FnScoreQ(_, fns, _, _, _), _) =>
      fns.collect { case r: RandomFn => r.field }
  }.distinct

  /** Type gates that need a schema in hand (corpus scan or index
    * docmeta): random_score fields must NOT be float/double (the hash
    * runs on the VARCHAR rendering — engine-specific for floats), and
    * script_score doc fields MUST be numeric. */
  private def checkFieldTypes(
      schema: org.apache.spark.sql.types.StructType, p: Plan): Unit = {
    p.rndFields.foreach { f =>
      schema.find(_.name == f).map(_.dataType).foreach {
        case org.apache.spark.sql.types.FloatType |
            org.apache.spark.sql.types.DoubleType =>
          fail(s"random_score field '$f' is float/double — the hash " +
            "runs on the field's VARCHAR rendering, which is " +
            "engine-specific for floats; use a string or integer " +
            "doc-values field")
        case _ => ()
      }
    }
    p.sciFields.foreach { f =>
      schema.find(_.name == f).map(_.dataType).foreach { dt =>
        if (!dt.isInstanceOf[org.apache.spark.sql.types.NumericType])
          fail(s"script_score doc['$f'].value: field is not numeric " +
            s"(got ${dt.simpleString}) — the arithmetic subset reads " +
            "numeric doc-values")
      }
    }
  }

  /** Plan of a full search body: the query plan plus paging/sort/
    * `_source`, with sort and `_source` fields joining the projected
    * exact-field set (so pruning and the served path's doc-value
    * check see them). */
  private def planOfBody(b: Body): Plan = {
    // the post_filter joins the clause inventory WRAPPED in filter
    // context (its term features exist on the one frame; no scored
    // statistics for it)
    val p = planOf(b.query, b.size, b.rescore.map(_.query).toSeq ++
      b.postFilter.map(pf =>
        BoolQ(Seq.empty, Seq.empty, Seq.empty, Seq(pf), None)).toSeq)
    val extra = (b.sort.map(_._1).filter(_ != "_score") ++
      b.source.getOrElse(Seq.empty)).filter(_ != "doc_id")
    b.highlight.foreach { hf =>
      checkAnalyzed(hf, "highlight")
      if (highlightLits(p, hf).isEmpty)
        fail(s"highlight.$hf: the query carries no match/phrase terms " +
          s"on '$hf' — nothing to highlight")
    }
    // the rescore query compiles against the SHARED index maps — its
    // score reads the same feature frame and stats broadcast
    val rsC = b.rescore.map(r => compile(r.query, scored = true,
      p.tfIdx, p.pfIdx, p.ktIdx, p.zfIdx, p.rfIdx, p.sfIdx, p.cfIdx))
    val postC = b.postFilter.map(pf => compile(pf, scored = false,
      p.tfIdx, p.pfIdx, p.ktIdx, p.zfIdx, p.rfIdx, p.sfIdx, p.cfIdx))
    if (b.minScore.nonEmpty && p.c.score.isEmpty)
      fail("min_score over a scoreless query is unsupported — " +
        "filter-context clauses produce no score to floor")
    val sfDocFields = b.scriptFields.flatMap(x => pexprDocFields(x._2))
    // inner_hits channels ride the hit row like script_fields — collect
    // from the QUERY tree; a post_filter/rescore nested carrying
    // inner_hits refuses (those clauses never contribute hit payload)
    val innerHits = innerHitsOf(b.query)
    (b.postFilter.toSeq.flatMap(innerHitsOf) ++
        b.rescore.toSeq.flatMap(r => innerHitsOf(r.query))).headOption
      .foreach { case (nm, _, _) => fail(s"inner_hits '$nm' on a " +
        "post_filter/rescore nested clause is unsupported — attach it " +
        "to the query") }
    innerHits.groupBy(_._1).collectFirst { case (nm, g) if g.size > 1 =>
      fail(s"two nested clauses share inner_hits name '$nm' — name " +
        "one explicitly ({\"inner_hits\": {\"name\": …}})")
    }
    val ihTaken = Set("rk", "doc_id", "n_matched", "tf_total", "dl",
      "score", "total_hits", "h_pos", "h_snippet") ++
      b.source.getOrElse(Seq.empty) ++ b.scriptFields.map(_._1) ++
      b.sort.map(_._1).filterNot(_ == "_score") ++ b.collapse
    innerHits.map(_._1).find(ihTaken.contains).foreach(nm =>
      fail(s"inner_hits name '$nm' collides with an output column — " +
        "rename it ({\"inner_hits\": {\"name\": …}})"))
    p.copy(exact = (p.exact ++ extra ++ b.collapse.toSeq ++
        sfDocFields ++ innerHits.map(_._2)).distinct,
      from = b.from, sortKeys = b.sort, source = b.source, after = b.after,
      highlight = b.highlight, collapse = b.collapse,
      rescore = b.rescore, rsC = rsC, postC = postC,
      minScore = b.minScore, trackTotal = b.trackTotal,
      sfieldsC = b.scriptFields,
      sciFields = (p.sciFields ++ sfDocFields).distinct,
      innerHits = innerHits)
  }

  /** Every nested clause in the tree carrying `inner_hits`, in
    * first-appearance order: (name, path, inner query). */
  private def innerHitsOf(n: Node): Seq[(String, String, NestedNode)] =
    collectCtx(n, true) {
      case (NestedQ(path, nq, Some(nm)), _) => Seq((nm, path, nq))
    }

  /** The serialized inner-hits payload, lockstep in both engines: the
    * MATCHED elements of the nested array, in array order, each
    * element's subfields '='-joined, elements '|'-joined — one
    * deterministic string the oracle rebuilds value-for-value (the
    * term-vectors comma-payload precedent). Null subfields serialize
    * as '' so a match on `exists(tags.type)` with a null value still
    * rides. A hit whose clause sat in should/must_not may carry ''
    * (no matching element) — ES returns the empty inner page there. */
  private def innerHitsEmit(path: String, nq: NestedNode)
      : (Column, String) = {
    val (predOf, sqlOf) = nestedPred(nq)
    val c = coalesce(array_join(
      transform(filter(col(path), predOf),
        t => concat_ws("=", NestedSubFields.map(sf =>
          coalesce(t.getField(sf).cast("string"), lit(""))): _*)),
      "|"), lit("")) // null array → '' too (lockstep with the oracle)
    // outer coalesce: DuckDB's array_to_string yields NULL on an
    // EMPTY list where Spark's array_join yields '' — the no-match
    // payload must agree
    val sql = s"coalesce(array_to_string(list_transform(" +
      s"list_filter(f.$path, t -> $sqlOf), t -> concat_ws('=', " +
      NestedSubFields.map(sf =>
        s"""coalesce(CAST(t."$sf" AS VARCHAR), '')""").mkString(", ") +
      ")), '|'), '')"
    (c, sql)
  }

  /** (n_matched, tf_total) SQL over the feature columns — exact AND
    * fuzzy tf columns, mirroring [[rankTail]]'s provenance. */
  private def provSql(p: Plan): (String, String) = {
    val cols = p.tkeys.map(k => s"qtf${p.tfIdx(k)}") ++
      p.zkeys.map(k => s"qzf${p.zfIdx(k)}")
    if (cols.isEmpty) ("0", "CAST(0 AS BIGINT)")
    else (cols.map(c => s"CASE WHEN f.$c > 0 THEN 1 ELSE 0 END")
      .mkString(" + "),
      cols.map(c => s"CAST(f.$c AS BIGINT)").mkString(" + "))
  }

  /** Shared-pass `_msearch` planning: ONE clause inventory and ONE
    * index map across every body (the [[percolateDslOf]] discipline
    * extended to scored queries), so all requests evaluate over one
    * feature frame and one statistics aggregate. Returns (the
    * frame-building plan with the UNION inventory, per-body plans
    * carrying their OWN provenance keys but the SHARED index maps). */
  private def msearchPlans(bodies: Seq[String]): (Plan, Seq[Plan]) = {
    if (bodies.isEmpty) fail("_msearch: empty request list")
    val parsed = bodies.map(parseBody)
    parsed.zipWithIndex.foreach { case (b, i) =>
      if (b.aggs.nonEmpty)
        fail(s"_msearch request $i has aggs — batch hits only " +
          "(aggregations are dslAggsOf's job)")
      if (b.highlight.nonEmpty)
        fail(s"_msearch request $i has highlight — fetch-phase work is " +
          "per-request (searchDslOf)")
      if (b.source.nonEmpty)
        fail(s"_msearch request $i has _source — the batched frame is " +
          "uniform: (req, rk, doc_id, n_matched, tf_total, dl)")
      if (b.collapse.nonEmpty)
        fail(s"_msearch request $i has collapse — field collapsing is " +
          "per-request (searchDslOf)")
      if (b.rescore.nonEmpty)
        fail(s"_msearch request $i has rescore — window re-ranking is " +
          "per-request (searchDslOf)")
      if (hasLookup(b.query))
        fail(s"_msearch request $i has a terms lookup — the GET " +
          "resolution is per-request (searchDslOf)")
    }
    val qs = parsed.map(_.query)
    val tkeys = qs.flatMap(tkeysOf).distinct
    val pkeys = qs.flatMap(pkeysOf).distinct
    val skts = qs.flatMap(ktsScoredOf).distinct
    val zkeys = qs.flatMap(zkeysOf).distinct
    val rkeys = qs.flatMap(rkeysOf).distinct
    val tfIdx = tkeys.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val pfIdx = pkeys.zipWithIndex.map { case (x, i) => x -> (i + 1) }.toMap
    val ktIdx = skts.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val zfIdx = zkeys.zipWithIndex.map { case (z, i) => z -> (i + 1) }.toMap
    val rfIdx = rkeys.zipWithIndex.map { case (r, i) => r -> (i + 1) }.toMap
    val skeysU = qs.flatMap(skeysOf).distinct
    val sfIdx = skeysU.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    val ckeysU = qs.flatMap(ckeysOf).distinct
    val cfIdx = ckeysU.zipWithIndex.map { case (c, i) => c -> (i + 1) }.toMap
    val plans = parsed.map { b =>
      val extra = b.sort.map(_._1)
        .filter(f => f != "_score" && f != "doc_id")
      Plan(b.query, b.size, tkeysOf(b.query), pkeysOf(b.query),
        tkeysScoredOf(b.query), pkeysScoredOf(b.query),
        ktsScoredOf(b.query), (exactFields(b.query) ++ extra).distinct,
        tfIdx, pfIdx, ktIdx,
        compile(b.query, scored = true, tfIdx, pfIdx, ktIdx, zfIdx, rfIdx,
          sfIdx, cfIdx),
        from = b.from, sortKeys = b.sort, after = b.after,
        zkeys = zkeysOf(b.query), szkeys = zkeysScoredOf(b.query),
        zfIdx = zfIdx, rkeys = rkeysOf(b.query), rfIdx = rfIdx,
        skeys = skeysOf(b.query), sfIdx = sfIdx,
        ckeys = ckeysOf(b.query), cfIdx = cfIdx,
        rndFields = randomFieldsOf(b.query),
        sciFields = scriptNumFieldsOf(b.query))
    }
    val exact = (plans.flatMap(_.exact)).distinct
    // the frame plan carries the union inventory; its dummy scored C
    // makes needsStats true exactly when any body aggregates (the
    // union stat keys drive WHICH statistics)
    val anyStats = plans.exists(_.needsStats)
    val framePlan = Plan(qs.head, 0, tkeys, pkeys,
      qs.flatMap(tkeysScoredOf).distinct, qs.flatMap(pkeysScoredOf).distinct,
      skts, exact, tfIdx, pfIdx, ktIdx,
      C(lit(true), "TRUE", if (anyStats) Some((lit(0.0), "0.0")) else None),
      zkeys = zkeys, szkeys = qs.flatMap(zkeysScoredOf).distinct,
      zfIdx = zfIdx, rkeys = rkeys, rfIdx = rfIdx,
      skeys = skeysU, sfIdx = sfIdx, ckeys = ckeysU, cfIdx = cfIdx,
      rndFields = plans.flatMap(_.rndFields).distinct,
      sciFields = plans.flatMap(_.sciFields).distinct)
    (framePlan, plans)
  }

  /** ES `_msearch`: N request bodies answered with ONE corpus pass —
    * the union clause inventory builds one feature frame (shared, so
    * the N rank tails and the statistics reuse the materialized
    * integers instead of re-scanning, [[share]]), one union
    * statistics aggregate broadcasts to every scored tail, and each
    * request keeps its own predicate, score, sort, and paging. Output:
    * (req, rk, doc_id, n_matched, tf_total, dl), req = request index.
    *
    * Shape at 100 TB: the alternative is N corpus scans; here the
    * corpus text is read ONCE and the shared frame holds a few integers
    * per doc — the shared-scan batching a distributed engine can offer
    * that per-request ES cannot.
    *
    * Served ([[msearchFromIndexes]]): one candidate frame per
    * [[Source]] group — the postings read prunes to all the group's
    * terms at once, the doc-values and length tables join once, and
    * one union statistics aggregate serves every scored request. */
  def msearchOf(docs: DataFrame, bodies: Seq[String]): DataFrame =
    msearch(Scan(docs), bodies)

  def msearchFromIndexes(spark: SparkSession, indexDirs: Seq[String],
      bodies: Seq[String]): DataFrame =
    msearch(Served(spark, indexDirs), bodies)

  /** The `_msearch` compiler: each of the source's groups shares one
    * candidate frame ([[share]]) and one statistics aggregate
    * across its requests' rank tails. */
  private def msearch(src: Source, bodies: Seq[String]): DataFrame = {
    val (framePlan, plans) = msearchPlans(bodies)
    val pages = src.groups(framePlan, plans).flatMap { case (gFrame, gp) =>
      val c = src.features(gFrame, shared = true)
      gp.map { case (p, i) =>
        rankTail(c.f, if (p.needsStats) c.stats else None, p)
          .withColumn("req", lit(i))
          .select(col("req"), col("rk"), col("doc_id"), col("n_matched"),
            col("tf_total"), col("dl"))
      }
    }
    pages.reduce(_ unionByName _).orderBy(col("req"), col("rk"))
  }

  /** Oracle for [[msearchOf]] — the same shared f/s CTEs, one branch
    * per request, UNION ALL. */
  def msearchSql(bodies: Seq[String]): String =
    msearchSqlOver(bodies, "documents")

  def msearchSqlOver(bodies: Seq[String], rel: String): String = {
    val (framePlan, plans) = msearchPlans(bodies)
    val anyStats = framePlan.needsStats
    val ctes = Seq(fCteSql(framePlan, Seq.empty, rel)) ++
      (if (anyStats) Seq(sCteSql(framePlan)) else Seq.empty)
    val branches = plans.zipWithIndex.map { case (p, i) =>
      val scoreSql = if (p.needsStats) p.c.score.get._2 else "0.0"
      val (nMatched, tfTotal) = provSql(p)
      val dlSql = if (p.needsText) "f.dl" else "CAST(0 AS BIGINT)"
      val from = if (p.needsStats) "FROM f CROSS JOIN s" else "FROM f"
      val gateSql = p.after.map(v =>
        s"(${p.c.predSql} AND ${afterPredOf(p, v)._2})")
        .getOrElse(p.c.predSql)
      val extraCols = p.sortFields
        .filterNot(Seq("doc_id", "dl", "n_matched", "tf_total", "score")
          .contains)
      val ordSql =
        if (p.sortKeys.isEmpty) "score DESC, doc_id"
        else p.sortKeys.map { case (fld, asc) =>
          val c = if (fld == "_score") "score" else fld
          s"$c ${if (asc) "ASC" else "DESC"} NULLS LAST"
        }.mkString(", ") + ", doc_id"
      val sc =
        s"""(SELECT f.doc_id, $dlSql AS dl, $nMatched AS n_matched,
           |     $tfTotal AS tf_total, $scoreSql AS score${
             extraCols.map(c => s", f.$c AS $c").mkString}
           |   $from WHERE $gateSql)""".stripMargin
      if (p.from == 0)
        s"""SELECT $i AS req, ROW_NUMBER() OVER (ORDER BY $ordSql) AS rk,
           |  doc_id, n_matched, tf_total, dl
           |FROM $sc AS sc ORDER BY $ordSql LIMIT ${p.size}""".stripMargin
      else
        s"""SELECT $i AS req, rk, doc_id, n_matched, tf_total, dl FROM (
           |  SELECT ROW_NUMBER() OVER (ORDER BY $ordSql) AS rk,
           |    doc_id, n_matched, tf_total, dl
           |  FROM $sc AS sc) AS pg
           |WHERE rk > ${p.from} ORDER BY rk LIMIT ${p.size}""".stripMargin
    }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT * FROM (
       |${branches.map(b => s"($b)").mkString("\nUNION ALL\n")}
       |) AS u ORDER BY req, rk""".stripMargin
  }

  /** The literal strings a highlight on `hf` marks: the query's match
    * terms on that field in clause order, then its phrases as joined
    * literals. The FIRST literal present in the document anchors the
    * snippet (clause order, not min-position — deterministic and
    * identical in both engines; ES's best-fragment choice is
    * scorer-internal, this is the documented stand-in). */
  private def highlightLits(p: Plan, hf: String): Seq[String] =
    (p.tkeys.filter(_._1 == hf).map(_._2) ++
      p.pkeys.filter(_._1 == hf).map(_._2.mkString(" "))).distinct

  /** The strictly-after lexicographic predicate of keyset paging: the
    * document sorts after (sort values, doc_id) — one disjunct per
    * prefix length, exactly the total order's successor relation. A
    * doc with a NULL sort key (sorts last) is unreachable through a
    * non-null cursor — cursors only ever carry values a previous page
    * emitted. Returns (Column, SQL) built in lockstep. */
  private def afterPredOf(p: Plan, vals: Seq[Scalar]): (Column, String) = {
    val keys = p.sortKeys :+ (("doc_id", true))
    val parts = keys.zip(vals).zipWithIndex.map { case (((f, asc), v), i) =>
      val strictC = if (asc) col(f) > v.column else col(f) < v.column
      val strictS = s"f.$f ${if (asc) ">" else "<"} ${v.sql}"
      val eqs = keys.zip(vals).take(i)
      ((eqs.map { case ((f2, _), v2) => col(f2) === v2.column } :+ strictC)
        .reduce(_ && _),
        (eqs.map { case ((f2, _), v2) => s"f.$f2 = ${v2.sql}" } :+ strictS)
          .mkString("(", " AND ", ")"))
    }
    (parts.map(_._1).reduce(_ || _),
      parts.map(_._2).mkString("(", " OR ", ")"))
  }

  /** Positional phrase-frequency over normalized text: a zero-width
    * lookahead wrapped around the adjacent-word pattern, so
    * OVERLAPPING occurrences all count ("go go go" has TWO "go go"
    * hits — Lucene's phrase frequency, and what the oracle counts
    * positionally). Zero-width matches keep the count codegen'd (one
    * regexp_extract_all, no per-position lambda); the matcher
    * advances one char per zero-width hit, so every token start is
    * probed. */
  /** ES wildcard → anchored regex: `*` = any run, `?` = one char,
    * every other character literal. The same string drives Spark's
    * `rlike` and DuckDB's `regexp_matches` — on patterns of this
    * shape (escaped literals + `.*`/`.`) the two engines agree. */
  private[ops] def wildcardRegex(pat: String): String = {
    val sb = new StringBuilder("^")
    pat.foreach {
      case '*' => sb.append(".*")
      case '?' => sb.append('.')
      case c if "\\.[]{}()+-^$|".contains(c) => sb.append('\\').append(c)
      case c => sb.append(c)
    }
    sb.append('$').toString
  }

  private[ops] def phrasePattern(ws: Seq[String]): String =
    "(?<![^ ])(?=" +
      ws.map(java.util.regex.Pattern.quote).mkString(" ") + "(?![^ ]))"

  /** The prefix variant: every word but the last is boundary-exact;
    * the last needs no trailing boundary — any token CARRYING it as a
    * prefix matches at that position. */
  private[ops] def phrasePrefixPattern(ws: Seq[String]): String =
    "(?<![^ ])(?=" +
      ws.map(java.util.regex.Pattern.quote).mkString(" ") + ")"

  private def phraseFreq(nt: Column, ws: Seq[String]): Column =
    size(regexp_extract_all(nt, lit(phrasePattern(ws)), lit(0)))

  /** SLOPPY phrase frequency over the token array (slop > 0): count of
    * positions x of word 0 such that every word j has a position in
    * [x+j, x+j+slop] (1-based). Plain higher-order array ops — the
    * DuckDB oracle emits the identical position arithmetic. */
  private def slopFreq(arr: Column, ws: Seq[String], slop: Int,
      lastPrefix: Boolean = false): Column = {
    def posOf(w: String, isPrefix: Boolean): Column =
      filter(transform(arr, (x, i) =>
        when(if (isPrefix) x.startsWith(lit(w)) else x === lit(w), i + 1)
          .otherwise(lit(-1))), p => p > 0)
    val last = ws.size - 1
    if (ws.size == 1) size(posOf(ws.head, lastPrefix))
    else size(filter(posOf(ws.head, isPrefix = false), x =>
      (1 until ws.size).map(j => exists(posOf(ws(j),
        lastPrefix && j == last),
        p => p >= x + lit(j) && p <= x + lit(j + slop))).reduce(_ && _)))
  }

  /** The per-document feature frame of the SCAN path: doc_id, the
    * referenced exact fields, dl/hdl (only when the query touches
    * text), and the qtf/qpf feature counts. A query with no
    * match/phrase clause projects NO text-derived column — the text
    * column itself is pruned out of the parquet scan. */
  private def scanF(docs: DataFrame, p: Plan,
      extra: Seq[String]): DataFrame = {
    import docs.sparkSession.implicits._
    checkFieldTypes(docs.schema, p)
    val fields = (p.exact ++ extra).distinct.filter(_ != "doc_id").map(col)
    if (!p.needsText) docs.select(($"doc_id" +: fields): _*)
    else {
      val nt = TextAnalysis.norm($"text")
      val toksC = TextAnalysis.toks($"text")
      val headNt = array_join(slice(toksC, 1, Search.HeadLen), " ")
      def src(f: String) = if (f == Search.DefaultField) nt else headNt
      val dlCols =
        size(toksC).cast("long").as("dl") +:
          (if (p.scoredFields.contains(Search.HeadField))
            Seq(least(size(toksC), lit(Search.HeadLen)).cast("long").as("hdl"))
          else Seq.empty)
      val tfCols = p.tkeys.map { case k @ (f, t) =>
        TextAnalysis.hitCount(src(f), Seq(t)).as(s"qtf${p.tfIdx(k)}")
      }
      def tarr(f: String) = if (f == Search.DefaultField) toksC
        else slice(toksC, 1, Search.HeadLen)
      val pfCols = p.pkeys.map { case k @ (f, ws, sl, pfx) =>
        (if (sl == 0 && !pfx) phraseFreq(src(f), ws)
         else if (sl == 0)
           size(regexp_extract_all(src(f), lit(phrasePrefixPattern(ws)),
             lit(0)))
         else slopFreq(tarr(f), ws, sl, pfx)).as(s"qpf${p.pfIdx(k)}")
      }
      // fuzzy tf: tokens within the edit budget — token-grain, the
      // same classic Levenshtein DP both engines implement (the
      // oracle-green `fuzzy_match` pairing). Deliberately O(corpus
      // tokens × fuzzy keys): this SCAN path is the oracle twin; at
      // scale use the served path (`dsl_fuzzy_served`), whose ONE
      // term-dictionary walk pivots all fuzzy keys over postings
      // terms — never corpus text
      val zfCols = p.zkeys.map { case k @ (f, t, d) =>
        size(filter(tarr(f), x => levenshtein(x, lit(t)) <= lit(d)))
          .as(s"qzf${p.zfIdx(k)}")
      }
      // regexp tf: tokens FULL-matching the pattern (Lucene-anchored)
      val rfCols = p.rkeys.map { case k @ (f, pat) =>
        size(filter(tarr(f), x => x.rlike("^(?:" + pat + ")$")))
          .as(s"qrf${p.rfIdx(k)}")
      }
      // span occurrence counts: 1-based positions of a term via the
      // slopFreq idiom — `transform(arr, (x, i) => …)` touches the
      // token array ONCE per evaluation; the r15 first cut used
      // `element_at(arr, i)` inside a sequence-lambda, which
      // re-evaluates the WHOLE tokenize per element in interpreted
      // HOF mode (the scan filter sits below the repartition on one
      // task) — sf0.1 measured 17 s where this shape measures < 1 s
      def posOf(f: String, t: String): Column =
        filter(transform(tarr(f), (x, i) =>
          when(x === lit(t), i + 1).otherwise(lit(-1))), pp => pp > 0)
      val spCols = p.skeys.map { k =>
        val f = spanFieldOf(k)
        (k match {
          case SpanNotQ(_, inc, exc, pre, post) =>
            size(filter(posOf(f, inc), x =>
              !exists(posOf(f, exc),
                q => q >= x - lit(pre) && q <= x + lit(post))))
          case SpanFirstQ(_, t, end) =>
            size(filter(posOf(f, t), x => x <= lit(end)))
          case SpanUnordQ(_, t1, t2, sl) =>
            size(filter(posOf(f, t1), x =>
              exists(posOf(f, t2), q => abs(q - x) <= lit(sl + 1))))
          case SpanOrderedQ(_, ts) =>
            orderedChainCount(ts.map(posOf(f, _)))
          case SpanWindowQ(_, ts, g) =>
            windowAnchorCount(ts.map(posOf(f, _)), g + ts.size - 1)
          case SpanChainQ(_, ts, g) =>
            chainWindowCount(ts.map(posOf(f, _)), g + ts.size - 1)
          case SpanWithinQ(_, lt, t1, t2, sl, ord) =>
            // little occurrences q enclosed by SOME big (t1, t2) pair
            // satisfying the near constraint (gap = |p2−p1|−1 ≤ slop)
            size(filter(posOf(f, lt), q =>
              exists(posOf(f, t1), x => exists(posOf(f, t2), y =>
                (if (ord) y > x && y - x <= lit(sl + 1)
                 else abs(y - x) <= lit(sl + 1)) &&
                  q >= least(x, y) && q <= greatest(x, y)))))
          case other => fail(s"not a span key: $other") // unreachable
        }).as(s"qsp${p.sfIdx(k)}")
      }
      docs.select(($"doc_id" +: fields) ++ dlCols ++ tfCols ++
        pfCols ++ zfCols ++ rfCols ++ spCols: _*)
    }
  }

  /** Corpus statistics of the SCAN path — aggregated ONLY for scored
    * clauses, and not at all for a scoreless query (the stats
    * aggregate and its broadcast join vanish from the plan). */
  private def scanStats(f: DataFrame, p: Plan): Option[DataFrame] = {
    if (!p.needsStats) None
    else {
      val cols = Seq(count(lit(1)).as("n")) ++
        (if (p.scoredFields.contains(Search.DefaultField))
          Seq(sum(col("dl")).as("sumdl")) else Seq.empty) ++
        (if (p.scoredFields.contains(Search.HeadField))
          Seq(sum(col("hdl")).as("hsumdl")) else Seq.empty) ++
        p.stkeys.map(k =>
          count(when(col(s"qtf${p.tfIdx(k)}") > 0, 1)).as(s"qdf${p.tfIdx(k)}")) ++
        p.spkeys.map(k =>
          count(when(col(s"qpf${p.pfIdx(k)}") > 0, 1)).as(s"qpd${p.pfIdx(k)}")) ++
        p.szkeys.map(k =>
          count(when(col(s"qzf${p.zfIdx(k)}") > 0, 1)).as(s"qzd${p.zfIdx(k)}")) ++
        p.skts.map { case kt @ (fld, v) =>
          count(when(col(fld) === v.column, 1)).as(s"qkd${p.ktIdx(kt)}")
        } ++
        p.ckeys.map { case k @ (fs, t) =>
          // blended df*: docs where ANY of the fields carries the term
          count(when(fs.map(f => col(s"qtf${p.tfIdx((f, t))}") > 0)
            .reduce(_ || _), 1)).as(s"qcd${p.cfIdx(k)}")
        }
      Some(f.agg(cols.head, cols.tail: _*))
    }
  }

  /** The gated scored rows of a plan, before any ranking: broadcast-
    * join the stats (when any), keep the matching docs and project
    * (doc_id, dl, n_matched, tf_total, score) plus the columns the
    * ranking and the page need, then `keep`. [[rankTail]] ranks them;
    * [[scored]] hands them to callers that read the score itself. */
  private def scoredRows(f: DataFrame, stats: Option[DataFrame],
      p: Plan, keep: Seq[Column] = Seq.empty): DataFrame = {
    import f.sparkSession.implicits._
    val joined = stats.map(s => f.crossJoin(broadcast(s))).getOrElse(f)
    // the score expression references stat columns — it exists only
    // when the stats were joined (needsStats); a field-only sort
    // ranks with no score at all (a scoreless organic query under a
    // scored rescore ranks 0.0 until the window re-sort)
    val score =
      if (p.needsStats) p.c.score.map(_._1).getOrElse(lit(0.0))
      else lit(0.0)
    // fuzzy tf columns ride the provenance exactly like exact ones
    val hitCols = p.tkeys.map(k => col(s"qtf${p.tfIdx(k)}")) ++
      p.zkeys.map(k => col(s"qzf${p.zfIdx(k)}"))
    val nMatched =
      if (hitCols.isEmpty) lit(0)
      else hitCols.map(c => when(c > 0, 1).otherwise(0)).reduce(_ + _)
    val tfTotal =
      if (hitCols.isEmpty) lit(0L)
      else hitCols.map(_.cast("long")).reduce(_ + _)
    val dlC = if (p.needsText) $"dl" else lit(0L)
    val reserved = Seq("doc_id", "dl", "n_matched", "tf_total", "score")
    val extraCols = (p.sortFields ++ p.source.getOrElse(Seq.empty) ++
      p.collapse.toSeq).distinct.filterNot(reserved.contains)
    // keyset paging filters BEFORE the top-k — the skipped prefix
    // never materializes, the whole point of search_after; the page's
    // rk restarts at 1 (ES's search_after responses carry no offset).
    // post_filter narrows the HITS here — aggregations never see it
    // (the faceted-search split)
    val basePred = p.postC.map(pc => p.c.pred && pc.pred)
      .getOrElse(p.c.pred)
    val gate = p.after.map(v => basePred && afterPredOf(p, v)._1)
      .getOrElse(basePred)
    // rescore score: gated on the rescore query matching — a window
    // doc outside its match set keeps qw·orig alone
    val rsc: Seq[Column] = p.rsC.toSeq.map { rc =>
      (rc.score match {
        case Some((s, _)) => when(rc.pred, s).otherwise(lit(0.0))
        case None => lit(0.0)
      }).as("rsc")
    }
    val sfCols = p.sfieldsC.map { case (nm2, e) =>
      pexprEmit(e, n2 => fail(s"script_fields: unbound params.$n2"))
        ._1.as(nm2)
    }
    val ihCols = p.innerHits.map { case (nm2, path, nq) =>
      innerHitsEmit(path, nq)._1.as(nm2)
    }
    val scoredRows0 = joined.filter(gate)
      .select(($"doc_id" +: dlC.as("dl") +: nMatched.as("n_matched") +:
        tfTotal.as("tf_total") +: score.as("score") +:
        (rsc ++ extraCols.map(col) ++ sfCols ++ ihCols ++ keep)): _*)
    // min_score floors hits by the computed score (planOfBody refuses
    // it where no score exists)
    val floored = p.minScore
      .map(v => scoredRows0.filter($"score" >= lit(v.toDouble)))
      .getOrElse(scoredRows0)
    // track_total_hits: the exact pre-page hit count rides every row
    // as a column — ONE broadcast 1-row aggregate over the match set
    // (what ES pays for a tracked total), never a window over it
    if (!p.trackTotal) floored
    else floored.crossJoin(broadcast(
      floored.agg(count(lit(1)).as("total_hits"))))
  }

  /** The shared ranking tail of BOTH serving paths: the
    * [[scoredRows]], top-k by (score desc, doc_id), emitted in the
    * rank-plus-integer-provenance shape — (rk, doc_id, n_matched,
    * tf_total, dl), the [[Search.bm25TopK]] convention (the double
    * score stays internal; see Search's class doc). */
  private def rankTail(f: DataFrame, stats: Option[DataFrame],
      p: Plan): DataFrame = {
    import f.sparkSession.implicits._
    val rows = scoredRows(f, stats, p)
    // explicit NULLS LAST on sort keys — ES's missing:_last default,
    // and DuckDB's own default, so both engines agree on null docs
    def sortCol(fld: String, asc: Boolean): Column = {
      val c0 = if (fld == "_score") $"score" else col(fld)
      if (asc) c0.asc_nulls_last else c0.desc_nulls_last
    }
    val ord: Seq[Column] =
      (if (p.sortKeys.isEmpty) Seq($"score".desc)
       else p.sortKeys.map((sortCol _).tupled)) :+ $"doc_id".asc
    val w = Window.orderBy(ord: _*)
    // field collapsing: each group's best-ranked doc survives BEFORE
    // the page cut — a per-key window (rank state is per-group top-1,
    // never a global distinct); docs missing the field share one null
    // group, the ES contract
    val collapsed = p.collapse match {
      case Some(cf) =>
        val wg = Window.partitionBy(col(cf)).orderBy(ord: _*)
        rows.withColumn("g_rn", row_number().over(wg))
          .filter($"g_rn" === 1).drop("g_rn")
      case None => rows
    }
    val ranked = p.rescore match {
      case Some(Rescore(_, wdw, qw, rw2)) =>
        // the window re-sort: top-`wdw` docs by the ORIGINAL score
        // re-rank by qw·orig + rw·rescore; docs below the window keep
        // their original order under it — at 100 TB the expensive
        // rescore expression evaluates on ≤ max(window, page) rows
        val lim = math.max(wdw, p.from + p.size)
        val staged = collapsed.orderBy(ord: _*).limit(lim)
          .withColumn("ork", row_number().over(w))
          .withColumn("grp", when($"ork" <= wdw, 0).otherwise(1))
          .withColumn("cmb", lit(qw.toDouble) * $"score" +
            lit(rw2.toDouble) * $"rsc")
        val ord2: Seq[Column] = Seq($"grp".asc,
          when($"grp" === 0, $"cmb").otherwise(lit(0.0)).desc,
          when($"grp" === 1, $"ork").otherwise(lit(0L)).asc,
          $"doc_id".asc)
        staged.orderBy(ord2: _*).limit(p.from + p.size)
          .withColumn("rk", row_number().over(Window.orderBy(ord2: _*)))
      case None =>
        collapsed.orderBy(ord: _*).limit(p.from + p.size)
          .withColumn("rk", row_number().over(w))
    }
    // `from` paging: rk stays the GLOBAL rank (hits from+1 … from+size,
    // the ES offset contract); only from+size rows ever materialize
    val page = if (p.from == 0) ranked else ranked.filter($"rk" > p.from)
    val outCols: Seq[Column] = (p.source match {
      case None => Seq($"rk", $"doc_id", $"n_matched", $"tf_total", $"dl") ++
        p.sfieldsC.map(x => col(x._1))
      case Some(fs) => ($"rk" +: $"doc_id" +: fs.map(col)) ++
        p.sfieldsC.map(x => col(x._1))
    }) ++ p.innerHits.map(x => col(x._1)) ++
      (if (p.trackTotal) Seq($"total_hits") else Seq.empty)
    page.select(outCols: _*).orderBy($"rk")
  }

  // -------------------------------------------------- engine serving

  /** Compile and run a DSL search over a documents frame (the SCAN
    * path — [[Search.bm25TopK]]'s shape). See class doc. */
  def searchDslOf(docs: DataFrame, json: String): DataFrame =
    searchDsl(Scan(docs), json)

  /** [[searchDslOf]] SERVED from the persisted index ([[Served]]):
    * postings features, doc-values and index statistics feed the same
    * score expressions, so the page is bit-identical to the scan's. */
  def searchDslFromIndexes(spark: SparkSession, indexDirs: Seq[String],
      json: String): DataFrame =
    searchDsl(Served(spark, indexDirs), json)

  /** The hits compiler. A highlighted page's fetch phase reads the
    * source's stored text ([[Source.stored]]). */
  private def searchDsl(src: Source, json: String): DataFrame = {
    val b = resolveBodyLookups(parseBody(json), src.fetch)
    if (b.aggs.nonEmpty)
      fail("body has \"aggs\" — aggregations are served by dslAggsOf, " +
        "hits by searchDslOf")
    val srcR = src.runtime(b)
    val p = planOfBody(b)
    val c = srcR.features(p)
    val page = rankTail(c.f, c.stats, p)
    p.highlight.map(highlightJoin(srcR.stored, page, p, _)).getOrElse(page)
  }

  /** The hits compiler's gated scored rows ([[scoredRows]]) — (doc_id,
    * dl, n_matched, tf_total, score) of every matching doc, unranked,
    * plus tf1..tfk: each distinct (field, term) match key's tf, in
    * first-appearance order ([[tkeysOf]]). The seam for callers that
    * page or fuse on the score itself. */
  private[ops] def scored(src: Source, b: Body): DataFrame = {
    val srcR = src.runtime(b)
    val p = planOfBody(b)
    val c = srcR.features(p)
    scoredRows(c.f, c.stats, p, p.tkeys.map { k =>
      col(s"qtf${p.tfIdx(k)}").as(s"tf${p.tfIdx(k)}") })
  }

  /** The FETCH phase of highlighting: snippets compute for the PAGE's
    * rows only — the ≤size-row page broadcasts into one pruned
    * (doc_id, text) re-read, exactly ES's query-then-fetch split; the
    * corpus-sized ranking never carries document text. Emits the page
    * plus `h_pos` (1-based position of the first query literal in the
    * normalized field, null when the hit matched elsewhere) and
    * `h_snippet` (the [[Search.SnippetLen]]-char window around it). */
  private def highlightJoin(docs: DataFrame, page: DataFrame, p: Plan,
      hf: String): DataFrame = {
    import docs.sparkSession.implicits._
    val src =
      if (hf == Search.DefaultField) TextAnalysis.norm($"text")
      else array_join(slice(TextAnalysis.toks($"text"), 1, Search.HeadLen),
        " ")
    val pos = coalesce(highlightLits(p, hf).map(t =>
      when(locate(t, $"hl_nt") > 0, locate(t, $"hl_nt"))): _*)
    docs.select($"doc_id", src.as("hl_nt"))
      .join(broadcast(page), "doc_id")
      .withColumn("h_pos", pos)
      .withColumn("h_snippet", when($"h_pos".isNotNull,
        $"hl_nt".substr(greatest($"h_pos" - Search.SnippetBefore, lit(1)),
          lit(Search.SnippetLen))))
      .select(page.columns.map(col) ++ Seq($"h_pos", $"h_snippet"): _*)
      .orderBy($"rk")
  }

  /** Bottom-up AST rewrite — descends through every wrapping node. */
  private def transformNode(n: Node)(
      f: PartialFunction[Node, Node]): Node = {
    val n2 = n match {
      case BoolQ(m, s, mn, fl, msm) =>
        BoolQ(m.map(transformNode(_)(f)), s.map(transformNode(_)(f)),
          mn.map(transformNode(_)(f)), fl.map(transformNode(_)(f)), msm)
      case ConstScoreQ(q, b2) => ConstScoreQ(transformNode(q)(f), b2)
      case DisMaxQ(qs, tb) => DisMaxQ(qs.map(transformNode(_)(f)), tb)
      case FunctionScoreQ(q, fl, m, fa, mi, sm, b2) =>
        FunctionScoreQ(transformNode(q)(f), fl, m, fa, mi, sm, b2)
      case FnScoreQ(q, fns, sm, bm, b2) =>
        FnScoreQ(transformNode(q)(f),
          fns.map(fn => fn.withFilter(fn.filter.map(transformNode(_)(f)))),
          sm, bm, b2)
      case BoostingQ(pos, neg, nb) =>
        BoostingQ(transformNode(pos)(f), transformNode(neg)(f), nb)
      case PinnedQ(ids, org) => PinnedQ(ids, transformNode(org)(f))
      case ScriptScoreQ(q, s, b2) => ScriptScoreQ(transformNode(q)(f), s, b2)
      case other => other
    }
    f.applyOrElse(n2, identity[Node])
  }

  private def hasLookup(n: Node): Boolean =
    collectCtx(n, true) { case (_: TermsLookupQ, _) => Seq(1) }.nonEmpty

  /** Resolve `terms` LOOKUP clauses through a fetcher (the scan corpus
    * or the served docmeta): the source doc's path values become the
    * literal term set — ES's own GET-then-filter, one bounded driver
    * round-trip per lookup. */
  private def resolveLookups(n: Node,
      fetch: (Long, String) => Seq[Scalar]): Node =
    transformNode(n) { case TermsLookupQ(field, id, path) =>
      val vs = fetch(id, path)
      if (vs.isEmpty)
        fail(s"terms lookup: doc $id has no value at '$path' " +
          "(or does not exist)")
      TermsQ(field, vs.distinct)
    }

  /** [[resolveLookups]] across a whole body — the query, the rescore
    * query, and stored filter/filters clauses. No-op (and no fetch
    * job) when the body carries no lookup. */
  private def resolveBodyLookups(b: Body,
      fetch: (Long, String) => Seq[Scalar]): Body = {
    val nodes = b.query +: (b.rescore.map(_.query).toSeq ++
      b.postFilter.toSeq ++ aggClauseNodes(b))
    if (!nodes.exists(hasLookup)) b
    else b.copy(
      query = resolveLookups(b.query, fetch),
      rescore = b.rescore.map(r =>
        r.copy(query = resolveLookups(r.query, fetch))),
      postFilter = b.postFilter.map(resolveLookups(_, fetch)),
      aggs = b.aggs.map { sp =>
        sp.copy(agg = sp.agg match {
          case FilterAgg(n) => FilterAgg(resolveLookups(n, fetch))
          case FiltersAgg(fs) =>
            FiltersAgg(fs.map { case (nm, n) =>
              (nm, resolveLookups(n, fetch)) })
          case AdjacencyAgg(fs, sep) =>
            AdjacencyAgg(fs.map { case (nm, n) =>
              (nm, resolveLookups(n, fetch)) }, sep)
          case t: TTestAgg =>
            t.copy(aFilter = t.aFilter.map(resolveLookups(_, fetch)),
              bFilter = t.bFilter.map(resolveLookups(_, fetch)))
          case a => a
        })
      })
  }

  private def rowScalar(v: Any, path: String): Scalar = v match {
    case s: String => SStr(s)
    case n: Long => SNum(BigDecimal(n))
    case n: Int => SNum(BigDecimal(n))
    case b2: Boolean => SBool(b2)
    case other => fail(s"terms lookup: unsupported value type " +
      s"${other.getClass.getSimpleName} at '$path' — lookup paths are " +
      "scalar keyword/numeric fields")
  }

  /** The lookup GET's values: one pruned 1-row probe of `docs`. */
  private def lookupValues(docs: DataFrame, id: Long,
      path: String): Seq[Scalar] =
    docs.filter(col("doc_id") === id).select(col(path)).collect().toSeq
      .flatMap(r => Option(r.get(0))).map(rowScalar(_, path))

  /** The plan of a query compiled in FILTER CONTEXT (scored = false,
    * no statistic keys) — what `_count`, aggregations, and percolation
    * share: the match set matters, the scores never do. */
  private def filterPlanOf(q: Node): Plan = mergedFilterPlan(Seq(q))

  /** Filter-context plan over a MERGED clause inventory: the head
    * node is the predicate, every node contributes its match/phrase
    * keys and exact fields to one shared feature frame (the
    * [[percolateDslOf]] discipline — here it lets `filter`
    * aggregations evaluate their stored clauses over the same scan as
    * the query). */
  private def mergedFilterPlan(qs: Seq[Node]): Plan = {
    val tkeys = qs.flatMap(tkeysOf).distinct
    val pkeys = qs.flatMap(pkeysOf).distinct
    val zkeys = qs.flatMap(zkeysOf).distinct
    val rkeys = qs.flatMap(rkeysOf).distinct
    val exact = qs.flatMap(exactFields).distinct
    val tfIdx = tkeys.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val pfIdx = pkeys.zipWithIndex.map { case (x, i) => x -> (i + 1) }.toMap
    val zfIdx = zkeys.zipWithIndex.map { case (z, i) => z -> (i + 1) }.toMap
    val rfIdx = rkeys.zipWithIndex.map { case (r, i) => r -> (i + 1) }.toMap
    val skeys = qs.flatMap(skeysOf).distinct
    val sfIdx = skeys.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    Plan(qs.head, 0, tkeys, pkeys, Seq.empty, Seq.empty, Seq.empty, exact,
      tfIdx, pfIdx, Map.empty,
      compile(qs.head, scored = false, tfIdx, pfIdx, Map.empty, zfIdx,
        rfIdx, sfIdx),
      zkeys = zkeys, zfIdx = zfIdx, rkeys = rkeys, rfIdx = rfIdx,
      skeys = skeys, sfIdx = sfIdx)
  }

  /** The ES `_count` endpoint: how many documents match — the body
    * carries ONLY `query` (size/sort/paging have no meaning there and
    * refuse loudly). Filter-context compile: no statistics aggregate,
    * and a text-free query never reads the text column.
    *
    * Shape at 100 TB: one pruned scan + a 1-row count. Served
    * ([[dslCountFromIndexes]]): one pruned index read + a 1-row count,
    * tombstones excluded, never the corpus. */
  def dslCountOf(docs: DataFrame, json: String): DataFrame =
    countDsl(Scan(docs), json)

  def dslCountFromIndexes(spark: SparkSession, indexDirs: Seq[String],
      json: String): DataFrame =
    countDsl(Served(spark, indexDirs), json)

  private def countDsl(src: Source, json: String): DataFrame = {
    JsonMethods.parse(json) match {
      case o: JObject =>
        o.obj.collectFirst { case (k, _) if k != "query" => k }
          .foreach(k => fail(s"_count body supports only \"query\", " +
            s"got '$k'"))
      case other => fail(s"body must be a JSON object, got $other")
    }
    val b = resolveBodyLookups(parseBody(json), src.fetch)
    val p = filterPlanOf(b.query)
    src.features(p).f.filter(p.c.pred).agg(count(lit(1)).as("total"))
  }

  /** Oracle for [[dslCountOf]] — same AST, same filter-context
    * predicate. */
  def dslCountSqlOver(json: String, rel: String): String = {
    val p = filterPlanOf(parseBody(json).query)
    s"""WITH ${fCteSql(p, Seq.empty, rel)}
       |SELECT COUNT(*) AS total FROM f WHERE ${p.c.predSql}""".stripMargin
  }

  private def checkFields(docs: DataFrame, fields: Seq[String]): Unit =
    fields.foreach { f =>
      if (!docs.columns.contains(f))
        fail(s"field '$f' is not in the corpus schema " +
          s"(${docs.columns.mkString(", ")})")
    }

  // ------------------------------------------------- misc endpoints

  /** The ES `_mget` endpoint: fetch documents by id, in REQUEST ORDER,
    * with a `found` flag for misses (ES returns misses as entries,
    * not absences). The id set compiles to a pushed-down IN filter —
    * at 100 TB the probe prunes on parquet min/max — and the ≤|ids|
    * surviving rows broadcast back onto the literal request frame. */
  def dslMgetOf(docs: DataFrame, ids: Seq[Long],
      fields: Seq[String]): DataFrame = {
    import docs.sparkSession.implicits._
    if (ids.isEmpty) fail("_mget: empty ids")
    if (ids.distinct.size != ids.size) fail("_mget lists an id twice")
    checkFields(docs, fields)
    val req = ids.zipWithIndex
      .map { case (id, i) => (i + 1, id) }.toDF("rk", "doc_id")
    val hits = docs
      .select(($"doc_id".as("d2") +: fields.map(col)): _*)
      .filter($"d2".isin(ids: _*))
    req.join(broadcast(hits), $"doc_id" === $"d2", "left")
      .withColumn("found", $"d2".isNotNull)
      .select(($"rk" +: $"doc_id" +: $"found" +: fields.map(col)): _*)
      .orderBy($"rk")
  }

  def dslMgetSqlOver(ids: Seq[Long], fields: Seq[String],
      rel: String): String = {
    val vals = ids.zipWithIndex
      .map { case (id, i) => s"(${i + 1}, $id)" }.mkString(", ")
    val fsel = fields.map(f => s", h.$f").mkString
    s"""WITH req(rk, doc_id) AS (VALUES $vals),
       |h AS (SELECT doc_id AS d2${fields.map(f => s", $f").mkString}
       |      FROM $rel WHERE doc_id IN (${ids.mkString(", ")}))
       |SELECT req.rk, req.doc_id, (h.d2 IS NOT NULL) AS found$fsel
       |FROM req LEFT JOIN h ON req.doc_id = h.d2
       |ORDER BY req.rk""".stripMargin
  }

  /** The ES `_analyze` endpoint: the analyzer's token stream for a
    * given text — (position, token), 1-based. BOTH engines run their
    * own analyzer expression over the literal (Spark's toks vs the
    * oracle's [[ToksExpr]]), so green re-proves analyzer parity at
    * the endpoint surface. */
  def dslAnalyzeOf(spark: SparkSession, text: String): DataFrame = {
    import spark.implicits._
    if (analyzed(text).isEmpty) fail("_analyze: text yields no tokens")
    spark.range(1)
      .select(posexplode(TextAnalysis.toks(lit(text)))
        .as(Seq("pos0", "token")))
      .select(($"pos0" + 1).cast("long").as("position"), $"token")
      .orderBy($"position")
  }

  def dslAnalyzeSql(text: String): String = {
    val t = quoteSql(text)
    val toksOf = ToksExpr.replace("text", s"'$t'")
    s"""SELECT CAST(position AS BIGINT) AS position, token FROM (
       |  SELECT unnest($toksOf) AS token,
       |    unnest(generate_series(1, len($toksOf))) AS position)
       |ORDER BY position""".stripMargin
  }

  // ------------------------------------------------------ suggest body

  /** One parsed `suggest` entry. The desugar targets are the proven
    * suggester shapes (Search.scala): `completion` → top-k vocabulary
    * completions of a prefix by corpus frequency (with `fuzzy` → the
    * same-length-prefix edit-budget form), `term` → spell-correction
    * candidates within `max_edits` ranked (distance, frequency).
    * DOCUMENTED DIVERGENCE: ES's completion suggester reads a
    * completion-typed field's FST; this engine serves completions from
    * the analyzed term dictionary of `text` (the index's postings
    * vocabulary — same autocomplete loop, corpus-frequency ranked).
    * `phrase` refuses (its collate/smoothing surface is out of
    * scope). */
  private sealed trait Suggester { def size: Int }
  private final case class CompletionSugg(prefix: String, size: Int,
      fuzzy: Option[Int]) extends Suggester
  private final case class TermSugg(text: String, size: Int,
      maxEdits: Int) extends Suggester
  /** ES `phrase` suggester, the count-space subset (VERDICT r15 #5):
    * text = exactly TWO analyzed tokens (the bigram-LM grain the
    * engine's CCNet machinery already carries — TextAnalysis.lmScore);
    * candidates are the ≤1-corrected-token phrases (max_errors 1, the
    * ES default) with each correction drawn from the vocabulary within
    * `max_edits`; ranking = corpus BIGRAM FREQUENCY of the candidate
    * phrase (count-space Stupid Backoff without the backoff rung —
    * ES's smoothed-LM rescore reduced to its dominant term), ties by
    * phrase. Phrases the corpus never attests drop (no smoothing mass
    * to rank them by — documented divergence from ES's nonzero
    * smoothed scores). */
  private final case class PhraseSugg(w1: String, w2: String, size: Int,
      maxEdits: Int) extends Suggester

  private val SuggestToken = "[a-z0-9]+"

  /** Parse a `{"suggest": {...}}` body (the ONLY key — hits/aggs ride
    * their own endpoints). */
  private def parseSuggestBody(json: String): Seq[(String, Suggester)] = {
    val root = JsonMethods.parse(json) match {
      case o: JObject => o
      case other => fail(s"body must be a JSON object, got $other")
    }
    root.obj.collectFirst { case (k, _) if k != "suggest" => k }
      .foreach(k => fail(s"a suggest body carries only \"suggest\", " +
        s"got '$k' — hits are searchDslOf's job, aggs dslAggsOf's"))
    val entries = root \ "suggest" match {
      case JObject(es) if es.nonEmpty => es
      case _ => fail("suggest needs at least one named suggester")
    }
    if (entries.map(_._1).distinct.size != entries.size)
      fail("suggest names a suggester twice")
    entries.map { case (nm, body) =>
      val o = body match {
        case x: JObject => x
        case other => fail(s"suggester '$nm' expects an object, " +
          s"got $other")
      }
      def sizeOf(s: JValue): Int = s \ "size" match {
        case JNothing => 5 // the ES default
        case JInt(n) if n > 0 && n <= 100 => n.toInt
        case v => fail(s"suggester '$nm' size must be in [1, 100], " +
          s"got $v")
      }
      def fieldOf(s: JValue): Unit = s \ "field" match {
        case JString(Search.DefaultField) => ()
        case JString(f) => fail(s"suggester '$nm': field '$f' is " +
          s"unsupported — suggestions serve from the analyzed " +
          s"'${Search.DefaultField}' term dictionary")
        case _ => fail(s"suggester '$nm' needs a \"field\"")
      }
      (o \ "completion", o \ "term", o \ "phrase") match {
        case (JNothing, JNothing, p: JObject) =>
          p.obj.collectFirst {
            case (k, _) if !Set("field", "size", "max_edits",
              "max_errors").contains(k) => k
          }.foreach(k => fail(s"suggester '$nm' phrase has " +
            s"unsupported option '$k' — supported: field, max_edits, " +
            "max_errors, size (collate/smoothing are scorer-internal; " +
            "the count-space bigram model is the documented stand-in)"))
          fieldOf(p)
          val txt = o \ "text" match {
            case JString(x) if x.matches(s"$SuggestToken $SuggestToken") =>
              x
            case JString(x) => fail(s"suggester '$nm' phrase text " +
              s"must be exactly two analyzed tokens (the bigram-LM " +
              s"grain), got '$x'")
            case _ => fail(s"suggester '$nm' phrase needs a \"text\"")
          }
          p \ "max_errors" match {
            case JNothing => ()
            case JInt(x) if x == 1 => ()
            case JDouble(1.0) => ()
            case v => fail(s"suggester '$nm' max_errors must be 1 " +
              s"(at most ONE corrected token — k-error phrases need " +
              s"the candidate product space), got $v")
          }
          val me = p \ "max_edits" match {
            case JNothing => 1 // conservative default (ES gram default)
            case JInt(d) if d == 1 || d == 2 => d.toInt
            case v => fail(s"suggester '$nm' max_edits must be 1 or 2 " +
              s"(the ES bound), got $v")
          }
          val Array(w1, w2) = txt.split(" ")
          (nm, PhraseSugg(w1, w2, sizeOf(p), me))
        case (c: JObject, JNothing, JNothing) =>
          c.obj.collectFirst {
            case (k, _) if !Set("field", "size", "fuzzy").contains(k) => k
          }.foreach(k => fail(s"suggester '$nm' completion has " +
            s"unsupported option '$k' — supported: field, fuzzy, size"))
          fieldOf(c)
          val pfx = o \ "prefix" match {
            case JString(p) if p.matches(SuggestToken) => p
            case JString(p) => fail(s"suggester '$nm' prefix must be " +
              s"one analyzed token ([a-z0-9]+), got '$p'")
            case _ => fail(s"suggester '$nm' completion needs a " +
              "\"prefix\"")
          }
          val fz = c \ "fuzzy" match {
            case JNothing => None
            case f: JObject =>
              f.obj.collectFirst { case (k, _) if k != "fuzziness" => k }
                .foreach(k => fail(s"suggester '$nm' fuzzy has " +
                  s"unsupported option '$k' — supported: fuzziness"))
              f \ "fuzziness" match {
                case JInt(d) if d == 1 || d == 2 => Some(d.toInt)
                case JNothing => Some(1) // a sane deterministic default
                case v => fail(s"suggester '$nm' fuzziness must be 1 " +
                  s"or 2 (AUTO is length-dependent ES internals), got $v")
              }
            case other => fail(s"suggester '$nm' fuzzy expects an " +
              s"object, got $other")
          }
          (nm, CompletionSugg(pfx, sizeOf(c), fz))
        case (JNothing, t: JObject, JNothing) =>
          t.obj.collectFirst {
            case (k, _) if !Set("field", "size", "max_edits")
              .contains(k) => k
          }.foreach(k => fail(s"suggester '$nm' term has unsupported " +
            s"option '$k' — supported: field, max_edits, size"))
          fieldOf(t)
          val txt = o \ "text" match {
            case JString(x) if x.matches(SuggestToken) => x
            case JString(x) => fail(s"suggester '$nm' text must be " +
              s"one analyzed token ([a-z0-9]+), got '$x'")
            case _ => fail(s"suggester '$nm' term needs a \"text\"")
          }
          val me = t \ "max_edits" match {
            case JNothing => 2 // the ES default
            case JInt(d) if d == 1 || d == 2 => d.toInt
            case v => fail(s"suggester '$nm' max_edits must be 1 or 2 " +
              s"(the ES bound), got $v")
          }
          (nm, TermSugg(txt, sizeOf(t), me))
        case (JNothing, JNothing, JNothing) =>
          fail(s"suggester '$nm' needs completion, term, or phrase")
        case _ =>
          fail(s"suggester '$nm' takes ONE of completion/term/phrase")
      }
    }
  }

  /** A [[PhraseSugg]]'s candidate phrases over the vocabulary: the
    * ≤1-corrected-token forms (c1, w2) ∪ (w1, c2), each correction
    * within max_edits (distance 0 keeps the original token, so the
    * input phrase itself is a candidate). Vocab-grain — tiny. */
  private def phraseCandidates(vocab: DataFrame,
      s: PhraseSugg): DataFrame = {
    import vocab.sparkSession.implicits._
    val c1 = vocab.filter(levenshtein($"token", lit(s.w1)) <= s.maxEdits)
      .select($"token".as("w1"), lit(s.w2).as("w2"))
    val c2 = vocab.filter(levenshtein($"token", lit(s.w2)) <= s.maxEdits)
      .select(lit(s.w1).as("w1"), $"token".as("w2"))
    c1.unionByName(c2).distinct()
  }

  /** Corpus adjacent-token pairs — the [[TextAnalysis.bigramRows]]
    * explode shape minus the hashing (the candidate set joining it is
    * tiny and raw-token keyed). */
  private def bigramPairs(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(TextAnalysis.toks($"text").as("t"))
      .filter(size($"t") >= 2)
      .select($"t", explode(sequence(lit(1), size($"t") - 1)).as("i"))
      .select(element_at($"t", $"i").as("w1"),
        element_at($"t", $"i" + 1).as("w2"))
  }

  /** Shared suggester evaluation over a (token, freq) vocabulary —
    * vocab-grain work only (term-dictionary cost regardless of corpus
    * size): per suggester a filter + top-k, unioned as
    * (sugg, rk, token, freq). Phrase suggesters rank by corpus bigram
    * frequency, supplied by `phraseFreq` (scan: one corpus bigram pass
    * semi-joined to the broadcast candidates; served: positional
    * postings adjacency — each path's own corpus-shaped source). */
  private def suggestFrames(vocab: DataFrame,
      suggs: Seq[(String, Suggester)],
      phraseFreq: PhraseSugg => DataFrame): DataFrame = {
    import vocab.sparkSession.implicits._
    suggs.map {
      case (nm, s: PhraseSugg) =>
        val ord = Seq($"freq".desc, $"token".asc)
        val top = phraseFreq(s)
          .select(concat($"w1", lit(" "), $"w2").as("token"), $"freq")
          .orderBy(ord: _*).limit(s.size)
          .withColumn("rk", row_number().over(Window.orderBy(ord: _*)))
        top.select(lit(nm).as("sugg"), $"rk", $"token", $"freq")
      case (nm, s) =>
      val (filtered, ord) = s match {
        case CompletionSugg(pfx, _, None) =>
          (vocab.filter($"token".startsWith(pfx)),
            Seq($"freq".desc, $"token".asc))
        case CompletionSugg(pfx, _, Some(d)) =>
          // the completion fuzzy contract (suggestFuzzy): the
          // same-length prefix of the candidate sits within d edits
          (vocab.filter(levenshtein(
            substring($"token", 1, pfx.length), lit(pfx)) <= d),
            Seq($"freq".desc, $"token".asc))
        case TermSugg(txt, _, d) =>
          // spell correction: distance first (ES's score), then
          // frequency; the input term itself never suggests
          (vocab.filter($"token" =!= txt &&
            levenshtein($"token", lit(txt)) <= d)
            .withColumn("s_dist", levenshtein($"token", lit(txt))),
            Seq(col("s_dist").asc, $"freq".desc, $"token".asc))
        case _: PhraseSugg =>
          fail("unreachable: phrase handled above") // outer case
      }
      val top = filtered.orderBy(ord: _*).limit(s.size)
        .withColumn("rk", row_number().over(Window.orderBy(ord: _*)))
      top.select(lit(nm).as("sugg"), $"rk", $"token", $"freq")
    }.reduce(_ unionByName _).orderBy($"sugg", $"rk")
  }

  /** The `suggest` body over a documents frame (the SCAN path): ONE
    * token aggregate builds the vocabulary, every suggester reads
    * it. */
  def dslSuggestOf(docs: DataFrame, json: String): DataFrame = {
    import docs.sparkSession.implicits._
    val suggs = parseSuggestBody(json)
    // every suggester branch and every phrase-candidate derivation
    // reads the vocabulary
    val vocab = share(docs
      .select(explode(TextAnalysis.toks($"text")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("freq")))
    // phrase freq, scan shape: one corpus bigram pass joined to the
    // BROADCAST candidate pairs (tiny), counted per pair — the corpus
    // never shuffles, only the matched pairs aggregate
    suggestFrames(vocab, suggs, s =>
      bigramPairs(docs)
        .join(broadcast(phraseCandidates(vocab, s)), Seq("w1", "w2"))
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("freq")))
  }

  /** The `suggest` body SERVED: the vocabulary is the index's term
    * dictionary (postings grouped to vocab grain, tf summed,
    * tombstones excluded — the suggestWithIndex shape); corpus text
    * untouched. */
  def dslSuggestFromIndex(spark: SparkSession, indexDir: String,
      json: String): DataFrame = {
    import spark.implicits._
    val suggs = parseSuggestBody(json)
    val root = Search.requireIndex(spark, indexDir)
    val live = Search.indexTable(spark, Seq(root), "postings")
      .filter($"field" === Search.DefaultField)
      .join(Search.indexTable(spark, Seq(root), "tombstones"), Seq("doc_id"),
        "left_anti")
    // the dslSuggestOf vocabulary, served form
    val vocab = share(live.select($"doc_id", $"tok", $"tf")
      .groupBy($"tok".as("token")).agg(sum($"tf").as("freq")))
    // phrase freq, served shape: candidate-pair adjacency counted from
    // the POSITIONAL postings (y = x + 1), summed across docs — the
    // candidate semi-join prunes the postings to ≤|cands| terms before
    // any position work; corpus text untouched
    suggestFrames(vocab, suggs, s => {
      val cand = broadcast(phraseCandidates(vocab, s))
      val p1 = live.select($"tok".as("w1"), $"doc_id",
        $"positions".as("ps1"))
        .join(cand.select($"w1").distinct(), Seq("w1"), "left_semi")
      val p2 = live.select($"tok".as("w2"), $"doc_id",
        $"positions".as("ps2"))
        .join(cand.select($"w2").distinct(), Seq("w2"), "left_semi")
      cand.join(p1, Seq("w1")).join(p2, Seq("w2", "doc_id"))
        .select($"w1", $"w2", size(filter($"ps1", x =>
          exists($"ps2", y => y === x + 1))).as("c"))
        .groupBy($"w1", $"w2").agg(sum($"c").as("freq"))
        .filter($"freq" > 0)
    })
  }

  /** Oracle SQL of a `suggest` body — the same vocabulary CTE as the
    * standalone suggesters, one ROW_NUMBER page per suggester. */
  def dslSuggestSqlOver(json: String, rel: String): String = {
    val suggs = parseSuggestBody(json)
    val branches = suggs.map {
      case (nm, s: PhraseSugg) =>
        // candidates = ≤1-corrected-token phrases; rank = corpus
        // bigram frequency (the bg CTE below)
        val cands =
          s"""SELECT token AS w1, '${quoteSql(s.w2)}' AS w2 FROM vocab
             |        WHERE levenshtein(token, '${quoteSql(s.w1)}') <=
             |          ${s.maxEdits}
             |        UNION
             |        SELECT '${quoteSql(s.w1)}' AS w1, token AS w2
             |        FROM vocab
             |        WHERE levenshtein(token, '${quoteSql(s.w2)}') <=
             |          ${s.maxEdits}""".stripMargin
        s"""(SELECT '${quoteSql(nm)}' AS sugg,
           |  ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rk,
           |  token, freq
           |FROM (SELECT bg.w1 || ' ' || bg.w2 AS token,
           |        COUNT(*) AS freq
           |      FROM bg JOIN ($cands) AS cd USING (w1, w2)
           |      GROUP BY bg.w1, bg.w2
           |      ORDER BY freq DESC, token LIMIT ${s.size}) AS s0)"""
          .stripMargin
      case (nm, s) =>
      val (cond, ord) = s match {
        case CompletionSugg(pfx, _, None) =>
          (s"token LIKE '$pfx%'", "freq DESC, token")
        case CompletionSugg(pfx, _, Some(d)) =>
          (s"levenshtein(token[1:${pfx.length}], '$pfx') <= $d",
            "freq DESC, token")
        case TermSugg(txt, _, d) =>
          (s"token <> '$txt' AND levenshtein(token, '$txt') <= $d",
            s"levenshtein(token, '$txt') ASC, freq DESC, token")
        case _: PhraseSugg => fail("unreachable") // handled above
      }
      s"""(SELECT '${quoteSql(nm)}' AS sugg,
         |  ROW_NUMBER() OVER (ORDER BY $ord) AS rk, token, freq
         |FROM (SELECT token, freq FROM vocab WHERE $cond
         |      ORDER BY $ord LIMIT ${s.size}) AS s0)""".stripMargin
    }
    // the bigram CTE exists only when a phrase suggester needs it
    val bgCte =
      if (!suggs.exists(_._2.isInstanceOf[PhraseSugg])) ""
      else s""",
         |bg AS (
         |  SELECT a[s] AS w1, a[s + 1] AS w2
         |  FROM (SELECT a, unnest(range(1, len(a))) AS s
         |        FROM (SELECT $ToksExpr AS a FROM $rel) AS t0) AS t1)"""
        .stripMargin
    s"""WITH vocab AS (
       |  SELECT token, COUNT(*) AS freq
       |  FROM (SELECT UNNEST($ToksExpr) AS token FROM $rel)
       |  GROUP BY token)$bgCte
       |SELECT * FROM (
       |${branches.mkString("\nUNION ALL\n")}
       |) AS sg ORDER BY sugg, rk""".stripMargin
  }

  /** The ES `_termvectors` endpoint (`term_statistics: true`): one
    * document's term vector — (term, tf) plus corpus statistics (df,
    * ttf) for exactly that document's terms. One pruned doc probe +
    * one token-grain aggregate SEMI-JOINED to the doc's own ≤|doc|
    * terms, so corpus stats stay df-bounded at any scale. The probe
    * is EAGER (≤|doc| distinct-term rows, one document's worth — the
    * terms-lookup GET stance): a dangling `doc_id` fails loudly here
    * instead of returning an empty frame (ES reports found:false; an
    * engine that silently returns nothing for a typo'd id is a trap). */
  def dslTermVectorsOf(docs: DataFrame, docId: Long): DataFrame = {
    import docs.sparkSession.implicits._
    val probed = docs.filter($"doc_id" === docId)
      .select(explode(TextAnalysis.toks($"text")).as("term"))
      .groupBy($"term").agg(count(lit(1)).as("tf"))
      .as[(String, Long)].collect()
    if (probed.isEmpty)
      fail(s"_termvectors: doc_id $docId not found (or has no tokens)")
    val docToks = probed.toSeq.toDF("term", "tf")
    val corpus = docs
      .select($"doc_id", explode(TextAnalysis.toks($"text")).as("term"))
      .join(broadcast(docToks.select($"term")), Seq("term"), "left_semi")
      .groupBy($"term")
      .agg(count_distinct($"doc_id").as("df"), count(lit(1)).as("ttf"))
    docToks.join(corpus, Seq("term"))
      .select($"term", $"tf", $"df", $"ttf").orderBy($"term")
  }

  def dslTermVectorsSqlOver(docId: Long, rel: String): String =
    s"""WITH dt AS (SELECT unnest($ToksExpr) AS term FROM $rel
       |           WHERE doc_id = $docId),
       |dv AS (SELECT term, COUNT(*) AS tf FROM dt GROUP BY term),
       |ct AS (SELECT doc_id, unnest($ToksExpr) AS term FROM $rel),
       |cs AS (SELECT term, COUNT(DISTINCT doc_id) AS df,
       |         COUNT(*) AS ttf
       |       FROM ct WHERE term IN (SELECT term FROM dv)
       |       GROUP BY term)
       |SELECT dv.term, dv.tf, cs.df, cs.ttf
       |FROM dv JOIN cs USING (term) ORDER BY term""".stripMargin

  /** One `_rank_eval` request: (id, full search body, doc_id →
    * rating). */
  final case class RankEvalReq(id: String, body: String,
      ratings: Seq[(Long, Int)])

  /** Per-rank NDCG discount 1/log2(rk+1) — computed ONCE in Scala and
    * emitted as the same literal to both engines, so no libm
    * divergence can split the hash. */
  private def ndcgDiscounts(k: Int): Seq[Double] =
    (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  /** Fixed-point DCG contribution scale: gain·discount rounds to
    * nanos and sums as INTEGERS — summation ORDER can then never
    * change the result (double + is not associative; a k-row sum in a
    * different order is a hash mismatch). */
  private val DcgScale = 1e9

  /** The ES `_rank_eval` endpoint: offline ranking quality over rated
    * requests — precision@k (relevant / retrieved), recall@k
    * (relevant retrieved / all relevant), MRR (1 / first relevant
    * rank), and NDCG@k, one row per (request, metric). Each request's
    * page is the ordinary DSL top-k; the metrics are arithmetic over
    * ≤k (rank, rating) pairs — bounded work regardless of corpus
    * size. DCG sums in fixed point (see [[DcgScale]]); IDCG is a
    * parse-time constant of the ratings literal. */
  def dslRankEvalOf(docs: DataFrame, reqs: Seq[RankEvalReq]): DataFrame = {
    import docs.sparkSession.implicits._
    if (reqs.isEmpty) fail("_rank_eval: empty requests")
    if (reqs.map(_.id).distinct.size != reqs.size)
      fail("_rank_eval names a request twice")
    val frames = reqs.map { r =>
      val (k, idcg, totalRel) = rankEvalConsts(r)
      val page = searchDslOf(docs, r.body).select($"rk", $"doc_id")
      val rated = r.ratings.map { case (d, rt) =>
        (d, rt, math.pow(2.0, rt.toDouble) - 1.0)
      }.toDF("doc_id", "rating", "gain")
      val disc = (1 to k).zip(ndcgDiscounts(k)).foldLeft(
        lit(0.0)) { case (acc, (rk, d)) =>
        when($"rk" === rk, lit(d)).otherwise(acc)
      }
      val j = page.join(broadcast(rated), Seq("doc_id"), "left")
        .select($"rk", coalesce($"rating", lit(0)).as("rating"),
          coalesce($"gain", lit(0.0)).as("gain"))
      val agg = j.agg(
        count(lit(1)).as("n"),
        sum(when($"rating" > 0, 1).otherwise(0)).as("rel"),
        min(when($"rating" > 0, $"rk")).as("minrk"),
        sum(round($"gain" * disc * lit(DcgScale)).cast("long"))
          .as("dcgm"))
      // all four metrics from ONE evaluation of the 1-row aggregate —
      // a select per metric would re-execute the page's corpus scan
      // four times (ExplainAudit caught scans=16 for 2 requests)
      agg.select(lit(r.id).as("req"), explode(map(
        lit("precision"), $"rel".cast("double") / $"n".cast("double"),
        lit("recall"), $"rel".cast("double") / lit(totalRel.toDouble),
        lit("mrr"), when($"minrk".isNull, lit(0.0))
          .otherwise(lit(1.0) / $"minrk".cast("double")),
        lit("ndcg"),
        ($"dcgm".cast("double") / lit(DcgScale)) / lit(idcg)))
        .as(Seq("metric", "value")))
    }
    frames.reduce(_ unionByName _).orderBy($"req", $"metric")
  }

  /** (k, idcg, total relevant) of a request — parse-time constants
    * shared by both compilers. */
  private def rankEvalConsts(r: RankEvalReq): (Int, Double, Int) = {
    if (r.ratings.isEmpty) fail(s"_rank_eval '${r.id}': empty ratings")
    if (r.ratings.map(_._1).distinct.size != r.ratings.size)
      fail(s"_rank_eval '${r.id}': rates a doc twice")
    r.ratings.foreach { case (_, rt) =>
      if (rt < 0 || rt > 10)
        fail(s"_rank_eval '${r.id}': ratings must be in [0, 10]")
    }
    val k = parseBody(r.body).size
    val totalRel = r.ratings.count(_._2 > 0)
    if (totalRel == 0)
      fail(s"_rank_eval '${r.id}': no relevant (rating > 0) docs — " +
        "recall/NDCG would divide by zero")
    // IDCG: the ideal page — all rated docs by rating desc, top k,
    // summed with the SAME fixed-point rule as the engine-side DCG
    val ideal = r.ratings.map(_._2).sortBy(-_).take(k)
    val idcg = ideal.zip(ndcgDiscounts(k)).map { case (rt, d) =>
      math.round((math.pow(2.0, rt.toDouble) - 1.0) * d * DcgScale)
    }.sum / DcgScale
    (k, idcg, totalRel)
  }

  def dslRankEvalSqlOver(reqs: Seq[RankEvalReq], rel: String): String = {
    val branches = reqs.flatMap { r =>
      val (k, idcg, totalRel) = rankEvalConsts(r)
      val pageSql = dslSqlOver(r.body, rel)
      val vals = r.ratings.map { case (d, rt) =>
        val g = math.pow(2.0, rt.toDouble) - 1.0
        s"($d, $rt, $g)"
      }.mkString(", ")
      val discCase = (1 to k).zip(ndcgDiscounts(k)).map { case (rk, d) =>
        s"WHEN $rk THEN $d"
      }.mkString("CASE j.rk ", " ", " ELSE 0.0 END")
      val aggSql =
        s"""(SELECT COUNT(*) AS n,
           |  SUM(CASE WHEN j.rating > 0 THEN 1 ELSE 0 END) AS rel,
           |  MIN(CASE WHEN j.rating > 0 THEN j.rk END) AS minrk,
           |  SUM(CAST(ROUND(j.gain * ($discCase) * $DcgScale)
           |    AS BIGINT)) AS dcgm
           |FROM (
           |  SELECT pg.rk, COALESCE(r.rating, 0) AS rating,
           |    COALESCE(r.gain, 0.0) AS gain
           |  FROM (
           |$pageSql
           |  ) AS pg LEFT JOIN (VALUES $vals) AS r(doc_id, rating, gain)
           |    ON pg.doc_id = r.doc_id) AS j) AS a""".stripMargin
      val id = s"'${quoteSql(r.id)}'"
      Seq(
        s"SELECT $id AS req, 'precision' AS metric,\n  " +
          s"CAST(a.rel AS DOUBLE) / CAST(a.n AS DOUBLE) AS value\n" +
          s"FROM $aggSql",
        s"SELECT $id AS req, 'recall' AS metric,\n  " +
          s"CAST(a.rel AS DOUBLE) / CAST($totalRel AS DOUBLE) AS value\n" +
          s"FROM $aggSql",
        s"SELECT $id AS req, 'mrr' AS metric,\n  " +
          "CASE WHEN a.minrk IS NULL THEN 0.0 ELSE 1.0 / " +
          s"CAST(a.minrk AS DOUBLE) END AS value\nFROM $aggSql",
        s"SELECT $id AS req, 'ndcg' AS metric,\n  " +
          s"(CAST(a.dcgm AS DOUBLE) / $DcgScale) / " +
          s"CAST($idcg AS DOUBLE) AS value\nFROM $aggSql")
    }
    s"""SELECT * FROM (
       |${branches.mkString("\nUNION ALL\n")}
       |) AS u ORDER BY req, metric""".stripMargin
  }

  /** The corpus's one analyzed text field — [[Search.DefaultField]]. */
  val DslTextField: String = Search.DefaultField

  // ------------------------------------------------- oracle generator

  private def quoteSql(s: String) = s.replace("'", "''")

  private val ToksExpr =
    "string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')"

  /** The f CTE both generated-SQL forms share: doc_id + referenced
    * fields (+ token-derived feature columns only when the query has
    * match/phrase clauses — a pure-filter query's oracle never
    * tokenizes either). */
  private def fCteSql(p: Plan, extra: Seq[String], rel: String): String = {
    val fields = (p.exact ++ extra).distinct.filter(_ != "doc_id")
    if (!p.needsText)
      s"f AS (SELECT ${("doc_id" +: fields).mkString(", ")} FROM $rel)"
    else {
      val headUsed = p.usedFields.contains(Search.HeadField)
      val src =
        if (headUsed)
          s"(SELECT *, toks[1:${Search.HeadLen}] AS htoks FROM " +
            s"(SELECT *, $ToksExpr AS toks FROM $rel))"
        else s"(SELECT *, $ToksExpr AS toks FROM $rel)"
      def arr(f: String) = if (f == Search.DefaultField) "toks" else "htoks"
      val dlDefs = Seq("len(toks) AS dl") ++
        (if (p.scoredFields.contains(Search.HeadField))
          Seq(s"least(len(toks), ${Search.HeadLen}) AS hdl")
        else Seq.empty)
      val tfDefs = p.tkeys.map { case k @ (f, t) =>
        s"len(list_filter(${arr(f)}, x -> x = '${quoteSql(t)}')) " +
          s"AS qtf${p.tfIdx(k)}"
      }
      val pfDefs = p.pkeys.map { case k @ (f, ws, sl, pfx) =>
        val a = arr(f)
        // the last word of a prefix phrase matches by starts_with
        def wcond(ref: String, j: Int): String =
          if (pfx && j == ws.size - 1)
            s"starts_with($ref, '${quoteSql(ws(j))}')"
          else s"$ref = '${quoteSql(ws(j))}'"
        if (sl == 0) {
          val conds = ws.indices.map(j => wcond(s"$a[i + $j]", j))
            .mkString(" AND ")
          s"len(list_filter(range(1, len($a) - ${ws.length - 2}), " +
            s"i -> $conds)) AS qpf${p.pfIdx(k)}"
        } else {
          // [[slopFreq]]'s position arithmetic, emitted in lockstep
          def pos(j: Int) = s"list_filter(range(1, len($a) + 1), " +
            s"i -> ${wcond(s"$a[i]", j)})"
          if (ws.size == 1) s"len(${pos(0)}) AS qpf${p.pfIdx(k)}"
          else {
            val conds = (1 until ws.size).map { j =>
              s"len(list_filter(${pos(j)}, p -> p >= x + $j AND " +
                s"p <= x + ${j + sl})) > 0"
            }.mkString(" AND ")
            s"len(list_filter(${pos(0)}, x -> $conds)) " +
              s"AS qpf${p.pfIdx(k)}"
          }
        }
      }
      val zfDefs = p.zkeys.map { case k @ (f, t, d) =>
        s"len(list_filter(${arr(f)}, x -> " +
          s"levenshtein(x, '${quoteSql(t)}') <= $d)) AS qzf${p.zfIdx(k)}"
      }
      val rfDefs = p.rkeys.map { case k @ (f, pat) =>
        s"len(list_filter(${arr(f)}, x -> " +
          s"regexp_full_match(x, '${quoteSql(pat)}'))) AS qrf${p.rfIdx(k)}"
      }
      // span occurrence counts — scanF's position lambdas in lockstep
      // (range(1, n+1) ≡ sequence(1, n)). The position arrays HOIST
      // into the source subquery exactly like the Spark side: a
      // list_filter(range …) inside a lambda re-derives the array per
      // outer element; a column reference computes once per row
      val sppKeys: Seq[(String, String)] = p.skeys.flatMap(k =>
        spanToksOf(k).map((spanFieldOf(k), _))).distinct
      val sppIdx = sppKeys.zipWithIndex.toMap
      val srcSp =
        if (sppKeys.isEmpty) src
        else {
          val defs = sppKeys.map { case kk @ (f, t) =>
            s"list_filter(range(1, len(${arr(f)}) + 1), " +
              s"i -> ${arr(f)}[i] = '${quoteSql(t)}') AS spp${sppIdx(kk)}"
          }.mkString(",\n      ")
          s"(SELECT *,\n      $defs\n    FROM $src)"
        }
      def posOf(f: String, t: String): String = s"spp${sppIdx((f, t))}"
      val spDefs = p.skeys.map { k =>
        val f = spanFieldOf(k)
        val expr = k match {
          case SpanNotQ(_, inc, exc, pre, post) =>
            s"len(list_filter(${posOf(f, inc)}, x -> " +
              s"len(list_filter(${posOf(f, exc)}, " +
              s"q -> q >= x - $pre AND q <= x + $post)) = 0))"
          case SpanFirstQ(_, t, end) =>
            s"len(list_filter(${posOf(f, t)}, x -> x <= $end))"
          case SpanUnordQ(_, t1, t2, sl) =>
            s"len(list_filter(${posOf(f, t1)}, x -> " +
              s"len(list_filter(${posOf(f, t2)}, " +
              s"q -> abs(q - x) <= ${sl + 1})) > 0))"
          case SpanOrderedQ(_, ts) =>
            // orderedChainCount in lockstep: one nested exists per
            // further term, fresh vars v0, v1, …
            def chain(rest: Seq[String], prev: String, d: Int): String =
              rest match {
                case h +: t if t.isEmpty =>
                  s"len(list_filter(${posOf(f, h)}, " +
                    s"v$d -> v$d > $prev)) > 0"
                case h +: t =>
                  s"len(list_filter(${posOf(f, h)}, v$d -> " +
                    s"v$d > $prev AND ${chain(t, s"v$d", d + 1)})) > 0"
                case _ => "TRUE" // unreachable: ≥ 2 terms by parse
              }
            s"len(list_filter(${posOf(f, ts.head)}, v0 -> " +
              s"${chain(ts.tail, "v0", 1)}))"
          case SpanWindowQ(_, ts, g) =>
            // windowAnchorCount in lockstep: anchor disjunction as a
            // sum of per-term anchor counts
            val w = g + ts.size - 1
            ts.indices.map { i =>
              val others = ts.indices.filter(_ != i).map { j =>
                s"len(list_filter(${posOf(f, ts(j))}, " +
                  s"q$j -> q$j >= s0 AND q$j <= s0 + $w)) > 0"
              }.mkString(" AND ")
              s"len(list_filter(${posOf(f, ts(i))}, s0 -> $others))"
            }.mkString("(", " + ", ")")
          case SpanChainQ(_, ts, g) =>
            // chainWindowCount in lockstep: the ordered chain with the
            // anchor-bounded last element (a0 is the anchor var)
            val w = g + ts.size - 1
            def chainB(rest: Seq[String], prev: String, d: Int): String =
              rest match {
                case h +: t if t.isEmpty =>
                  s"len(list_filter(${posOf(f, h)}, " +
                    s"v$d -> v$d > $prev AND v$d <= a0 + $w)) > 0"
                case h +: t =>
                  s"len(list_filter(${posOf(f, h)}, v$d -> " +
                    s"v$d > $prev AND v$d <= a0 + $w AND " +
                    s"${chainB(t, s"v$d", d + 1)})) > 0"
                case _ => "TRUE" // unreachable: ≥ 2 terms by parse
              }
            s"len(list_filter(${posOf(f, ts.head)}, a0 -> " +
              s"${chainB(ts.tail, "a0", 1)}))"
          case SpanWithinQ(_, lt, t1, t2, sl, ord) =>
            // scanF's enclosure lambdas in lockstep
            val gate =
              if (ord) s"y0 > x0 AND y0 - x0 <= ${sl + 1}"
              else s"abs(y0 - x0) <= ${sl + 1}"
            s"len(list_filter(${posOf(f, lt)}, q0 -> " +
              s"len(list_filter(${posOf(f, t1)}, x0 -> " +
              s"len(list_filter(${posOf(f, t2)}, y0 -> $gate AND " +
              "q0 >= least(x0, y0) AND q0 <= greatest(x0, y0))) > 0)) " +
              "> 0))"
          case other => fail(s"not a span key: $other") // unreachable
        }
        s"$expr AS qsp${p.sfIdx(k)}"
      }
      val cols = (Seq("doc_id") ++ fields ++ dlDefs ++ tfDefs ++ pfDefs ++
        zfDefs ++ rfDefs ++ spDefs).mkString(",\n    ")
      s"f AS (\n  SELECT $cols\n  FROM $srcSp)"
    }
  }

  private def sCteSql(p: Plan): String = {
    val cols = Seq("COUNT(*) AS n") ++
      (if (p.scoredFields.contains(Search.DefaultField))
        Seq("SUM(dl) AS sumdl") else Seq.empty) ++
      (if (p.scoredFields.contains(Search.HeadField))
        Seq("SUM(hdl) AS hsumdl") else Seq.empty) ++
      p.stkeys.map(k => s"COUNT(*) FILTER (WHERE qtf${p.tfIdx(k)} > 0) " +
        s"AS qdf${p.tfIdx(k)}") ++
      p.spkeys.map(k => s"COUNT(*) FILTER (WHERE qpf${p.pfIdx(k)} > 0) " +
        s"AS qpd${p.pfIdx(k)}") ++
      p.szkeys.map(k => s"COUNT(*) FILTER (WHERE qzf${p.zfIdx(k)} > 0) " +
        s"AS qzd${p.zfIdx(k)}") ++
      p.skts.map { case kt @ (fld, v) =>
        s"COUNT(*) FILTER (WHERE $fld = ${v.sql}) AS qkd${p.ktIdx(kt)}"
      } ++
      p.ckeys.map { case k @ (fs, t) =>
        val cond = fs.map(f => s"qtf${p.tfIdx((f, t))} > 0")
          .mkString(" OR ")
        s"COUNT(*) FILTER (WHERE $cond) AS qcd${p.cfIdx(k)}"
      }
    s"s AS (SELECT ${cols.mkString(", ")} FROM f)"
  }

  /** DuckDB SQL for the same DSL query — generated from the same AST
    * by the same recursion, so any supported query is oracle-checked,
    * not just the registered ones. */
  def dslSql(json: String): String = dslSqlOver(json, "documents")

  def dslSqlOver(json: String, rel0: String): String = {
    val b = parseBody(json)
    if (b.aggs.nonEmpty)
      fail("body has \"aggs\" — use dslAggsSqlOver")
    val rel = runtimeRel(b, rel0)
    val p = planOfBody(b)
    val scoreSql =
      if (p.needsStats) p.c.score.map(_._2).getOrElse("0.0") else "0.0"
    val (nMatched, tfTotal) = provSql(p)
    val dlSql = if (p.needsText) "f.dl" else "CAST(0 AS BIGINT)"
    val reserved = Seq("doc_id", "dl", "n_matched", "tf_total", "score")
    val extraCols = (p.sortFields ++ p.source.getOrElse(Seq.empty) ++
      p.collapse.toSeq).distinct.filterNot(reserved.contains)
    val ctes = Seq(fCteSql(p, Seq.empty, rel)) ++
      (if (p.needsStats) Seq(sCteSql(p)) else Seq.empty)
    val from = if (p.needsStats) "FROM f CROSS JOIN s" else "FROM f"
    val ordSql =
      if (p.sortKeys.isEmpty) "score DESC, doc_id"
      else p.sortKeys.map { case (fld, asc) =>
        val c = if (fld == "_score") "score" else fld
        s"$c ${if (asc) "ASC" else "DESC"} NULLS LAST"
      }.mkString(", ") + ", doc_id"
    val sfNames = p.sfieldsC.map(_._1) ++ p.innerHits.map(_._1)
    val outSql = (p.source match {
      case None => "doc_id, n_matched, tf_total, dl"
      case Some(fs) => ("doc_id" +: fs).mkString(", ")
    }) + sfNames.map(n2 => s", $n2").mkString +
      (if (p.trackTotal) ", total_hits" else "")
    val basePredSql = p.postC
      .map(pc => s"(${p.c.predSql} AND ${pc.predSql})")
      .getOrElse(p.c.predSql)
    val gateSql = p.after.map(v =>
      s"($basePredSql AND ${afterPredOf(p, v)._2})").getOrElse(basePredSql)
    val rscSql = p.rsC.map { rc =>
      rc.score match {
        case Some((_, sql)) =>
          s"CASE WHEN ${rc.predSql} THEN $sql ELSE 0.0 END"
        case None => "0.0"
      }
    }
    val scSql =
      s"""sc AS (
         |  SELECT f.doc_id, $dlSql AS dl, $nMatched AS n_matched,
         |    $tfTotal AS tf_total,
         |    $scoreSql AS score${
           rscSql.map(r => s",\n    $r AS rsc").getOrElse("")}${
           extraCols.map(c => s",\n    f.$c AS $c").mkString}${
           p.sfieldsC.map { case (n2, e) =>
             s",\n    ${pexprEmit(e, _ => fail("unbound param"))._2} AS $n2"
           }.mkString}${
           p.innerHits.map { case (n2, path, nq) =>
             s",\n    ${innerHitsEmit(path, nq)._2} AS $n2"
           }.mkString}
         |  $from
         |  WHERE $gateSql)""".stripMargin
    // min_score: a floor over the computed score, mirrored from
    // rankTail's post-gate filter
    val msSql = p.minScore.map(v =>
      s"""ms AS (SELECT * FROM sc WHERE score >=
         |  CAST(${v.underlying.toPlainString} AS DOUBLE))""".stripMargin)
    val scRel = if (p.minScore.isEmpty) "sc" else "ms"
    // track_total_hits: ONE count over the pre-page hit set, riding
    // every row (rankTail's broadcast 1-row aggregate)
    val ttSql =
      if (!p.trackTotal) None
      else Some(s"tt AS (SELECT COUNT(*) AS total_hits FROM $scRel)")
    // collapse: the per-group top-1 window, mirrored from rankTail
    val clSql = p.collapse.map(cf =>
      s"""cl AS (
         |  SELECT * EXCLUDE (g_rn) FROM (
         |    SELECT $scRel.*, ROW_NUMBER() OVER (PARTITION BY $cf
         |      ORDER BY $ordSql) AS g_rn FROM $scRel) AS g
         |  WHERE g_rn = 1)""".stripMargin)
    val hitsRel = if (p.collapse.isEmpty) scRel else "cl"
    // rescore: stage the original rank, split window/tail, final
    // order = re-sorted window then the tail in original order —
    // [[rankTail]]'s staged sort, key for key
    val rsSql = p.rescore.map { r =>
      s"""rs AS (
         |  SELECT $hitsRel.*, ROW_NUMBER() OVER (ORDER BY $ordSql)
         |    AS ork FROM $hitsRel),
         |rw AS (
         |  SELECT *, CASE WHEN ork <= ${r.window} THEN 0 ELSE 1 END
         |    AS grp,
         |  (CAST(${r.qw.underlying.toPlainString} AS DOUBLE) * score +
         |   CAST(${r.rw.underlying.toPlainString} AS DOUBLE) * rsc)
         |    AS cmb FROM rs)""".stripMargin
    }
    val finalRel = (if (p.rescore.isEmpty) hitsRel else "rw") +
      (if (p.trackTotal) " CROSS JOIN tt" else "")
    val finalOrd = if (p.rescore.isEmpty) ordSql
      else "grp, CASE WHEN grp = 0 THEN cmb ELSE 0.0 END DESC, " +
        "CASE WHEN grp = 1 THEN ork ELSE 0 END, doc_id"
    val tail =
      if (p.from == 0)
        s"""SELECT ROW_NUMBER() OVER (ORDER BY $finalOrd) AS rk,
           |  $outSql
           |FROM $finalRel ORDER BY $finalOrd LIMIT ${p.size}"""
          .stripMargin
      else
        s"""SELECT * FROM (
           |  SELECT ROW_NUMBER() OVER (ORDER BY $finalOrd) AS rk,
           |    $outSql
           |  FROM $finalRel) AS pg
           |WHERE rk > ${p.from} ORDER BY rk LIMIT ${p.size}"""
          .stripMargin
    p.highlight match {
      case None =>
        s"""WITH ${ctes.mkString(",\n")},
           |${(Seq(scSql) ++ msSql.toSeq ++ ttSql.toSeq ++ clSql.toSeq ++ rsSql.toSeq).mkString(",\n")}
           |$tail""".stripMargin
      case Some(hf) =>
        val hlNt =
          if (hf == Search.DefaultField)
            "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"
          else s"array_to_string(($ToksExpr)[1:${Search.HeadLen}], ' ')"
        val posSql = highlightLits(p, hf).map(t =>
          s"NULLIF(strpos(hl.hl_nt, '${quoteSql(t)}'), 0)")
          .mkString("COALESCE(", ", ", ")")
        val outNames = ("rk" +: (p.source match {
          case None => Seq("doc_id", "n_matched", "tf_total", "dl")
          case Some(fs) => "doc_id" +: fs
        })) ++ p.sfieldsC.map(_._1) ++ p.innerHits.map(_._1) ++
          (if (p.trackTotal) Seq("total_hits") else Seq.empty)
        s"""WITH ${ctes.mkString(",\n")},
           |${(Seq(scSql) ++ msSql.toSeq ++ ttSql.toSeq ++ clSql.toSeq ++ rsSql.toSeq).mkString(",\n")},
           |hl AS (SELECT doc_id, $hlNt AS hl_nt FROM $rel),
           |pg AS (
           |$tail),
           |hj AS (SELECT pg.*, $posSql AS h_pos, hl.hl_nt
           |       FROM pg JOIN hl USING (doc_id))
           |SELECT ${outNames.mkString(", ")}, h_pos,
           |  CASE WHEN h_pos IS NOT NULL THEN substr(hl_nt,
           |    greatest(h_pos - ${Search.SnippetBefore}, 1),
           |    ${Search.SnippetLen}) END AS h_snippet
           |FROM hj ORDER BY rk""".stripMargin
    }
  }

  // ---------------------------------------------------- aggregations

  /** `"aggs"` beside `"query"`: run the bucket/metric aggregations
    * over the query's MATCH SET (every hit, not the size-cut page —
    * the ES contract), emitting one long-form frame: (agg, key,
    * doc_count, v_count, v_sum, v_min, v_max, v_avg). Buckets sort by
    * (agg, key); a terms agg takes its top-`size` buckets by
    * (doc_count desc, key) BEFORE that presentation sort, exactly
    * ES's cut. Documents missing the bucket field are skipped (ES
    * `missing`-less default); stats sub-aggregation columns are null
    * on frames that carry none.
    *
    * The query compiles in FILTER CONTEXT (scored = false): an
    * aggregations-only request needs the match set, never the scores,
    * so no statistics aggregate is built — the ES filter-cache shape.
    *
    * Stats fields must be integral: v_sum/v_avg are exact doubles
    * only while every partial sum is an integer-valued double (< 2^53
    * — summation order then cannot matter), which is what makes the
    * result hash-comparable against a serial oracle.
    *
    * Shape at 100 TB: one pruned scan per aggregation over the
    * doc-grain matched frame (only the referenced columns), each a
    * map-side-combined hash aggregate at bucket grain; the terms cut
    * is bucket-grain top-N. */
  def dslAggsOf(docs: DataFrame, json: String): DataFrame =
    aggsDsl(Scan(docs), json)

  /** `"aggs"` SERVED from the persisted index: the match set comes
    * from doc-values + (for text clauses) postings tf features — the
    * same candidate construction the served search uses — and the
    * one-pass [[aggsOver]] emission runs unchanged, so served
    * aggregations reproduce the scan path's buckets bit-for-bit (same
    * integers in, same arithmetic). Multi-index capable: bucket counts
    * across members are plain sums over the union (no global statistic
    * exists to guard — the members' disjointness contract is
    * [[Search.syncIndex]]'s admission screen). Tombstoned docs never
    * aggregate.
    *
    * Shape at 100 TB: postings prune to the referenced terms' buckets;
    * docmeta is doc-grain and column-pruned to the referenced fields;
    * then ONE hash aggregate — aggregations never touch the corpus
    * text. */
  def dslAggsFromIndexes(spark: SparkSession, indexDirs: Seq[String],
      json: String): DataFrame =
    aggsDsl(Served(spark, indexDirs), json)

  private def aggsDsl(src: Source, json: String): DataFrame = {
    val b = resolveBodyLookups(parseBody(json), src.fetch)
    if (b.aggs.isEmpty)
      fail("no aggs in body — hits are served by searchDslOf")
    if (b.size != 0)
      fail("an aggregation body returns no hits — set size: 0 " +
        "(ES convention); hits are served by searchDslOf")
    if (b.from != 0 || b.sort.nonEmpty || b.source.nonEmpty ||
        b.after.nonEmpty || b.highlight.nonEmpty || b.collapse.nonEmpty ||
        b.rescore.nonEmpty || b.minScore.nonEmpty || b.trackTotal)
      fail("an aggregation body returns no hits — from/sort/_source/" +
        "search_after/highlight/collapse/rescore/min_score/" +
        "track_total_hits have no meaning beside size: 0")
    // post_filter is ACCEPTED and ignored here BY DESIGN: ES's
    // faceted-search contract computes aggregations over the
    // pre-post_filter match set — the same body runs its hits half
    // through the search endpoint, where post_filter narrows
    // aggregations never rank: the query compiles in filter context;
    // filter-agg clauses join the query's clause inventory so ONE
    // feature frame serves the predicate and every stored bucket
    val filterNodes = aggClauseNodes(b)
    val srcR = src.runtime(b)
    val p = mergedFilterPlan(b.query +: filterNodes)
    val aggFields = b.aggs.flatMap(aggSpecFields).distinct
    // significant_terms needs BACKGROUND counts and global aggregates
    // over the PRE-filter frame: for both, the candidate universe must
    // stay the whole corpus even when every match carries a query term
    // — a match_all frame plan disables the served path's df-bounded
    // restriction (features still fill 0; a scan frame is always the
    // whole corpus)
    val pFrame =
      if (b.aggs.exists(s => s.agg.isInstanceOf[SigTermsAgg] ||
          s.agg.isInstanceOf[SigTextAgg] ||
          s.agg.isInstanceOf[GlobalAgg]))
        p.copy(q = MatchAllQ)
      else p
    // significant_text re-analyzes the text field: the source's stored
    // text, never a doc-value (the ES semantics)
    val sigTextFields = b.aggs.map(_.agg).collect {
      case SigTextAgg(f2, _) => f2
    }.distinct
    val fullF = srcR.features(pFrame, aggFields, sigTextFields).f
    val matched = fullF.filter(p.c.pred)
    val (samplers, rest) = b.aggs.partition(_.agg.isInstanceOf[SamplerAgg])
    // sampler scopes make `matched` a multi-consumer frame (the base
    // aggregate plus each sampler's semi-join feeding a parent count
    // AND a sub-aggregate), so the match pass is shared. Sampler-less
    // bodies keep the plain single-pass shape with no persist I/O.
    val matchedS = if (samplers.isEmpty) matched else share(matched)
    val base =
      if (rest.isEmpty) Seq.empty
      else Seq(aggsOver(matchedS, fullF, b.copy(aggs = rest), p))
    // sampler scopes draw through the REAL search pipeline (scored
    // rank + deterministic tie-break, collapse for the diversified
    // form) — but every sampler ranks the SAME query (samplerHitsJson
    // passes the body's query through verbatim; only shard_size and
    // the diversity collapse differ), so the scored feature pass and
    // the BM25 statistics build ONCE (one shared frame for the union
    // field inventory, [[share]]) and each sampler runs only
    // its own rank tail over them
    val sFrames = if (samplers.isEmpty) Seq.empty else {
      val sbs = samplers.map { spec =>
        val sa = spec.agg.asInstanceOf[SamplerAgg]
        resolveBodyLookups(parseBody(samplerHitsJson(json, sa)), src.fetch)
      }
      val sps = sbs.map(planOfBody)
      // identical clause inventory across samplers (same query) — the
      // union touches only the exact-field list (collapse fields)
      val pU = sps.head.copy(exact = sps.flatMap(_.exact).distinct)
      val c = src.runtime(sbs.head).features(pU, shared = true)
      samplers.zip(sps).map { case (spec, sp) =>
        val ids = rankTail(c.f, if (sp.needsStats) c.stats else None, sp)
          .select(col("doc_id"))
        samplerFrames(matchedS, fullF, spec, p, b, ids)
      }
    }
    (base ++ sFrames).reduce(_ unionByName _)
      .orderBy(col("agg"), col("key"), col("key2"))
  }

  /** The sampler's sampling SEARCH body: the original query (match_all
    * when absent) ranked to `shard_size` hits, plus collapse on the
    * diversified field — built from the RAW body so the query JSON
    * passes through verbatim into the proven hits pipeline. */
  private def samplerHitsJson(json: String, sa: SamplerAgg): String = {
    val q = JsonMethods.parse(json) \ "query" match {
      case JNothing => JObject(List("match_all" -> JObject(Nil)))
      case x => x
    }
    // runtime fields ride into the sampling search verbatim — its
    // query may reference them
    val rt = JsonMethods.parse(json) \ "runtime_mappings" match {
      case JNothing => List.empty[(String, JValue)]
      case x => List[(String, JValue)]("runtime_mappings" -> x)
    }
    JsonMethods.compact(JsonMethods.render(JObject(
      List[(String, JValue)]("query" -> q) ++ rt ++
        sa.divField.map(f =>
          "collapse" -> (JObject(List("field" -> JString(f))): JValue)) ++
        List[(String, JValue)]("size" -> JInt(sa.shardSize)))))
  }

  /** The sampler bucket's frames: the parent row (doc_count = sample
    * size) plus the sub-aggregation evaluated over the sampled match
    * rows — a broadcast semi join of ≤ shard_size ids, then the SAME
    * [[aggsOver]] machinery the sub would get at top level (labeled
    * `name.sub`, the frame convention). */
  private def samplerFrames(matched: DataFrame, full: DataFrame,
      spec: AggSpec, p: Plan, b: Body, ids: DataFrame): DataFrame = {
    import matched.sparkSession.implicits._
    val sampled = matched.join(broadcast(ids), Seq("doc_id"), "left_semi")
    val parent = sampled.agg(count(lit(1)).as("doc_count"))
      .select((lit(spec.name).as("agg") +: lit("").as("key") +:
        lit("").as("key2") +: $"doc_count" +: NullStats): _*)
      .select(OutCols.map(col): _*)
    val subF = spec.sub.map { case (sn, sa) =>
      aggsOver(sampled, full,
        b.copy(aggs = Seq(AggSpec(s"${spec.name}.$sn", sa, None))), p)
    }
    (parent +: subF.toSeq).reduce(_ unionByName _)
  }

  /** The one-pass aggregation emission over an already-matched
    * doc-grain frame — shared by the scan path ([[dslAggsOf]]) and the
    * index-served path ([[dslAggsFromIndexes]]): every grouping-keyed
    * bucket agg (terms / date_histogram / histogram) contributes its
    * key as a GROUPING SET, and range / filter buckets + top-level
    * metrics ride the GLOBAL set as conditional aggregate columns —
    * Lucene collects all sub-collectors in one docs pass; a per-agg
    * re-scan would cost aggs × corpus at 100 TB (ExplainAudit r12:
    * 4 scans/9 shuffles → 1 scan/1 aggregate). Post-processing (set
    * selection, the terms top-N cut, key stringification) runs at
    * BUCKET grain — tiny. */
  private def aggsOver(matched: DataFrame, full: DataFrame, b: Body,
      p: Plan): DataFrame = {
    import matched.sparkSession.implicits._
    refuseTopHits(b)
    def numericRequired(a: AggNode): Seq[String] = a match {
      case StatsAgg(f) => Seq(f)
      case MetricAgg(k, f) if k != "value_count" => Seq(f)
      case HistAgg(f, _) => Seq(f)
      case RangeAgg(f, _) => Seq(f)
      case PercentilesAgg(f, _) => Seq(f)
      case WeightedAvgAgg(v, w) => Seq(v, w)
      case PctRanksAgg(f, _) => Seq(f)
      case TopMetricsAgg(m, _, _) => Seq(m)
      case _ => Seq.empty // value_count/cardinality take any field
    }
    b.aggs.foreach { s =>
      (numericRequired(s.agg) ++
        (if (s.agg.isInstanceOf[NestedAgg]) Seq.empty
         else s.sub.toSeq.flatMap(x => numericRequired(x._2))))
        .foreach { fl =>
        if (!matched.schema(fl).dataType
            .isInstanceOf[org.apache.spark.sql.types.NumericType])
          fail(s"agg '${s.name}': field '$fl' is not numeric")
      }
      (Seq(s.agg) ++
        (if (s.agg.isInstanceOf[NestedAgg]) Seq.empty
         else s.sub.map(_._2).toSeq)).foreach {
        case TermsAgg(fl, _, _, Some(v), _, _, _) =>
          val dt = matched.schema(fl).dataType
          val ok = v match {
            case _: SNum =>
              dt.isInstanceOf[org.apache.spark.sql.types.NumericType]
            case _: SStr =>
              dt == org.apache.spark.sql.types.StringType
            case _: SBool =>
              dt == org.apache.spark.sql.types.BooleanType
            case _: SDate => false // scalar() never yields one here
          }
          if (!ok) fail(s"agg '${s.name}': missing value ${v.sql} does " +
            s"not match field '$fl' of type ${dt.simpleString}")
        case _ => ()
      }
    }
    def keyExprOf(a: AggNode): Option[Column] = a match {
      // `missing` folds absent values into its bucket — the key
      // expression is total, so the null-skip filter below is a no-op
      case TermsAgg(x, _, _, m, _, _, _) =>
        Some(m.map(v => coalesce(col(x), v.column)).getOrElse(col(x)))
      // null PROPAGATES through concat (not concat_ws), so the
      // isNotNull gate below skips docs missing any key field — ES
      case MultiTermsAgg(fs, _, _) =>
        Some(fs.map(f => col(f).cast("string"))
          .reduce((a, c) => concat(a, lit("|"), c)))
      case RareTermsAgg(x, _) => Some(col(x))
      case DateHistAgg(x, iv, _) =>
        // week keys render as the ISO week's MONDAY date — Spark's
        // date_trunc('week') and DuckDB's date_trunc('week') agree
        Some(iv match {
          case "month" => date_format(col(x), "yyyy-MM")
          case "week" => date_trunc("week", col(x)).cast("date")
          case _ => col(x)
        })
      case AutoDateHistAgg(x, bk) =>
        // the unit rides the broadcast span column (see the matched2
        // crossJoin below) — day / month / year by the documented
        // span ladder; a null span (empty match set) keys day
        val s = coalesce(col(adhSpanCol(x)), lit(0))
        Some(when(s < bk, col(x).cast("string"))
          .when(s < bk * 31, date_format(col(x), "yyyy-MM"))
          .otherwise(date_format(col(x), "yyyy")))
      case HistAgg(x, iv) =>
        // integer floor-bucketing, pure integer arithmetic (a double
        // division would round large longs); non-negative integral
        // fields only — pmod and DuckDB's // agree there
        Some(col(x).cast("long") - pmod(col(x).cast("long"), lit(iv)))
      case _ => None // range/filter/metrics aggregate on the global set
    }
    val gkOf = b.aggs.zipWithIndex.map { case (s, i) =>
      i -> keyExprOf(s.agg).map(_ => s"gk$i")
    }.toMap
    // BUCKET subs under grouping-keyed parents: the child key is just
    // another grouping column (gk2$i) and the pair set {gk$i, gk2$i}
    // joins the grouping-sets list — nesting costs columns + one more
    // set, never another pass
    val bucketSubOf: Map[Int, (String, AggNode)] =
      b.aggs.zipWithIndex.collect {
        case (AggSpec(_, _: TermsAgg | _: DateHistAgg | _: HistAgg,
            Some((sn, sa)), _), i)
            if !isMetric(sa) && !sa.isInstanceOf[PipelineAgg] &&
              !sa.isInstanceOf[CumCardAgg] =>
          i -> ((sn, sa))
      }.toMap
    val gkCols = b.aggs.zipWithIndex.flatMap { case (s, i) =>
      keyExprOf(s.agg).map(_.as(s"gk$i")).toSeq ++
        bucketSubOf.get(i).flatMap(x => keyExprOf(x._2))
          .map(_.as(s"gk2$i")).toSeq
    }
    val gkNames = b.aggs.zipWithIndex.flatMap { case (s, i) =>
      keyExprOf(s.agg).map(_ => s"gk$i").toSeq ++
        bucketSubOf.get(i).map(_ => s"gk2$i").toSeq
    }
    // metric (kind, field) pairs evaluated UNCONDITIONALLY (per
    // grouping-set row): top-level metrics + metric subs of
    // grouping-keyed buckets; range/filter subs are conditional columns
    val uncondMetrics: Seq[(String, String)] = b.aggs.flatMap { s =>
      s.agg match {
        case _: StatsAgg | _: MetricAgg | _: CardinalityAgg =>
          Seq(metricKindField(s.agg))
        case _: TermsAgg | _: DateHistAgg | _: HistAgg |
             _: MultiTermsAgg =>
          s.sub.filter(x => isMetric(x._2)).map(x => metricKindField(x._2))
            .toSeq
        case _ => Seq.empty
      }
    }.distinct
    def needTags(kind: String): Seq[String] = kind match {
      case "stats" => Seq("vc", "vs", "vn", "vx")
      case "extended_stats" => Seq("vc", "vs", "vn", "vx", "vq")
      // quartiles ride pctDefs; min/max are the whisker rows
      case "boxplot" => Seq("vn", "vx")
      case "avg" => Seq("vc", "vs")
      case "sum" => Seq("vs")
      case "min" => Seq("vn")
      case "max" => Seq("vx")
      case "value_count" => Seq("vc")
      case "cardinality" => Seq("vd")
      // approx cardinality: one tag per threshold — "vh<t>"
      case k => Seq("vh" + k.stripPrefix("cardinality_hll_"))
    }
    val uncondCols = uncondMetrics.flatMap { case (k, x) =>
      needTags(k).map(t => (t, x)) }.distinct.map {
      case ("vc", x) => count(col(x)).as(s"vc_$x")
      case ("vs", x) => sum(col(x).cast("double")).as(s"vs_$x")
      case ("vn", x) => min(col(x)).as(s"vn_$x")
      case ("vx", x) => max(col(x)).as(s"vx_$x")
      case ("vd", x) => count_distinct(col(x)).as(s"vd_$x")
      // sum of squares for extended_stats — cast-then-multiply keeps
      // integer inputs exact in double space in both engines
      case ("vq", x) =>
        sum(col(x).cast("double") * col(x).cast("double")).as(s"vq_$x")
      case (t, x) => approx_count_distinct(col(x),
        rsdOfThreshold(t.stripPrefix("vh").toInt)).as(s"${t}_$x")
    }
    // conditional buckets: every range bucket and every filter agg is
    // (specIdx, bucketIdx, label, membership condition)
    val cbuckets: Seq[(Int, Int, String, Column)] =
      b.aggs.zipWithIndex.flatMap {
        case (AggSpec(_, RangeAgg(fld, ranges), _, _), i) =>
          ranges.zipWithIndex.map { case (r, j) =>
            val cond = (Seq(col(fld).isNotNull) ++
              r._1.map(v => col(fld) >= v.column) ++
              r._2.map(v => col(fld) < v.column)).reduce(_ && _)
            (i, j, rangeLabel(r), cond)
          }
        case (AggSpec(_, FilterAgg(n), _, _), i) =>
          Seq((i, 0, "",
            compile(n, scored = false, p.tfIdx, p.pfIdx, Map.empty,
              p.zfIdx, p.rfIdx, p.sfIdx).pred))
        case (AggSpec(_, RandomSamplerAgg(pr, seed), _, _), i) =>
          Seq((i, 0, "", samplerGate(pr, seed)))
        case (AggSpec(_, FiltersAgg(fs), _, _), i) =>
          fs.zipWithIndex.map { case ((nm, n), j) =>
            (i, j, nm, compile(n, scored = false, p.tfIdx, p.pfIdx,
              Map.empty, p.zfIdx, p.rfIdx, p.sfIdx).pred)
          }
        case (AggSpec(_, AdjacencyAgg(fs, sep), _, _), i) =>
          // the whole matrix — singles + pairwise conjunctions — as
          // conditional columns of the one pass
          adjBuckets(fs, sep).zipWithIndex.map { case ((nm, ns), j) =>
            (i, j, nm, ns.map(n2 => compile(n2, scored = false,
              p.tfIdx, p.pfIdx, Map.empty, p.zfIdx, p.rfIdx,
              p.sfIdx).pred).reduce(_ && _))
          }
        case (AggSpec(_, MissingAgg(fld), _, _), i) =>
          Seq((i, 0, "", col(fld).isNull))
        case (AggSpec(_, DateRangeAgg(fld, ranges), _, _), i) =>
          ranges.zipWithIndex.map { case (r, j) =>
            val cond = (Seq(col(fld).isNotNull) ++
              r._1.map(d => col(fld) >= to_date(lit(d.iso))) ++
              r._2.map(d => col(fld) < to_date(lit(d.iso)))).reduce(_ && _)
            (i, j, dateRangeLabel(r), cond)
          }
        case _ => Seq.empty
      }
    val subKindOf: Map[Int, (String, String)] = b.aggs.zipWithIndex.collect {
      case (AggSpec(_, _: RangeAgg | _: FilterAgg | _: FiltersAgg |
          _: AdjacencyAgg |
          _: MissingAgg | _: DateRangeAgg | _: RandomSamplerAgg,
          Some((_, m)), _), i) =>
        i -> metricKindField(m)
    }.toMap
    val condAggCols = cbuckets.flatMap { case (i, j, _, _) =>
      val cnd = col(s"cnd${i}_$j")
      count(when(cnd, 1)).as(s"dc${i}_$j") +:
        subKindOf.get(i).toSeq.flatMap { case (k, y) =>
          val cy = when(cnd, col(y))
          needTags(k).map {
            case "vc" => count(cy).as(s"cc${i}_$j")
            case "vs" => sum(cy.cast("double")).as(s"cs${i}_$j")
            case "vn" => min(cy).as(s"cn${i}_$j")
            case "vx" => max(cy).as(s"cx${i}_$j")
            case "vd" => count_distinct(cy).as(s"cd${i}_$j")
            // (i, j) carries exactly one sub metric — the approx
            // sketch reuses the distinct-count column slot
            case t => approx_count_distinct(cy,
              rsdOfThreshold(t.stripPrefix("vh").toInt)).as(s"cd${i}_$j")
          }
        }
    }
    // exact percentiles ride the SAME grouping-sets aggregate (one
    // column per distinct (field, percent) — Spark percentile is an
    // ordinary aggregate, so the one-pass invariant holds; only the
    // global row's values are read out)
    val pctDefs: Seq[(String, String, BigDecimal)] = b.aggs.flatMap {
      case AggSpec(_, PercentilesAgg(x, ps), _, _) =>
        ps.map(pp => (s"vp_${x}_${pctTag(pp)}", x, pp))
      // boxplot's quartiles are three more exact-percentile columns
      // on the same one-pass aggregate
      case AggSpec(_, MetricAgg("boxplot", x), _, _) =>
        Seq(25, 50, 75).map(pp =>
          (s"vp_${x}_$pp", x, BigDecimal(pp)))
      case _ => Seq.empty
    }.distinct
    val pctCols = pctDefs.map { case (nm, x, pp) =>
      percentile(col(x), lit((pp / 100).toDouble)).as(nm) }
    // weighted_avg: Σ(v·w) and Σw over docs carrying BOTH fields —
    // two more columns on the same one-pass aggregate
    val wavDefs: Seq[(String, String)] = b.aggs.collect {
      case AggSpec(_, WeightedAvgAgg(v, w), _, _) => (v, w)
    }.distinct
    val wavCols = wavDefs.flatMap { case (v, w) =>
      val both = col(v).isNotNull && col(w).isNotNull
      Seq(
        sum(when(both, col(v).cast("double") * col(w).cast("double")))
          .as(s"wv_${v}_$w"),
        sum(when(both, col(w).cast("double"))).as(s"ww_${v}_$w"))
    }
    // percentile_ranks: one conditional count per probe + one total
    // per field — more columns on the same pass
    val prDefs: Seq[(String, BigDecimal)] = b.aggs.flatMap {
      case AggSpec(_, PctRanksAgg(x, vs), _, _) => vs.map(v => (x, v))
      case _ => Seq.empty
    }.distinct
    val prCols = prDefs.map { case (x, v) =>
      count(when(col(x) <= SNum(v).column, 1))
        .as(s"pr_${x}_${pctTag(v)}") } ++
      prDefs.map(_._1).distinct.map(x => count(col(x)).as(s"prn_$x"))
    val metricFieldCols = (uncondMetrics.map(_._2) ++
      subKindOf.values.map(_._2) ++ pctDefs.map(_._2) ++
      wavDefs.flatMap(x => Seq(x._1, x._2)) ++
      prDefs.map(_._1)).distinct.map(col)
    // auto_date_histogram: the whole-day span of the match set's
    // dates joins as a broadcast 1-row aggregate so the unit choice
    // is a COLUMN expression — fully distributed, no driver probe.
    // The span aggregate's lineage is the FULL match pass (scan +
    // tokenize + predicate), so without a barrier it re-executed per
    // distinct auto field ON TOP of the main aggregate's pass — the
    // match set was computed twice per auto request (r18, guide §2.4).
    // When (and only when) an auto agg needs the span, the matched
    // frame is shared by the span job and the grouping-sets pass;
    // every other aggs body keeps the plain single-pass shape with no
    // persist I/O.
    val autoFields = b.aggs.collect {
      case AggSpec(_, AutoDateHistAgg(f, _), _, _) => f }.distinct
    val matchedA = if (autoFields.isEmpty) matched else share(matched)
    val matchedK = autoFields.foldLeft(matchedA)((d, f) =>
      d.crossJoin(broadcast(matchedA.agg(
        datediff(max(col(f)), min(col(f))).as(adhSpanCol(f))))))
    // conditions precompute as boolean columns so the grouping-sets
    // projection keeps every aggregate's input
    val prep = matchedK.select(gkCols ++ metricFieldCols ++
      cbuckets.map { case (i, j, _, c) => c.as(s"cnd${i}_$j") }: _*)
    val statAgg = count(lit(1)).as("doc_count") +: (uncondCols ++
      condAggCols ++ pctCols ++ wavCols ++ prCols)
    val hasGlobal = b.aggs.exists(s => keyExprOf(s.agg).isEmpty &&
      !s.agg.isInstanceOf[NestedAgg] &&
      !s.agg.isInstanceOf[BucketMetricAgg] &&
      !s.agg.isInstanceOf[SigTermsAgg] &&
      !s.agg.isInstanceOf[SigTextAgg] &&
      !s.agg.isInstanceOf[GlobalAgg] &&
      !s.agg.isInstanceOf[ScriptedMetricAgg] &&
      !s.agg.isInstanceOf[MadAgg] &&
      !s.agg.isInstanceOf[StringStatsAgg] &&
      !s.agg.isInstanceOf[TTestAgg] &&
      !s.agg.isInstanceOf[TopMetricsAgg])
    // the per-bucket/per-spec consumers below SELF-UNION this frame
    // (one branch per bucket, one cut per spec); sharing it makes the
    // one corpus pass actually one, and building the request runs
    // nothing. The frame is bucket-grain — tiny.
    val grouped = share(
      if (gkNames.isEmpty) prep.agg(statAgg.head, statAgg.tail: _*)
      else {
        // one set per parent key; {parent, child} for bucket subs —
        // NOT one set per name (a child-only set would be meaningless)
        val sets = b.aggs.zipWithIndex.flatMap { case (sp, i) =>
          keyExprOf(sp.agg).map(_ => Seq(col(s"gk$i"))).toSeq ++
            bucketSubOf.get(i).map(_ => Seq(col(s"gk$i"), col(s"gk2$i")))
              .toSeq
        } ++ (if (hasGlobal) Seq(Seq.empty[Column]) else Seq.empty)
        // the grouping() indicators ride the aggregate output (they
        // cannot resolve through the share)
        val aggOut = statAgg ++ gkNames.map(n =>
          grouping(col(n)).as(s"g_$n"))
        prep.groupingSets(sets, gkNames.map(col): _*)
          .agg(aggOut.head, aggOut.tail: _*)
      })
    val nullD = lit(null).cast("double")
    val nullL = lit(null).cast("long")
    // output (v_count…v_avg) for a metric kind, from lazily-built
    // accessors — only the tags the kind aggregates ever resolve
    def outStats(kind: String, vc: => Column, vs: => Column,
        vn: => Column, vx: => Column, vd: => Column): Seq[Column] =
      kind match {
        case "stats" | "extended_stats" => Seq(vc.as("v_count"), vs.as("v_sum"),
          vn.cast("double").as("v_min"), vx.cast("double").as("v_max"),
          when(vc > 0, vs / vc).otherwise(nullD).as("v_avg"))
        case "avg" => Seq(nullL.as("v_count"), nullD.as("v_sum"),
          nullD.as("v_min"), nullD.as("v_max"),
          when(vc > 0, vs / vc).otherwise(nullD).as("v_avg"))
        case "sum" => Seq(nullL.as("v_count"), vs.as("v_sum"),
          nullD.as("v_min"), nullD.as("v_max"), nullD.as("v_avg"))
        case "min" => Seq(nullL.as("v_count"), nullD.as("v_sum"),
          vn.cast("double").as("v_min"), nullD.as("v_max"),
          nullD.as("v_avg"))
        case "max" => Seq(nullL.as("v_count"), nullD.as("v_sum"),
          nullD.as("v_min"), vx.cast("double").as("v_max"),
          nullD.as("v_avg"))
        case "value_count" => Seq(vc.as("v_count"), nullD.as("v_sum"),
          nullD.as("v_min"), nullD.as("v_max"), nullD.as("v_avg"))
        case _ => Seq(vd.as("v_count"), nullD.as("v_sum"),
          nullD.as("v_min"), nullD.as("v_max"), nullD.as("v_avg"))
      }
    def uncondOut(m: AggNode): Seq[Column] = {
      val (k, y) = metricKindField(m)
      val vdn =
        if (k.startsWith("cardinality_hll_"))
          "vh" + k.stripPrefix("cardinality_hll_")
        else "vd"
      outStats(k, col(s"vc_$y"), col(s"vs_$y"), col(s"vn_$y"),
        col(s"vx_$y"), col(s"${vdn}_$y")) :+ nullD.as("v_pct")
    }
    def condOut(i: Int, j: Int): Seq[Column] = subKindOf.get(i) match {
      case None => NullStats
      case Some((k, _)) => outStats(k, col(s"cc${i}_$j"), col(s"cs${i}_$j"),
        col(s"cn${i}_$j"), col(s"cx${i}_$j"), col(s"cd${i}_$j")) :+
        nullD.as("v_pct")
    }
    val globalMine = gkNames.map(n => col(s"g_$n") === 1)
      .reduceOption(_ && _).getOrElse(lit(true))
    val key2Blank = lit("").as("key2")
    // FINAL bucket rows of a grouping agg (include/exclude gate,
    // min_doc_count floor, top-N cut all applied) — memoized so a
    // sibling pipeline agg reads the SAME frame its sibling emits
    val cutCache = scala.collection.mutable.Map.empty[Int, DataFrame]
    def groupingCut(i: Int): DataFrame = cutCache.getOrElseUpdate(i, {
      val spec = b.aggs(i)
      val me = gkOf(i).get
      val mine = gkNames.map(n =>
        col(s"g_$n") === (if (n == me) 0 else 1)).reduce(_ && _)
      // a null bucket key inside this agg's own set is genuinely
      // null data — ES skips docs missing the field
      val rows = grouped.filter(mine && col(me).isNotNull)
        .withColumn("key", col(me).cast("string"))
      // include/exclude gate bucket KEYS before the floor and the
      // cut (ES's order) — anchored, the RegexpQ discipline
      val gated = spec.agg match {
        case TermsAgg(_, _, _, _, _, inc, exc) =>
          (inc.map(x => $"key".rlike("^(?:" + x + ")$")).toSeq ++
            exc.map(x => !$"key".rlike("^(?:" + x + ")$")).toSeq)
            .foldLeft(rows)(_ filter _)
        case _ => rows
      }
      val subCols = spec.sub.filter(x => isMetric(x._2))
        .map(x => uncondOut(x._2)).getOrElse(NullStats)
      val sel =
        gated.select(($"key" +: key2Blank +: $"doc_count" +: subCols): _*)
      val cut0 = spec.agg match {
        case TermsAgg(_, n, ord, _, minDoc, _, _) =>
          // ES order: {"_count": "desc"} (default), {"_key": "asc"},
          // or by the metric sub's value (nulls last, key tiebreak)
          val o = ord match {
            case ByKey => Seq($"key".asc)
            case ByKeyDesc => Seq($"key".desc)
            case ByCount => Seq($"doc_count".desc, $"key".asc)
            case BySub(_, asc) =>
              val c = col(orderColOf(metricKindField(spec.sub.get._2)._1))
              Seq(if (asc) c.asc_nulls_last else c.desc_nulls_last,
                $"key".asc)
          }
          (if (minDoc > 1) sel.filter($"doc_count" >= minDoc) else sel)
            .orderBy(o: _*).limit(n)
        case MultiTermsAgg(_, n, ord) =>
          val o: Seq[Column] = ord match {
            case ByKey => Seq($"key".asc)
            case ByKeyDesc => Seq($"key".desc)
            case _ => Seq($"doc_count".desc, $"key".asc)
          }
          sel.orderBy(o: _*).limit(n)
        case RareTermsAgg(_, m) =>
          // the long-tail cut: count CEILING, no top-N (every rare
          // bucket emits — the ES contract)
          sel.filter($"doc_count" <= m)
        case DateHistAgg(_, iv, true) =>
          // min_doc_count 0 gap fill (VERDICT r15 #4): the complete
          // key sequence between the first and last POPULATED bucket
          // left-joins the populated rows — empty buckets carry
          // doc_count 0 and NULL metric slots, and the sibling
          // pipeline windows (which read THIS cut) cross gaps like
          // ES. |buckets| rows of work, no corpus cost; an empty
          // match set explodes an empty sequence (no rows).
          val span = sel.agg(min($"key").as("k0"), max($"key").as("k1"))
          val allKeys = iv match {
            case "month" =>
              span.select(explode(sequence(
                to_date(concat($"k0", lit("-01"))),
                to_date(concat($"k1", lit("-01"))),
                expr("interval 1 month"))).as("kd"))
                .select(date_format($"kd", "yyyy-MM").as("key"))
            case "week" =>
              // keys are already the weeks' Mondays — step 7 days
              span.select(explode(sequence(to_date($"k0"),
                to_date($"k1"), expr("interval 7 days"))).as("kd"))
                .select($"kd".cast("string").as("key"))
            case _ =>
              span.select(explode(sequence(to_date($"k0"),
                to_date($"k1"), expr("interval 1 day"))).as("kd"))
                .select($"kd".cast("string").as("key"))
          }
          allKeys.join(sel.drop("key2"), Seq("key"), "left")
            .select(($"key" +: key2Blank +:
              coalesce($"doc_count", lit(0L)).as("doc_count") +:
              Seq($"v_count", $"v_sum", $"v_min", $"v_max", $"v_avg",
                $"v_pct")): _*)
        case _ => sel
      }
      // the bucket-script trio post-processes the RETURNED buckets —
      // every consumer (parent rows, child gate, sibling pipelines)
      // reads the post-pipe cut
      applyBucketPipes(spec, cut0)
    })
    val frames = b.aggs.zipWithIndex.flatMap { case (spec, i) =>
      if (spec.agg.isInstanceOf[NestedAgg])
        nestedAggFrames(matched, spec)
      else if (spec.agg.isInstanceOf[SigTermsAgg])
        Seq(sigTermsFrame(full, spec, p))
      else if (spec.agg.isInstanceOf[SigTextAgg])
        Seq(sigTextFrame(full, spec, p))
      else if (spec.agg.isInstanceOf[ScriptedMetricAgg])
        Seq(scriptedMetricFrame(matched, spec))
      else {
      val cut = spec.agg match {
        case _: TermsAgg | _: DateHistAgg | _: HistAgg |
             _: MultiTermsAgg | _: RareTermsAgg |
             _: AutoDateHistAgg => groupingCut(i)
        case MetricAgg("extended_stats", x) =>
          // the basic stats row + one keyed row per extended value
          // (schema-stable: the extras ride v_pct like percentiles).
          // variance = Σx²/n − (Σx/n)² — same expression tree in both
          // compilers, exact-sum inputs
          val base = grouped.filter(globalMine)
          val vc = col(s"vc_$x").cast("double")
          val varC = col(s"vq_$x") / vc -
            (col(s"vs_$x") / vc) * (col(s"vs_$x") / vc)
          val main = base.withColumn("key", lit(""))
            .select(($"key" +: key2Blank +: $"doc_count" +:
              uncondOut(spec.agg)): _*)
          val extras = Seq(
            ("sum_of_squares", col(s"vq_$x")),
            ("variance", varC),
            ("std_deviation", sqrt(varC))).map { case (kn, v) =>
            base.select((lit(kn).as("key") +: key2Blank +:
              $"doc_count" +: (NullStats.dropRight(1) :+
                v.as("v_pct"))): _*)
          }
          (main +: extras).reduce(_ unionByName _)
        case MetricAgg("boxplot", x) =>
          // five keyed rows from the SAME one-pass global aggregate:
          // the whiskers read the min/max tags, the quartiles the
          // exact-percentile columns — no extra corpus pass
          val base = grouped.filter(globalMine)
          Seq(("min", col(s"vn_$x").cast("double")),
              ("q1", col(s"vp_${x}_25")),
              ("q2", col(s"vp_${x}_50")),
              ("q3", col(s"vp_${x}_75")),
              ("max", col(s"vx_$x").cast("double")))
            .map { case (kn, v) =>
              base.select((lit(kn).as("key") +: key2Blank +:
                $"doc_count" +: (NullStats.dropRight(1) :+
                  v.as("v_pct"))): _*)
            }.reduce(_ unionByName _)
        case MadAgg(x) =>
          // exact MAD: the median broadcasts as a 1-row aggregate,
          // the deviations' median reuses the percentile parity —
          // two aggregates over the match set, zero driver loops
          val xd = col(x).cast("double")
          val med = matched.agg(
            percentile(xd, lit(0.5)).as("mad_med"))
          matched.crossJoin(broadcast(med))
            .agg(count(lit(1)).as("doc_count"),
              percentile(abs(col(x).cast("double") - $"mad_med"),
                lit(0.5)).as("mad_v"))
            .select((lit("").as("key") +: key2Blank +: $"doc_count" +:
              (NullStats.dropRight(1) :+ $"mad_v".as("v_pct"))): _*)
        case TTestAgg(af, aflt, bf, bflt, kind) =>
          // the sufficient statistics (t, df) from exact integer sums
          // — ONE aggregate over the match set; the oracle re-derives
          // the identical expression tree, so both rows hash-check.
          // n < 2 in either population emits NULL (no variance).
          val nD = lit(null).cast("double")
          def cnd(o: Option[Node]): Option[Column] = o.map(n2 =>
            compile(n2, scored = false, p.tfIdx, p.pfIdx, Map.empty,
              p.zfIdx, p.rfIdx, p.sfIdx).pred)
          val (tC, dfC, base) = if (kind == "paired") {
            val both = col(af).isNotNull && col(bf).isNotNull
            val d = when(both,
              col(af).cast("double") - col(bf).cast("double"))
            val agg0 = matched.agg(count(lit(1)).as("doc_count"),
              count(d).as("tn"), sum(d).as("ts"), sum(d * d).as("tq"))
            val n = col("tn").cast("double")
            val v = (col("tq") - col("ts") * col("ts") / n) / (n - 1)
            val t = (col("ts") / n) / sqrt(v / n)
            (when(col("tn") >= 2, t).otherwise(nD),
              when(col("tn") >= 2, n - 1).otherwise(nD), agg0)
          } else {
            def popAgg(x: String, c: Option[Column], tag: String) = {
              val xv = c.map(cc => when(cc, col(x))).getOrElse(col(x))
              val xd = c.map(cc => when(cc, col(x).cast("double")))
                .getOrElse(col(x).cast("double"))
              Seq(count(xv).as(s"tn$tag"), sum(xd).as(s"ts$tag"),
                sum(xd * xd).as(s"tq$tag"))
            }
            val cols = popAgg(af, cnd(aflt), "1") ++
              popAgg(bf, cnd(bflt), "2")
            val agg0 = matched.agg(count(lit(1)).as("doc_count"),
              cols: _*)
            val n1 = col("tn1").cast("double")
            val n2 = col("tn2").cast("double")
            val v1 = (col("tq1") - col("ts1") * col("ts1") / n1) /
              (n1 - 1)
            val v2 = (col("tq2") - col("ts2") * col("ts2") / n2) /
              (n2 - 1)
            val m1 = col("ts1") / n1
            val m2 = col("ts2") / n2
            val (t, df) = if (kind == "heteroscedastic") {
              val se2 = v1 / n1 + v2 / n2
              ((m1 - m2) / sqrt(se2),
                (se2 * se2) / ((v1 / n1) * (v1 / n1) / (n1 - 1) +
                  (v2 / n2) * (v2 / n2) / (n2 - 1)))
            } else {
              val sp2 = ((n1 - 1) * v1 + (n2 - 1) * v2) /
                (n1 + n2 - 2)
              ((m1 - m2) /
                sqrt(sp2 * (lit(1.0) / n1 + lit(1.0) / n2)),
                n1 + n2 - 2)
            }
            val ok = col("tn1") >= 2 && col("tn2") >= 2
            (when(ok, t).otherwise(nD), when(ok, df).otherwise(nD),
              agg0)
          }
          // one aggregate EXPLODED to the two keyed rows — a union of
          // two selects would re-run the corpus pass per row
          base.select(explode(array(
              struct(lit("t").as("k"), tC.as("v")),
              struct(lit("df").as("k"), dfC.as("v")))).as("tr"),
              $"doc_count")
            .select(($"tr.k".as("key") +: key2Blank +: $"doc_count" +:
              (NullStats.dropRight(1) :+ $"tr.v".as("v_pct"))): _*)
        case StringStatsAgg(x) =>
          // length stats in one aggregate; entropy from the collected
          // (char, count) distribution folded IN CHARACTER ORDER —
          // see [[StringStatsAgg]] for the bit-reproducibility story
          val base = matched.agg(count(lit(1)).as("doc_count"),
            count(col(x)).as("sc"),
            min(length(col(x))).as("ln_min"),
            max(length(col(x))).as("ln_max"),
            sum(length(col(x)).cast("double")).as("ln_sum"))
          val cc = matched
            .select(explode(split(col(x), "")).as("ch"))
            .filter(length($"ch") === 1)
            .groupBy($"ch").agg(count(lit(1)).as("c"))
            .agg(sort_array(collect_list(
              struct($"ch".as("ch"), $"c".as("c")))).as("cc"),
              sum($"c").as("tot"))
          val totD = $"tot".cast("double")
          val terms = transform($"cc", s =>
            (s.getField("c").cast("double") / totD) *
              log(s.getField("c").cast("double") / totD))
          val tSum = aggregate(terms, lit(0.0),
            (acc, t) => acc + t)
          val ent = -(tSum / lit(Ln2))
          val scD = $"sc".cast("double")
          base.crossJoin(cc).select(
            explode(array(
              struct(lit("count").as("k"), scD.as("v")),
              struct(lit("min_length").as("k"),
                when($"sc" > 0, $"ln_min".cast("double")).as("v")),
              struct(lit("max_length").as("k"),
                when($"sc" > 0, $"ln_max".cast("double")).as("v")),
              struct(lit("avg_length").as("k"),
                when($"sc" > 0, $"ln_sum" / scD).as("v")),
              struct(lit("entropy").as("k"),
                when($"sc" > 0 && $"tot".isNotNull, ent).as("v"))))
              .as("sr"), $"doc_count")
            .select(($"sr.k".as("key") +: key2Blank +: $"doc_count" +:
              (NullStats.dropRight(1) :+ $"sr.v".as("v_pct"))): _*)
        case WeightedAvgAgg(v, wt) =>
          grouped.filter(globalMine).withColumn("key", lit(""))
            .select(($"key" +: key2Blank +: $"doc_count" +:
              Seq(lit(null).cast("long").as("v_count"),
                lit(null).cast("double").as("v_sum"),
                lit(null).cast("double").as("v_min"),
                lit(null).cast("double").as("v_max"),
                (col(s"wv_${v}_$wt") / col(s"ww_${v}_$wt")).as("v_avg"),
                lit(null).cast("double").as("v_pct"))): _*)
        case _: StatsAgg | _: MetricAgg | _: CardinalityAgg =>
          grouped.filter(globalMine).withColumn("key", lit(""))
            .select(($"key" +: key2Blank +: $"doc_count" +:
              uncondOut(spec.agg)): _*)
        case PercentilesAgg(x, ps) =>
          // one row per percent: key = the percent, value in v_pct
          ps.map { pp =>
            grouped.filter(globalMine).select(
              (lit(pctKeyOf(pp)).as("key") +: key2Blank +:
                $"doc_count" +: (NullStats.dropRight(1) :+
                  col(s"vp_${x}_${pctTag(pp)}").as("v_pct"))): _*)
          }.reduce(_ unionByName _)
        case RangeAgg(_, ranges) =>
          ranges.zipWithIndex.map { case (r, j) =>
            grouped.filter(globalMine).select(
              (lit(rangeLabel(r)).as("key") +: key2Blank +:
                col(s"dc${i}_$j").as("doc_count") +: condOut(i, j)): _*)
          }.reduce(_ unionByName _)
        case FilterAgg(_) | RandomSamplerAgg(_, _) =>
          grouped.filter(globalMine).select(
            (lit("").as("key") +: key2Blank +:
              col(s"dc${i}_0").as("doc_count") +: condOut(i, 0)): _*)
        case FiltersAgg(fs) =>
          // named buckets: one row per name from the same global
          // grouping row — overlap costs nothing, each key reads its
          // own conditional-count column
          fs.zipWithIndex.map { case ((nm, _), j) =>
            grouped.filter(globalMine).select(
              (lit(nm).as("key") +: key2Blank +:
                col(s"dc${i}_$j").as("doc_count") +: condOut(i, j)): _*)
          }.reduce(_ unionByName _)
        case AdjacencyAgg(fs, sep) =>
          // one row per matrix cell from the same global grouping
          // row; empty cells prune (the ES response contract)
          adjBuckets(fs, sep).zipWithIndex.map { case ((nm, _), j) =>
            grouped.filter(globalMine).select(
              (lit(nm).as("key") +: key2Blank +:
                col(s"dc${i}_$j").as("doc_count") +: condOut(i, j)): _*)
          }.reduce(_ unionByName _).filter($"doc_count" > 0)
        case MissingAgg(_) =>
          grouped.filter(globalMine).select(
            (lit("").as("key") +: key2Blank +:
              col(s"dc${i}_0").as("doc_count") +: condOut(i, 0)): _*)
        case DateRangeAgg(_, ranges) =>
          ranges.zipWithIndex.map { case (r, j) =>
            grouped.filter(globalMine).select(
              (lit(dateRangeLabel(r)).as("key") +: key2Blank +:
                col(s"dc${i}_$j").as("doc_count") +: condOut(i, j)): _*)
          }.reduce(_ unionByName _)
        case PctRanksAgg(x, vs) =>
          // one row per probe: percent of values ≤ probe, exact
          vs.map { v =>
            grouped.filter(globalMine).select(
              (lit(pctKeyOf(v)).as("key") +: key2Blank +:
                $"doc_count" +: (NullStats.dropRight(1) :+
                  (col(s"pr_${x}_${pctTag(v)}").cast("double") /
                    col(s"prn_$x").cast("double") * lit(100.0))
                    .as("v_pct"))): _*)
          }.reduce(_ unionByName _)
        case GlobalAgg() =>
          // break out of the query: ONE aggregate over the pre-filter
          // corpus — sibling aggs stay on the match set
          val sub = spec.sub.filter(x => isMetric(x._2))
          val aggCols = count(lit(1)).as("doc_count") +:
            sub.toSeq.flatMap { case (_, m) =>
              val (k, x) = metricKindField(m)
              needTags(k).map {
                case "vc" => count(col(x)).as(s"vc_$x")
                case "vs" => sum(col(x).cast("double")).as(s"vs_$x")
                case "vn" => min(col(x)).as(s"vn_$x")
                case "vx" => max(col(x)).as(s"vx_$x")
                case "vd" => count_distinct(col(x)).as(s"vd_$x")
                case t => approx_count_distinct(col(x),
                  rsdOfThreshold(t.stripPrefix("vh").toInt))
                  .as(s"${t}_$x")
              }
            }
          val subCols = sub.map(x => uncondOut(x._2)).getOrElse(NullStats)
          full.agg(aggCols.head, aggCols.tail: _*)
            .withColumn("key", lit(""))
            .select(($"key" +: key2Blank +: $"doc_count" +: subCols): _*)
        case TopMetricsAgg(m, sf, asc) =>
          // the single top document's metric — a limit-1 TakeOrdered
          // over the match set, doc_id tiebreak for determinism
          val o = if (asc) col(sf).asc_nulls_last
                  else col(sf).desc_nulls_last
          matched.select(col(m), col(sf), col("doc_id"))
            .orderBy(o, $"doc_id".asc).limit(1)
            .select((lit("").as("key") +: key2Blank +:
              lit(1L).as("doc_count") +: (NullStats.dropRight(1) :+
                col(m).cast("double").as("v_pct"))): _*)
        case BucketMetricAgg(kind, path, pcts) =>
          // sibling pipeline: ONE aggregate row over the sibling's
          // returned buckets — |buckets| input rows, scale-free
          val sib = groupingCut(b.aggs.indexWhere(_.name == path))
          if (kind == "extended_stats") {
            // the doc-grain extended_stats shape over bucket counts:
            // cast-then-multiply keeps the exact-int sums, the
            // variance tree matches [[MetricAgg]]'s; one aggregate
            // EXPLODED to the four rows (a union would re-run it)
            val st = sib.agg(count(lit(1)).as("doc_count"),
              count($"doc_count").as("bc"),
              sum($"doc_count".cast("double")).as("bs"),
              min($"doc_count").as("bn"), max($"doc_count").as("bx"),
              sum($"doc_count".cast("double") *
                $"doc_count".cast("double")).as("bq"))
            val bcD = col("bc").cast("double")
            val varC = $"bq" / bcD - ($"bs" / bcD) * ($"bs" / bcD)
            val nl = lit(null).cast("long")
            val nd = lit(null).cast("double")
            st.select(explode(array(
                struct(lit("").as("k"), $"bc".as("vc"), $"bs".as("vs"),
                  $"bn".cast("double").as("vn"),
                  $"bx".cast("double").as("vx"),
                  when($"bc" > 0, $"bs" / bcD).otherwise(nd).as("va"),
                  nd.as("vp")),
                struct(lit("sum_of_squares").as("k"), nl.as("vc"),
                  nd.as("vs"), nd.as("vn"), nd.as("vx"), nd.as("va"),
                  $"bq".as("vp")),
                struct(lit("variance").as("k"), nl.as("vc"),
                  nd.as("vs"), nd.as("vn"), nd.as("vx"), nd.as("va"),
                  varC.as("vp")),
                struct(lit("std_deviation").as("k"), nl.as("vc"),
                  nd.as("vs"), nd.as("vn"), nd.as("vx"), nd.as("va"),
                  sqrt(varC).as("vp")))).as("er"), $"doc_count")
              .select(($"er.k".as("key") +: key2Blank +:
                $"doc_count" +:
                Seq($"er.vc".as("v_count"), $"er.vs".as("v_sum"),
                  $"er.vn".as("v_min"), $"er.vx".as("v_max"),
                  $"er.va".as("v_avg"), $"er.vp".as("v_pct"))): _*)
          } else if (kind == "percentiles") {
            // one row per percent, exact interpolation over the
            // sibling's bucket counts (the engine-wide percentile
            // convention; see [[BucketMetricAgg]] for the ES
            // nearest-rank divergence)
            val pcols = pcts.map(pp => percentile($"doc_count",
              lit((pp / 100).toDouble)).as(s"bp_${pctTag(pp)}"))
            val st = sib.agg(count(lit(1)).as("doc_count"),
              pcols: _*)
            st.select(explode(array(pcts.map(pp =>
                struct(lit(pctKeyOf(pp)).as("k"),
                  col(s"bp_${pctTag(pp)}").as("v"))): _*)).as("pr"),
                $"doc_count")
              .select(($"pr.k".as("key") +: key2Blank +:
                $"doc_count" +: (NullStats.dropRight(1) :+
                  $"pr.v".as("v_pct"))): _*)
          } else if (kind == "stats") {
            // stats_bucket: the full stats shape over bucket counts
            sib.agg(count(lit(1)).as("doc_count"),
              count($"doc_count").as("bc"),
              sum($"doc_count".cast("double")).as("bs"),
              min($"doc_count").as("bn"), max($"doc_count").as("bx"))
              .select((lit("").as("key") +: key2Blank +: $"doc_count" +:
                Seq($"bc".as("v_count"), $"bs".as("v_sum"),
                  $"bn".cast("double").as("v_min"),
                  $"bx".cast("double").as("v_max"),
                  when($"bc" > 0, $"bs" / $"bc")
                    .otherwise(lit(null).cast("double")).as("v_avg"),
                  lit(null).cast("double").as("v_pct"))): _*)
          } else {
          val v = kind match {
            case "avg" => avg($"doc_count".cast("double"))
            case "sum" => sum($"doc_count".cast("double"))
            case "min" => min($"doc_count").cast("double")
            case _ => max($"doc_count").cast("double")
          }
          val slot = s"v_$kind"
          val statsOut = Seq("v_count", "v_sum", "v_min", "v_max",
            "v_avg", "v_pct").map {
            case s if s == slot => col("pv").as(s)
            case "v_count" => lit(null).cast("long").as("v_count")
            case s => lit(null).cast("double").as(s)
          }
          sib.agg(count(lit(1)).as("doc_count"), v.as("pv"))
            .select((lit("").as("key") +: key2Blank +: $"doc_count" +:
              statsOut): _*)
          }
        case other => // unreachable: parse refuses these at top level
          fail(s"not a top-level aggregation: $other")
      }
      val parent = cut.withColumn("agg", lit(spec.name))
        .select(OutCols.map(col): _*)
      // child rows of a bucket sub: the {parent, child} set, gated to
      // the SURVIVING parent buckets (bucket-grain broadcast semi join)
      val child = bucketSubOf.get(i).map { case (sn, sa) =>
        val me = gkOf(i).get
        val mine2 = gkNames.map(n =>
          col(s"g_$n") === (if (n == me || n == s"gk2$i") 0 else 1))
          .reduce(_ && _)
        val rows = grouped.filter(mine2 && col(me).isNotNull &&
          col(s"gk2$i").isNotNull)
          .withColumn("key", col(me).cast("string"))
          .withColumn("key2", col(s"gk2$i").cast("string"))
        val kept = rows.join(broadcast(cut.select($"key")), Seq("key"),
          "left_semi")
        val cut2 = sa match {
          case TermsAgg(_, n2, ord2, _, _, _, _) =>
            // per-parent top-N: a bucket-grain window, ES's sub-terms cut
            val o2: Seq[Column] = ord2 match {
              case ByKey => Seq($"key2".asc)
              case ByKeyDesc => Seq($"key2".desc)
              case _ => Seq($"doc_count".desc, $"key2".asc)
            }
            val w = Window.partitionBy($"key").orderBy(o2: _*)
            kept.withColumn("rn", row_number().over(w))
              .filter($"rn" <= n2).drop("rn")
          case _ => kept
        }
        cut2.select(($"key" +: $"key2" +: $"doc_count" +: NullStats): _*)
          .withColumn("agg", lit(s"${spec.name}.$sn"))
          .select(OutCols.map(col): _*)
      }
      // parent pipeline sub: a window over the parent's bucket rows
      // ordered by bucket key — |buckets| rows, one partition, never
      // another corpus pass
      val pipeChild = spec.sub.collect { case (sn, pa: PipelineAgg) =>
        val ordKey: Column = spec.agg match {
          // hist keys are integrals rendered as strings — order
          // numerically or "20" would follow "100"
          case _: HistAgg => $"key".cast("long")
          case _ => $"key"
        }
        val w = Window.orderBy(ordKey.asc)
        val v = pa.kind match {
          case "cumulative_sum" =>
            sum($"doc_count".cast("double")).over(w)
          case "serial_diff" =>
            ($"doc_count" - lag($"doc_count", pa.lag).over(w)).cast("double")
          case "moving_fn" =>
            // ES shift convention: the ROWS frame is
            // [i-window+shift, i-1+shift]; empty frames → null (ES's
            // NaN-elided bucket). unweightedAvg emits as SUM/COUNT in
            // BOTH engines — one division of identical doubles, never
            // two engines' AVG implementations
            val wf = w.rowsBetween(pa.shift - pa.window, pa.shift - 1)
            val dv = $"doc_count".cast("double")
            pa.fn match {
              case "sum" => sum(dv).over(wf)
              case "min" => min(dv).over(wf)
              case "max" => max(dv).over(wf)
              case _ => sum(dv).over(wf) /
                when(count(dv).over(wf) === 0, lit(null).cast("double"))
                  .otherwise(count(dv).over(wf).cast("double"))
            }
          case "moving_percentiles" =>
            // the exact window percentile over the moving_fn frame —
            // see [[PipelineAgg]] for the TDigest divergence
            val wf = w.rowsBetween(pa.shift - pa.window, pa.shift - 1)
            percentile($"doc_count".cast("double"),
              lit((pa.pct / 100).toDouble)).over(wf)
          case "normalize" =>
            // whole-frame window aggregates from exact-int sums; a
            // degenerate frame (max = min, zero sum, zero variance)
            // yields null — see [[PipelineAgg]]
            val wAll = w.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)
            val dv = $"doc_count".cast("double")
            val s = sum(dv).over(wAll)
            val n = count(dv).over(wAll).cast("double")
            val q = sum(dv * dv).over(wAll)
            val mn = min($"doc_count").over(wAll).cast("double")
            val mx = max($"doc_count").over(wAll).cast("double")
            pa.fn match {
              case "rescale_0_1" =>
                when(mx > mn, (dv - mn) / (mx - mn))
              case "rescale_0_100" =>
                when(mx > mn, (dv - mn) / (mx - mn) * lit(100.0))
              case "percent_of_sum" =>
                when(s =!= 0.0, dv / s)
              case "mean" =>
                when(mx > mn, (dv - s / n) / (mx - mn))
              case _ => // z-score: population variance, the
                // extended_stats tree
                val m = s / n
                val varP = q / n - m * m
                when(varP > 0.0, (dv - m) / sqrt(varP))
            }
          case _ =>
            ($"doc_count" - lag($"doc_count", 1).over(w)).cast("double")
        }
        cut.select($"key", $"doc_count").withColumn("pv", v)
          .select(($"key" +: key2Blank +: $"doc_count" +:
            Seq(lit(null).cast("long").as("v_count"), $"pv".as("v_sum"),
              lit(null).cast("double").as("v_min"),
              lit(null).cast("double").as("v_max"),
              lit(null).cast("double").as("v_avg"),
              lit(null).cast("double").as("v_pct"))): _*)
          .withColumn("agg", lit(s"${spec.name}.$sn"))
          .select(OutCols.map(col): _*)
      }
      // cumulative_cardinality rows: the first-occurrence
      // decomposition (see [[CumCardAgg]]) — one (value, firstBucket)
      // shuffle, then a |buckets| running sum over the returned frame
      val ccChild = spec.sub.collect { case (sn, CumCardAgg(fld)) =>
        val ordKey: Column = spec.agg match {
          case _: HistAgg => $"key".cast("long")
          case _ => $"key"
        }
        val keyE = keyExprOf(spec.agg).get
        val firsts = matched
          .filter(col(fld).isNotNull && keyE.isNotNull)
          .groupBy(col(fld).as("ccv"))
          .agg(min(keyE).cast("string").as("key"))
          .groupBy($"key").agg(count(lit(1)).as("ccnf"))
        val w = Window.orderBy(ordKey.asc)
        cut.select($"key", $"doc_count")
          .join(firsts, Seq("key"), "left")
          .withColumn("pv",
            sum(coalesce($"ccnf", lit(0L))).over(w).cast("double"))
          .select(($"key" +: key2Blank +: $"doc_count" +:
            Seq(lit(null).cast("long").as("v_count"),
              $"pv".as("v_sum"),
              lit(null).cast("double").as("v_min"),
              lit(null).cast("double").as("v_max"),
              lit(null).cast("double").as("v_avg"),
              lit(null).cast("double").as("v_pct"))): _*)
          .withColumn("agg", lit(s"${spec.name}.$sn"))
          .select(OutCols.map(col): _*)
      }
      // bucket_script rows: one computed value per RETURNED bucket —
      // the PipelineAgg emission shape (value in v_sum)
      val scriptChild = spec.pipes.collect {
        case (sn, bp) if bp.kind == "bucket_script" =>
          val v = pexprEmit(bp.script.get, pipeParamResolver(spec, bp))._1
          cut.withColumn("pv", v)
            .select(($"key" +: key2Blank +: $"doc_count" +:
              Seq(lit(null).cast("long").as("v_count"),
                $"pv".as("v_sum"),
                lit(null).cast("double").as("v_min"),
                lit(null).cast("double").as("v_max"),
                lit(null).cast("double").as("v_avg"),
                lit(null).cast("double").as("v_pct"))): _*)
            .withColumn("agg", lit(s"${spec.name}.$sn"))
            .select(OutCols.map(col): _*)
      }
      Seq(parent) ++ child.toSeq ++ pipeChild.toSeq ++ ccChild.toSeq ++
        scriptChild
      }
    }
    frames.reduce(_ unionByName _).orderBy($"agg", $"key", $"key2")
  }

  /** The significant_terms frame: the one agg that reads the
    * PRE-FILTER corpus — one grouping pass over (field, match flag)
    * plus a broadcast 1-row totals aggregate; JLH score = (fg% − bg%)
    * · (fg% / bg%) from exact integer counts, identical expression
    * tree in both compilers. At 100 TB this is one extra columnar
    * pass pruned to the key field + the predicate's feature columns —
    * inherent to the statistic (a background model needs background
    * counts). */
  private def sigTermsFrame(full: DataFrame, spec: AggSpec,
      p: Plan): DataFrame = {
    import full.sparkSession.implicits._
    val (f, n) = spec.agg match {
      case SigTermsAgg(x, k) => (x, k)
      case other => fail(s"sig terms: $other") // unreachable
    }
    val flagged = full.select(col(f).as("k"),
      when(p.c.pred, 1).otherwise(0).as("fg"))
    val grouped = flagged.filter($"k".isNotNull)
      .groupBy($"k".cast("string").as("key"))
      .agg(sum($"fg").as("fgc"), count(lit(1)).as("bgc"))
    val totals = flagged.agg(sum($"fg").as("fgt"),
      count(lit(1)).as("bgt"))
    grouped.join(broadcast(totals))
      .withColumn("fgp", $"fgc".cast("double") / $"fgt".cast("double"))
      .withColumn("bgp", $"bgc".cast("double") / $"bgt".cast("double"))
      .withColumn("sc", ($"fgp" - $"bgp") * ($"fgp" / $"bgp"))
      .filter($"fgc" > 0 && $"fgp" > $"bgp")
      .orderBy($"sc".desc, $"key".asc).limit(n)
      .select((lit(spec.name).as("agg") +: $"key" +:
        lit("").as("key2") +: $"fgc".cast("long").as("doc_count") +:
        ($"bgc".cast("long").as("v_count") +:
          NullStats.tail.dropRight(1)) :+ $"sc".as("v_pct")): _*)
      .select(OutCols.map(col): _*)
  }

  /** The scripted_metric frame: ONE distributed sum of the compiled
    * map expression over the match set — map-side partials, shard
    * combine, final merge, exactly the init/map/combine/reduce
    * contract the parsed quartet pinned. */
  private def scriptedMetricFrame(matched: DataFrame,
      spec: AggSpec): DataFrame = {
    import matched.sparkSession.implicits._
    val e = spec.agg.asInstanceOf[ScriptedMetricAgg].expr
    val c = pexprEmit(e,
      _ => fail("scripted_metric: unbound param"))._1
    matched.agg(count(lit(1)).as("doc_count"), sum(c).as("pv"))
      .select((lit(spec.name).as("agg") +: lit("").as("key") +:
        lit("").as("key2") +: $"doc_count" +:
        (NullStats.head +: $"pv".as("v_sum") +: NullStats.drop(2))): _*)
      .select(OutCols.map(col): _*)
  }

  /** The significant_text frame: [[sigTermsFrame]]'s JLH over per-doc
    * DISTINCT tokens of the re-analyzed source field — one explode of
    * the (pruned) text column plus the same broadcast doc-grain
    * totals. At 100 TB the token pass shuffles (token, two counts),
    * never text — the vocabulary grain every tokenizer op here uses. */
  private def sigTextFrame(full: DataFrame, spec: AggSpec,
      p: Plan): DataFrame = {
    import full.sparkSession.implicits._
    val (f, n) = spec.agg match {
      case SigTextAgg(x, k) => (x, k)
      case other => fail(s"sig text: $other") // unreachable
    }
    val flagged = full.select(
      array_distinct(TextAnalysis.toks(col(f))).as("ts"),
      when(p.c.pred, 1).otherwise(0).as("fg"))
    // totals are DOC-grain (the JLH background model), computed before
    // the explode
    val totals = flagged.agg(sum($"fg").as("fgt"), count(lit(1)).as("bgt"))
    val grouped = flagged.select(explode($"ts").as("key"), $"fg")
      .filter($"key" =!= "")
      .groupBy($"key").agg(sum($"fg").as("fgc"), count(lit(1)).as("bgc"))
    grouped.join(broadcast(totals))
      .withColumn("fgp", $"fgc".cast("double") / $"fgt".cast("double"))
      .withColumn("bgp", $"bgc".cast("double") / $"bgt".cast("double"))
      .withColumn("sc", ($"fgp" - $"bgp") * ($"fgp" / $"bgp"))
      .filter($"fgc" > 0 && $"fgp" > $"bgp")
      .orderBy($"sc".desc, $"key".asc).limit(n)
      .select((lit(spec.name).as("agg") +: $"key" +:
        lit("").as("key2") +: $"fgc".cast("long").as("doc_count") +:
        ($"bgc".cast("long").as("v_count") +:
          NullStats.tail.dropRight(1)) :+ $"sc".as("v_pct")): _*)
      .select(OutCols.map(col): _*)
  }

  /** The nested agg's two frames: the tag-count parent row and the
    * tag-grain sub-terms buckets — one extra pass over the match set,
    * pruned to the tags column. */
  private def nestedAggFrames(matched: DataFrame,
      spec: AggSpec): Seq[DataFrame] = {
    import matched.sparkSession.implicits._
    val path = spec.agg.asInstanceOf[NestedAgg].path
    val (sn, t) = spec.sub.get match {
      case (n2, ta: TermsAgg) => (n2, ta)
      case other => fail(s"nested agg sub: $other") // unreachable post-parse
    }
    val sub = t.field.stripPrefix(path + ".")
    val tags = matched.select(explode(col(path)).as("graft_tag"))
    val parent = tags.agg(count(lit(1)).as("doc_count"))
      .select((lit(spec.name).as("agg") +: lit("").as("key") +:
        lit("").as("key2") +: $"doc_count" +: NullStats): _*)
      .select(OutCols.map(col): _*)
    val keyC = $"graft_tag".getField(sub)
    val grouped = tags.filter(keyC.isNotNull)
      .groupBy(keyC.cast("string").as("key"))
      .agg(count(lit(1)).as("doc_count"))
    val floored =
      if (t.minDoc > 1) grouped.filter($"doc_count" >= t.minDoc)
      else grouped
    val ord: Seq[Column] = t.order match {
      case ByKey => Seq($"key".asc)
      case ByKeyDesc => Seq($"key".desc)
      case _ => Seq($"doc_count".desc, $"key".asc)
    }
    val child = floored.orderBy(ord: _*).limit(t.topN)
      .select((lit(s"${spec.name}.$sn").as("agg") +: $"key" +:
        lit("").as("key2") +: $"doc_count" +: NullStats): _*)
      .select(OutCols.map(col): _*)
    Seq(parent, child)
  }

  /** The output column a terms `order` by a single-value metric sub
    * reads — both engines sort the same projected column. */
  private def orderColOf(kind: String): String = kind match {
    case "avg" => "v_avg"
    case "sum" => "v_sum"
    case "min" => "v_min"
    case "max" => "v_max"
    case _ => "v_count" // value_count, cardinality (exact or sketch)
  }

  // ---------------------------------------- bucket-pipe emission

  /** Lockstep Column/SQL emission of a pipe script — all operands
    * DOUBLE (the slots already are; counts cast), so both engines run
    * the same IEEE arithmetic tree. */
  /** Applies a body's `runtime_mappings` to the docs frame — each
    * field becomes one computed column, so every downstream clause /
    * sort / agg sees plain schema (and Catalyst collapses the
    * projection into the scan). `long` truncates toward zero in BOTH
    * engines: Spark's double→long cast ≡ DuckDB `trunc()` (a bare
    * DuckDB CAST would ROUND — the one divergence this helper
    * exists to pin). */
  private def withRuntime(docs: DataFrame, b: Body): DataFrame =
    b.runtime.foldLeft(docs) { case (d, (n, e, t)) =>
      if (d.columns.contains(n))
        fail(s"runtime_mappings: '$n' collides with a mapped column")
      val c = pexprEmit(e,
        p2 => fail(s"runtime_mappings.$n: unbound params.$p2"))._1
      d.withColumn(n,
        if (t == "long") c.cast("long") else c.cast("double"))
    }

  /** [[withRuntime]]'s oracle twin: wraps the relation with the same
    * computed columns (aliased `f` — [[pexprEmit]] qualifies
    * doc-value refs as `f.<field>`). */
  private def runtimeRel(b: Body, rel: String): String =
    if (b.runtime.isEmpty) rel
    else {
      val cols = b.runtime.map { case (n, e, t) =>
        val s2 = pexprEmit(e,
          p2 => fail(s"runtime_mappings.$n: unbound params.$p2"))._2
        val v = if (t == "long") s"CAST(trunc($s2) AS BIGINT)"
          else s"CAST($s2 AS DOUBLE)"
        s"$v AS $n"
      }.mkString(", ")
      s"(SELECT f.*, $cols FROM $rel AS f)"
    }

  private def pexprEmit(e: PExpr,
      resolve: String => (Column, String)): (Column, String) = e match {
    case PNum(v) => (lit(v.toDouble),
      s"CAST(${v.underlying.toPlainString} AS DOUBLE)")
    case PParam(n) => resolve(n)
    case PDoc(f) => (col(f).cast("double"), s"CAST(f.$f AS DOUBLE)")
    case PBin(op, l, r) =>
      val (lc, ls) = pexprEmit(l, resolve)
      val (rc, rs) = pexprEmit(r, resolve)
      op match {
        case "+" => (lc + rc, s"($ls + $rs)")
        case "-" => (lc - rc, s"($ls - $rs)")
        case "*" => (lc * rc, s"($ls * $rs)")
        case "/" =>
          // engine divergence guard (ADVICE r15): Spark's non-ANSI
          // Divide returns NULL on /0 while DuckDB's IEEE doubles give
          // ±inf/NaN. NULLIF the divisor in BOTH engines so a
          // zero-valued metric yields NULL on both sides of the oracle.
          (lc / when(rc === lit(0.0), lit(null).cast("double"))
            .otherwise(rc), s"($ls / NULLIF($rs, 0))")
        case ">" => (lc > rc, s"($ls > $rs)")
        case ">=" => (lc >= rc, s"($ls >= $rs)")
        case "<" => (lc < rc, s"($ls < $rs)")
        case "<=" => (lc <= rc, s"($ls <= $rs)")
        case "==" => (lc === rc, s"($ls = $rs)")
        case _ => (lc =!= rc, s"($ls <> $rs)")
      }
  }

  /** A buckets_path value over a RETURNED bucket row: `_count` or the
    * parent's metric-sub slot, emitted DOUBLE in both engines. */
  private def pipeSlotOf(spec: AggSpec, path: String): (Column, String) =
    path match {
      case "_count" => (col("doc_count").cast("double"),
        "CAST(doc_count AS DOUBLE)")
      case _ =>
        val (k, _) = metricKindField(spec.sub.get._2)
        val slot = orderColOf(k)
        if (slot == "v_count")
          (col(slot).cast("double"), s"CAST($slot AS DOUBLE)")
        else (col(slot), slot)
    }

  private def pipeParamResolver(spec: AggSpec,
      bp: BucketPipe): String => (Column, String) =
    prm => pipeSlotOf(spec, bp.paths.find(_._1 == prm).get._2)

  /** A bucket_sort key: `_key` (numeric for histogram — the
    * PipelineAgg key-order precedent), `_count`, or the metric slot. */
  private def pipeSortKeyOf(spec: AggSpec,
      path: String): (Column, String) = path match {
    case "_key" => spec.agg match {
      case _: HistAgg => (col("key").cast("long"), "CAST(key AS BIGINT)")
      case _ => (col("key"), "key")
    }
    case "_count" => (col("doc_count"), "doc_count")
    case _ => pipeSlotOf(spec, path)
  }

  /** The random_sampler document gate — md5("seed:doc_id")/2^60 <
    * probability, in lockstep Column/SQL (the RandomFn hash idiom). */
  private def samplerGate(prob: BigDecimal, seed: Long): Column =
    conv(substring(md5(concat(lit(s"$seed:"),
      col("doc_id").cast("string"))), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(TwoPow60) <
      lit(prob.toDouble)

  private def samplerGateSql(prob: BigDecimal, seed: Long): String =
    s"(CAST(('0x' || substr(md5('$seed:' || CAST(f.doc_id AS " +
      s"VARCHAR)), 1, 15))::BIGINT AS DOUBLE) / " +
      s"CAST(${dLit(TwoPow60)} AS DOUBLE)) < " +
      s"CAST(${prob.underlying.toPlainString} AS DOUBLE)"

  /** The auto_date_histogram span column name for a field. */
  private def adhSpanCol(f: String): String = s"adh_span_$f"

  /** Spark-side pipe application over the parent's RETURNED buckets:
    * selector filters, then sort pages via a \|buckets\|-row window —
    * never another corpus pass. The SQL twin is `pipedInnerSql`
    * inside the oracle generator. */
  private def applyBucketPipes(spec: AggSpec,
      cut0: DataFrame): DataFrame = {
    if (spec.pipes.isEmpty) cut0
    else {
      val selected = spec.pipes.filter(_._2.kind == "bucket_selector")
        .foldLeft(cut0) { case (d, (_, bp)) =>
          d.filter(pexprEmit(bp.script.get,
            pipeParamResolver(spec, bp))._1)
        }
      spec.pipes.find(_._2.kind == "bucket_sort") match {
        case None => selected
        case Some((_, bp)) =>
          val ord = bp.sortKeys.map { case (pth, asc) =>
            val c = pipeSortKeyOf(spec, pth)._1
            if (asc) c.asc_nulls_last else c.desc_nulls_last
          } :+ col("key").asc
          val w = Window.orderBy(ord: _*)
          val paged = selected
            .withColumn("bprn", row_number().over(w))
            .filter(col("bprn") > bp.from)
          bp.size.map(s => paged.filter(col("bprn") <= bp.from + s))
            .getOrElse(paged).drop("bprn")
      }
    }
  }

  /** Bucket-grain serving must not silently drop a doc-grain sub. */
  private def refuseTopHits(b: Body): Unit =
    b.aggs.foreach { sp =>
      if (sp.agg.isInstanceOf[TopHitsAgg] ||
          sp.sub.exists(_._2.isInstanceOf[TopHitsAgg]))
        fail("top_hits returns DOCUMENTS, not buckets — it is served by " +
          "dslTopHitsOf (one terms parent + one top_hits sub); bucket " +
          "metrics stay with dslAggsOf")
    }

  /** ln 2 as ONE precomputed constant both compilers share —
    * `Double.toString` round-trips, so the SQL literal parses back to
    * the identical double (the libm-parity discipline: never let each
    * engine derive its own constant). */
  private val Ln2: Double = math.log(2.0)

  private val NullStats = Seq(
    lit(null).cast("long").as("v_count"), lit(null).cast("double").as("v_sum"),
    lit(null).cast("double").as("v_min"), lit(null).cast("double").as("v_max"),
    lit(null).cast("double").as("v_avg"),
    lit(null).cast("double").as("v_pct"))

  private val OutCols = Seq("agg", "key", "key2", "doc_count", "v_count",
    "v_sum", "v_min", "v_max", "v_avg", "v_pct")

  /** Generated DuckDB SQL for the same aggregation body — the
    * [[dslSql]] lockstep discipline applied to aggs. */
  def dslAggsSql(json: String): String = dslAggsSqlOver(json, "documents")

  def dslAggsSqlOver(json: String, rel0: String): String = {
    val b = parseBody(json)
    if (b.aggs.isEmpty) fail("no aggs in body — use dslSqlOver")
    val rel = runtimeRel(b, rel0)
    refuseTopHits(b)
    val filterNodes = aggClauseNodes(b)
    val p = mergedFilterPlan(b.query +: filterNodes)
    val aggFields = b.aggs.flatMap(aggSpecFields).distinct
    def statSql(x: String): Seq[String] = Seq(
      s"COUNT($x) AS v_count",
      s"CAST(SUM(CAST($x AS DOUBLE)) AS DOUBLE) AS v_sum",
      s"CAST(MIN($x) AS DOUBLE) AS v_min",
      s"CAST(MAX($x) AS DOUBLE) AS v_max",
      s"CASE WHEN COUNT($x) > 0 THEN CAST(SUM(CAST($x AS DOUBLE)) " +
        s"AS DOUBLE) / COUNT($x) ELSE CAST(NULL AS DOUBLE) END AS v_avg")
    val nullC = "CAST(NULL AS BIGINT) AS v_count"
    val nullV = Map("v_sum" -> "CAST(NULL AS DOUBLE) AS v_sum",
      "v_min" -> "CAST(NULL AS DOUBLE) AS v_min",
      "v_max" -> "CAST(NULL AS DOUBLE) AS v_max",
      "v_avg" -> "CAST(NULL AS DOUBLE) AS v_avg",
      "v_pct" -> "CAST(NULL AS DOUBLE) AS v_pct")
    val nullStats = nullC +: Seq("v_sum", "v_min", "v_max", "v_avg",
      "v_pct").map(nullV)
    // [[outStats]]'s SQL mirror — per metric kind, same null shape
    def outStatsSql(kind: String, x: String): Seq[String] =
      (outStatsSql0(kind, x)) :+ nullV("v_pct")
    def outStatsSql0(kind: String, x: String): Seq[String] = kind match {
      case "stats" | "extended_stats" => statSql(x)
      case "avg" => Seq(nullC, nullV("v_sum"), nullV("v_min"),
        nullV("v_max"),
        s"CASE WHEN COUNT($x) > 0 THEN CAST(SUM(CAST($x AS DOUBLE)) " +
          s"AS DOUBLE) / COUNT($x) ELSE CAST(NULL AS DOUBLE) END AS v_avg")
      case "sum" => Seq(nullC,
        s"CAST(SUM(CAST($x AS DOUBLE)) AS DOUBLE) AS v_sum",
        nullV("v_min"), nullV("v_max"), nullV("v_avg"))
      case "min" => Seq(nullC, nullV("v_sum"),
        s"CAST(MIN($x) AS DOUBLE) AS v_min", nullV("v_max"),
        nullV("v_avg"))
      case "max" => Seq(nullC, nullV("v_sum"), nullV("v_min"),
        s"CAST(MAX($x) AS DOUBLE) AS v_max", nullV("v_avg"))
      case "value_count" => Seq(s"COUNT($x) AS v_count", nullV("v_sum"),
        nullV("v_min"), nullV("v_max"), nullV("v_avg"))
      case k if k.startsWith("cardinality_hll_") =>
        fail("cardinality with precision_threshold is an HLL++ sketch — " +
          "no generated oracle exists; register the body rows-only with " +
          "a bound test (the agg_hll stance)")
      case _ => Seq(s"COUNT(DISTINCT $x) AS v_count", nullV("v_sum"),
        nullV("v_min"), nullV("v_max"), nullV("v_avg"))
    }
    // (key expr SQL, null-guard field — None when `missing` makes the
    // key total) of a grouping bucket node
    def keySqlOf(a: AggNode): (String, Option[String]) = a match {
      case TermsAgg(f, _, _, Some(v), _, _, _) =>
        (s"COALESCE($f, ${v.sql})", None)
      case TermsAgg(f, _, _, None, _, _, _) => (f, Some(f))
      case DateHistAgg(f, iv, _) =>
        (iv match {
          case "month" => s"strftime($f, '%Y-%m')"
          case "week" => s"CAST(date_trunc('week', $f) AS DATE)"
          case _ => f
        }, Some(f))
      case AutoDateHistAgg(f, bk) =>
        // the declarative twin of the broadcast span column: scalar
        // subqueries over the match CTE pick the same unit
        val span = s"COALESCE((SELECT date_diff('day', MIN($f), " +
          s"MAX($f)) FROM m), 0)"
        (s"CASE WHEN $span < $bk THEN CAST($f AS VARCHAR) " +
          s"WHEN $span < ${bk * 31} THEN strftime($f, '%Y-%m') " +
          s"ELSE strftime($f, '%Y') END", Some(f))
      case HistAgg(f, iv) => (s"($f // $iv) * $iv", Some(f))
      case other => fail(s"not a grouping bucket: $other") // unreachable
    }
    def statsOfSpec(spec: AggSpec): Seq[String] =
      spec.sub.filter(x => isMetric(x._2)) match {
        case Some((_, m)) =>
          val (k, x) = metricKindField(m); outStatsSql(k, x)
        case None => nullStats
      }
    // FINAL parent bucket rows of a grouping agg (key guard,
    // include/exclude gate, min_doc_count floor, top-N cut all
    // applied) — shared by the agg's own branch, its child's
    // surviving-parent gate, and any sibling pipeline reading it
    def groupingInnerSql(spec: AggSpec): String = {
      val name = s"'${quoteSql(spec.name)}'"
      val stats = statsOfSpec(spec)
      def inner(keyExpr: String, guard: Option[String], having: String,
          ordAndLimit: String, keyConds: Seq[String] = Seq.empty): String = {
        val conds = guard.map(g => s"$g IS NOT NULL").toSeq ++ keyConds
        val whereSql =
          if (conds.isEmpty) "" else " WHERE " + conds.mkString(" AND ")
        s"""SELECT $name AS agg, CAST($keyExpr AS VARCHAR) AS key,
           |    '' AS key2, COUNT(*) AS doc_count,
           |    ${stats.mkString(",\n    ")}
           |  FROM m$whereSql GROUP BY $keyExpr$having$ordAndLimit"""
          .stripMargin
      }
      spec.agg match {
        case TermsAgg(_, n, ord, _, minDoc, inc, exc) =>
          val ordSql = ord match {
            case ByKey => "key"
            case ByKeyDesc => "key DESC"
            case ByCount => "doc_count DESC, key"
            case BySub(_, asc) =>
              val (k, _) = metricKindField(
                spec.sub.filter(x => isMetric(x._2)).get._2)
              s"${orderColOf(k)} ${if (asc) "ASC" else "DESC"} " +
                "NULLS LAST, key"
          }
          val (kx, guard) = keySqlOf(spec.agg)
          val keyConds =
            inc.map(x => s"regexp_full_match(CAST($kx AS VARCHAR), " +
              s"'${quoteSql(x)}')").toSeq ++
            exc.map(x => s"NOT regexp_full_match(CAST($kx AS VARCHAR), " +
              s"'${quoteSql(x)}')").toSeq
          val having =
            if (minDoc > 1) s"\n  HAVING COUNT(*) >= $minDoc" else ""
          inner(kx, guard, having, s"\n  ORDER BY $ordSql LIMIT $n",
            keyConds)
        case DateHistAgg(fld, _, false) =>
          inner(keySqlOf(spec.agg)._1, Some(fld), "", "")
        case DateHistAgg(fld, iv, true) =>
          // min_doc_count 0 gap fill — generate_series over the
          // populated span, LEFT JOIN the populated buckets (the
          // groupingCut twin); empty buckets: doc_count 0, NULL slots
          val base = inner(keySqlOf(spec.agg)._1, Some(fld), "", "")
          def bound(f2: String): String = iv match {
            case "month" => s"date_trunc('month', (SELECT $f2($fld) " +
              s"FROM m WHERE $fld IS NOT NULL))"
            case "week" => s"date_trunc('week', (SELECT $f2($fld) " +
              s"FROM m WHERE $fld IS NOT NULL))"
            case _ => s"(SELECT $f2($fld) FROM m WHERE $fld IS NOT NULL)"
          }
          val render = if (iv == "month") "strftime(kd, '%Y-%m')"
            else "CAST(CAST(kd AS DATE) AS VARCHAR)"
          val step = iv match {
            case "month" => "1 MONTH"
            case "week" => "7 DAY"
            case _ => "1 DAY"
          }
          s"""SELECT $name AS agg, gs.key, '' AS key2,
             |    COALESCE(pb.doc_count, 0) AS doc_count,
             |    pb.v_count, pb.v_sum, pb.v_min, pb.v_max, pb.v_avg,
             |    pb.v_pct
             |  FROM (SELECT CAST($render AS VARCHAR) AS key
             |        FROM (SELECT unnest(generate_series(
             |          ${bound("MIN")}, ${bound("MAX")},
             |          INTERVAL $step)) AS kd) AS g0) AS gs
             |  LEFT JOIN (
             |  $base) AS pb USING (key)""".stripMargin
        case a @ AutoDateHistAgg(_, _) =>
          val (kx2, guard) = keySqlOf(a)
          inner(kx2, guard, "", "")
        case HistAgg(fld, iv) =>
          inner(s"($fld // $iv) * $iv", Some(fld), "", "")
        case MultiTermsAgg(fs, n, ord) =>
          // null-propagating || mirrors the Spark concat key
          val kx = fs.map(f => s"CAST($f AS VARCHAR)")
            .mkString(" || '|' || ")
          val ordSql = ord match {
            case ByKey => "key"
            case ByKeyDesc => "key DESC"
            case _ => "doc_count DESC, key"
          }
          inner(kx, Some(s"($kx)"), "",
            s"\n  ORDER BY $ordSql LIMIT $n")
        case RareTermsAgg(fld, m) =>
          inner(fld, Some(fld), s"\n  HAVING COUNT(*) <= $m", "")
        case other => fail(s"not a grouping agg: $other") // unreachable
      }
    }
    // the bucket-script trio over the RETURNED buckets — selector as
    // a WHERE over the inner's output columns, sort as a
    // ROW_NUMBER page (the Spark twin is applyBucketPipes)
    val pipeOutCols = "agg, key, key2, doc_count, v_count, v_sum, " +
      "v_min, v_max, v_avg, v_pct"
    def pipedInnerSql(spec: AggSpec): String = {
      val base = groupingInnerSql(spec)
      if (spec.pipes.isEmpty) base
      else {
        val selConds = spec.pipes.filter(_._2.kind == "bucket_selector")
          .map { case (_, bp) =>
            pexprEmit(bp.script.get, pipeParamResolver(spec, bp))._2
          }
        val afterSel =
          if (selConds.isEmpty) s"SELECT $pipeOutCols FROM (\n  $base) AS bp0"
          else s"SELECT $pipeOutCols FROM (\n  $base) AS bp0\n  " +
            s"WHERE ${selConds.mkString(" AND ")}"
        spec.pipes.find(_._2.kind == "bucket_sort") match {
          case None => afterSel
          case Some((_, bp)) =>
            val ord = (bp.sortKeys.map { case (pth, asc) =>
              s"${pipeSortKeyOf(spec, pth)._2} " +
                s"${if (asc) "ASC" else "DESC"} NULLS LAST"
            } :+ "key ASC").mkString(", ")
            val hiCond = bp.size
              .map(s => s" AND bprn <= ${bp.from + s}").getOrElse("")
            s"""SELECT $pipeOutCols FROM (
               |  SELECT *, ROW_NUMBER() OVER (ORDER BY $ord) AS bprn
               |  FROM ($afterSel) AS bp1) AS bp2
               |WHERE bprn > ${bp.from}$hiCond""".stripMargin
        }
      }
    }
    def branch(spec: AggSpec): String = {
      val name = s"'${quoteSql(spec.name)}'"
      val metricSub = spec.sub.filter(x => isMetric(x._2))
      val bucketSub = spec.sub.filterNot(x => isMetric(x._2) ||
        x._2.isInstanceOf[PipelineAgg] || x._2.isInstanceOf[CumCardAgg])
      val stats = statsOfSpec(spec)
      // parent pipeline subs: a window over the parent's returned
      // buckets — the [[PipelineAgg]] bucket-grain contract in SQL
      def pipeChildSql(parentInner: String): Seq[String] =
        spec.sub.toSeq.collect { case (sn, pa: PipelineAgg) =>
          val okey = spec.agg match {
            case _: HistAgg => "CAST(key AS BIGINT)"
            case _ => "key"
          }
          // the moving_fn ROWS frame, ES shift convention (see
          // [[PipelineAgg]]): bounds mirror the Spark side's
          // rowsBetween(shift-window, shift-1) offsets exactly
          def bound(off: Int): String =
            if (off < 0) s"${-off} PRECEDING"
            else if (off == 0) "CURRENT ROW"
            else s"$off FOLLOWING"
          lazy val frame = s"(ORDER BY $okey ROWS BETWEEN " +
            s"${bound(pa.shift - pa.window)} AND ${bound(pa.shift - 1)})"
          val v = pa.kind match {
            case "cumulative_sum" =>
              s"CAST(SUM(doc_count) OVER (ORDER BY $okey) AS DOUBLE)"
            case "serial_diff" =>
              s"CAST(doc_count - LAG(doc_count, ${pa.lag}) OVER " +
                s"(ORDER BY $okey) AS DOUBLE)"
            case "moving_fn" => pa.fn match {
              case "sum" =>
                s"SUM(CAST(doc_count AS DOUBLE)) OVER $frame"
              case "min" =>
                s"MIN(CAST(doc_count AS DOUBLE)) OVER $frame"
              case "max" =>
                s"MAX(CAST(doc_count AS DOUBLE)) OVER $frame"
              case _ => // unweightedAvg: one shared SUM/COUNT division
                s"(SUM(CAST(doc_count AS DOUBLE)) OVER $frame / " +
                  s"NULLIF(CAST(COUNT(doc_count) OVER $frame AS " +
                  "DOUBLE), 0))"
            }
            case "moving_percentiles" =>
              val pLit = (pa.pct / 100).underlying.stripTrailingZeros
                .toPlainString
              s"quantile_cont(CAST(doc_count AS DOUBLE), $pLit) " +
                s"OVER $frame"
            case "normalize" =>
              // [[aggsOver]]'s whole-frame twin: the same exact-int
              // window aggregates, the same op sequence per method
              val wAll = s"(ORDER BY $okey ROWS BETWEEN UNBOUNDED " +
                "PRECEDING AND UNBOUNDED FOLLOWING)"
              val dv = "CAST(doc_count AS DOUBLE)"
              val sS = s"SUM($dv) OVER $wAll"
              val nS = s"CAST(COUNT($dv) OVER $wAll AS DOUBLE)"
              val qS = s"SUM(($dv) * ($dv)) OVER $wAll"
              val mnS = s"CAST(MIN(doc_count) OVER $wAll AS DOUBLE)"
              val mxS = s"CAST(MAX(doc_count) OVER $wAll AS DOUBLE)"
              pa.fn match {
                case "rescale_0_1" =>
                  s"CASE WHEN $mxS > $mnS THEN " +
                    s"($dv - $mnS) / ($mxS - $mnS) END"
                case "rescale_0_100" =>
                  s"CASE WHEN $mxS > $mnS THEN " +
                    s"($dv - $mnS) / ($mxS - $mnS) * 100.0 END"
                case "percent_of_sum" =>
                  s"CASE WHEN $sS <> 0.0 THEN $dv / ($sS) END"
                case "mean" =>
                  s"CASE WHEN $mxS > $mnS THEN " +
                    s"($dv - $sS / $nS) / ($mxS - $mnS) END"
                case _ => // z-score
                  val m = s"($sS / $nS)"
                  val varP = s"($qS / $nS - $m * $m)"
                  s"CASE WHEN $varP > 0.0 THEN " +
                    s"($dv - $m) / sqrt($varP) END"
              }
            case _ => s"CAST(doc_count - LAG(doc_count) OVER " +
              s"(ORDER BY $okey) AS DOUBLE)"
          }
          s"""(SELECT '${quoteSql(spec.name)}.${quoteSql(sn)}' AS agg,
             |  key, '' AS key2, doc_count,
             |  CAST(NULL AS BIGINT) AS v_count, $v AS v_sum,
             |  CAST(NULL AS DOUBLE) AS v_min,
             |  CAST(NULL AS DOUBLE) AS v_max,
             |  CAST(NULL AS DOUBLE) AS v_avg,
             |  CAST(NULL AS DOUBLE) AS v_pct
             |FROM (
             |  $parentInner) AS pb)""".stripMargin
        }
      // child rows: the {parent, child} grouping, gated to surviving
      // parents (the IN mirrors the Spark side's broadcast semi join)
      def childOf(parentInner: Option[String]): String = {
        val (sn, sa) = bucketSub.get
        val (pk, pguard) = keySqlOf(spec.agg)
        val (ck, cguard) = keySqlOf(sa)
        val guards = (pguard.toSeq ++ cguard.toSeq)
          .map(g => s"$g IS NOT NULL")
        val whereSql =
          if (guards.isEmpty) "" else " WHERE " + guards.mkString(" AND ")
        val grouped =
          s"""SELECT CAST($pk AS VARCHAR) AS key, CAST($ck AS VARCHAR)
             |      AS key2, COUNT(*) AS doc_count
             |    FROM m$whereSql
             |    GROUP BY $pk, $ck""".stripMargin
        val cutGrouped = sa match {
          case TermsAgg(_, n2, ord2, _, _, _, _) =>
            val o2 = ord2 match {
              case ByKey => "key2"
              case ByKeyDesc => "key2 DESC"
              case _ => "doc_count DESC, key2"
            }
            s"""SELECT key, key2, doc_count FROM (
               |    SELECT key, key2, doc_count, ROW_NUMBER() OVER (
               |      PARTITION BY key ORDER BY $o2) AS rn
               |    FROM ($grouped) AS g0) AS g1 WHERE rn <= $n2"""
              .stripMargin
          case _ => grouped
        }
        val gate = parentInner.map(pi =>
          s"\nWHERE ch.key IN (SELECT key FROM (\n  $pi) AS pk)")
          .getOrElse("")
        s"""SELECT '${quoteSql(spec.name)}.${quoteSql(sn)}' AS agg,
           |  ch.key, ch.key2, ch.doc_count,
           |  ${nullStats.mkString(",\n  ")}
           |FROM (
           |  $cutGrouped) AS ch$gate""".stripMargin
      }
      // bucket_script rows in SQL: the PipelineAgg emission shape
      def scriptChildSql(parentInner: String): Seq[String] =
        spec.pipes.collect { case (sn, bp) if bp.kind == "bucket_script" =>
          val v = pexprEmit(bp.script.get, pipeParamResolver(spec, bp))._2
          s"""(SELECT '${quoteSql(spec.name)}.${quoteSql(sn)}' AS agg,
             |  key, '' AS key2, doc_count,
             |  CAST(NULL AS BIGINT) AS v_count, $v AS v_sum,
             |  CAST(NULL AS DOUBLE) AS v_min,
             |  CAST(NULL AS DOUBLE) AS v_max,
             |  CAST(NULL AS DOUBLE) AS v_avg,
             |  CAST(NULL AS DOUBLE) AS v_pct
             |FROM (
             |  $parentInner) AS sc)""".stripMargin
        }
      // cumulative_cardinality rows in SQL — the [[CumCardAgg]]
      // first-occurrence decomposition, running-summed over the
      // returned frame
      def ccChildSql(parentInner: String): Seq[String] =
        spec.sub.toSeq.collect { case (sn, CumCardAgg(fld)) =>
          val okey = spec.agg match {
            case _: HistAgg => "CAST(key AS BIGINT)"
            case _ => "key"
          }
          val (pk, pguard) = keySqlOf(spec.agg)
          val guards = (Seq(s"f.$fld IS NOT NULL") ++
            pguard.map(g => s"$g IS NOT NULL")).mkString(" AND ")
          s"""(SELECT '${quoteSql(spec.name)}.${quoteSql(sn)}' AS agg,
             |  key, '' AS key2, doc_count,
             |  CAST(NULL AS BIGINT) AS v_count,
             |  CAST(SUM(COALESCE(ccnf, 0)) OVER (ORDER BY $okey)
             |    AS DOUBLE) AS v_sum,
             |  CAST(NULL AS DOUBLE) AS v_min,
             |  CAST(NULL AS DOUBLE) AS v_max,
             |  CAST(NULL AS DOUBLE) AS v_avg,
             |  CAST(NULL AS DOUBLE) AS v_pct
             |FROM (
             |  SELECT pb.*, ff.ccnf FROM (
             |  $parentInner) AS pb
             |  LEFT JOIN (
             |    SELECT fk AS key, COUNT(*) AS ccnf FROM (
             |      SELECT f.$fld AS ccv, CAST(MIN($pk) AS VARCHAR)
             |        AS fk
             |      FROM m AS f WHERE $guards
             |      GROUP BY f.$fld) AS f1
             |    GROUP BY fk) AS ff USING (key)) AS cb)""".stripMargin
        }
      spec.agg match {
        case _: TermsAgg =>
          val inner = pipedInnerSql(spec)
          val parent = s"SELECT * FROM (\n  $inner) AS t"
          (Seq(parent) ++
            bucketSub.toSeq.map(_ => s"(${childOf(Some(inner))})") ++
            scriptChildSql(inner)).mkString("\nUNION ALL\n")
        case _: DateHistAgg | _: HistAgg | _: MultiTermsAgg |
             _: RareTermsAgg | _: AutoDateHistAgg =>
          val inner = pipedInnerSql(spec)
          // with pipes, buckets can be DROPPED — child rows must gate
          // on the surviving parents exactly like the terms cut
          val childGate = if (spec.pipes.isEmpty) None else Some(inner)
          (Seq(s"($inner)") ++
            bucketSub.toSeq.map(_ => s"(${childOf(childGate)})") ++
            pipeChildSql(inner) ++ ccChildSql(inner) ++
            scriptChildSql(inner))
            .mkString("\nUNION ALL\n")
        case BucketMetricAgg("stats", path, _) =>
          val sib = b.aggs.find(_.name == path).get
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count,
             |  ${(statSql("doc_count") :+ nullV("v_pct"))
                  .mkString(",\n  ")}
             |FROM (
             |  ${pipedInnerSql(sib)}) AS sb""".stripMargin
        case BucketMetricAgg("extended_stats", path, _) =>
          // [[aggsOver]]'s bucket-grain variance tree — exact-int
          // sums over the sibling's returned buckets
          val sib = b.aggs.find(_.name == path).get
          val vq = "SUM(CAST(doc_count AS DOUBLE) * " +
            "CAST(doc_count AS DOUBLE))"
          val vcD = "CAST(COUNT(doc_count) AS DOUBLE)"
          val vsD = "CAST(SUM(CAST(doc_count AS DOUBLE)) AS DOUBLE)"
          val varS = s"($vq / $vcD - ($vsD / $vcD) * ($vsD / $vcD))"
          def exRow(kn: String, v: String): String =
            s"""SELECT $name AS agg, '$kn' AS key, '' AS key2,
               |  COUNT(*) AS doc_count,
               |  ${nullStats.dropRight(1).mkString(",\n  ")},
               |  $v AS v_pct
               |FROM (
               |  ${pipedInnerSql(sib)}) AS sb""".stripMargin
          (s"""SELECT $name AS agg, '' AS key, '' AS key2,
              |  COUNT(*) AS doc_count,
              |  ${(statSql("doc_count") :+ nullV("v_pct"))
                   .mkString(",\n  ")}
              |FROM (
              |  ${pipedInnerSql(sib)}) AS sb""".stripMargin +:
            Seq(exRow("sum_of_squares", vq),
              exRow("variance", varS),
              exRow("std_deviation", s"sqrt($varS)")))
            .mkString("\nUNION ALL\n")
        case BucketMetricAgg("percentiles", path, pcts) =>
          val sib = b.aggs.find(_.name == path).get
          pcts.map { pp =>
            val pLit = (pp / 100).underlying.stripTrailingZeros
              .toPlainString
            s"""SELECT $name AS agg, '${pctKeyOf(pp)}' AS key,
               |  '' AS key2, COUNT(*) AS doc_count,
               |  ${nullStats.dropRight(1).mkString(",\n  ")},
               |  quantile_cont(doc_count, $pLit) AS v_pct
               |FROM (
               |  ${pipedInnerSql(sib)}) AS sb""".stripMargin
          }.mkString("\nUNION ALL\n")
        case BucketMetricAgg(kind, path, _) =>
          val sib = b.aggs.find(_.name == path).get
          val fn = kind match {
            case "avg" => "AVG(CAST(doc_count AS DOUBLE))"
            case "sum" => "CAST(SUM(CAST(doc_count AS DOUBLE)) AS DOUBLE)"
            case "min" => "CAST(MIN(doc_count) AS DOUBLE)"
            case _ => "CAST(MAX(doc_count) AS DOUBLE)"
          }
          val slot = s"v_$kind"
          val cols = Seq("v_count", "v_sum", "v_min", "v_max", "v_avg",
            "v_pct").map {
            case c if c == slot => s"$fn AS $c"
            case "v_count" => "CAST(NULL AS BIGINT) AS v_count"
            case c => s"CAST(NULL AS DOUBLE) AS $c"
          }
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count,
             |  ${cols.mkString(",\n  ")}
             |FROM (
             |  ${pipedInnerSql(sib)}) AS sb""".stripMargin
        case MissingAgg(fld) =>
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count,
             |  ${stats.mkString(",\n  ")}
             |FROM m AS f WHERE f.$fld IS NULL""".stripMargin
        case DateRangeAgg(fld, ranges) =>
          ranges.map { r =>
            val conds = (Seq(s"f.$fld IS NOT NULL") ++
              r._1.map(d => s"f.$fld >= ${d.sql}") ++
              r._2.map(d => s"f.$fld < ${d.sql}")).mkString(" AND ")
            s"""SELECT $name AS agg, '${dateRangeLabel(r)}' AS key,
               |  '' AS key2,
               |  COUNT(*) AS doc_count, ${stats.mkString(",\n  ")}
               |FROM m AS f WHERE $conds""".stripMargin
          }.mkString("\nUNION ALL\n")
        case PctRanksAgg(x, vs) =>
          vs.map { v =>
            val prob = s"CAST(COUNT(*) FILTER (WHERE $x <= " +
              s"${SNum(v).sql}) AS DOUBLE) / CAST(COUNT($x) AS DOUBLE) " +
              "* 100.0"
            s"""SELECT $name AS agg, '${pctKeyOf(v)}' AS key,
               |  '' AS key2, COUNT(*) AS doc_count,
               |  ${nullStats.dropRight(1).mkString(",\n  ")},
               |  ($prob) AS v_pct
               |FROM m""".stripMargin
          }.mkString("\nUNION ALL\n")
        case GlobalAgg() =>
          val gStats = spec.sub.filter(x => isMetric(x._2)) match {
            case Some((_, m2)) =>
              val (k, x) = metricKindField(m2); outStatsSql(k, x)
            case None => nullStats
          }
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count,
             |  ${gStats.mkString(",\n  ")}
             |FROM f""".stripMargin
        case TopMetricsAgg(m2, sf, asc) =>
          val dir = if (asc) "ASC" else "DESC"
          s"""SELECT * FROM (
             |SELECT $name AS agg, '' AS key, '' AS key2,
             |  CAST(1 AS BIGINT) AS doc_count,
             |  ${nullStats.dropRight(1).mkString(",\n  ")},
             |  CAST($m2 AS DOUBLE) AS v_pct
             |FROM m ORDER BY $sf $dir NULLS LAST, doc_id LIMIT 1
             |) AS tm""".stripMargin
        case MetricAgg("extended_stats", x) =>
          // [[aggsOver]]'s expression tree: Σx²/n − (Σx/n)², exact
          // sums in, the same division/multiplication order out
          val vq = s"SUM(CAST($x AS DOUBLE) * CAST($x AS DOUBLE))"
          val vcD = s"CAST(COUNT($x) AS DOUBLE)"
          val vsD = s"CAST(SUM(CAST($x AS DOUBLE)) AS DOUBLE)"
          val varS = s"($vq / $vcD - ($vsD / $vcD) * ($vsD / $vcD))"
          def extraRow(kn: String, v: String): String =
            s"""SELECT $name AS agg, '$kn' AS key, '' AS key2,
               |  COUNT(*) AS doc_count,
               |  ${nullStats.dropRight(1).mkString(",\n  ")},
               |  $v AS v_pct
               |FROM m""".stripMargin
          (s"""SELECT $name AS agg, '' AS key, '' AS key2,
              |  COUNT(*) AS doc_count,
              |  ${outStatsSql("extended_stats", x).mkString(",\n  ")}
              |FROM m""".stripMargin +:
            Seq(extraRow("sum_of_squares", vq),
              extraRow("variance", varS),
              extraRow("std_deviation", s"sqrt($varS)")))
            .mkString("\nUNION ALL\n")
        case MetricAgg("boxplot", x) =>
          // [[aggsOver]]'s five keyed rows: MIN/MAX whiskers, exact
          // quantile_cont quartiles (the percentile parity)
          Seq(("min", s"CAST(MIN($x) AS DOUBLE)"),
              ("q1", s"quantile_cont($x, 0.25)"),
              ("q2", s"quantile_cont($x, 0.5)"),
              ("q3", s"quantile_cont($x, 0.75)"),
              ("max", s"CAST(MAX($x) AS DOUBLE)")).map { case (kn, v) =>
            s"""SELECT $name AS agg, '$kn' AS key, '' AS key2,
               |  COUNT(*) AS doc_count,
               |  ${nullStats.dropRight(1).mkString(",\n  ")},
               |  $v AS v_pct
               |FROM m""".stripMargin
          }.mkString("\nUNION ALL\n")
        case MadAgg(x) =>
          // the deviations' median re-derives the first median as a
          // scalar subquery — the oracle never trusts the broadcast
          val xd = s"CAST($x AS DOUBLE)"
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count,
             |  ${nullStats.dropRight(1).mkString(",\n  ")},
             |  quantile_cont(abs($xd -
             |    (SELECT quantile_cont($xd, 0.5) FROM m)), 0.5)
             |    AS v_pct
             |FROM m""".stripMargin
        case TTestAgg(af, aflt, bf, bflt, kind) =>
          // [[aggsOver]]'s expression trees re-derived step by step —
          // exact integer sums in, the same IEEE op sequence out
          def cs(o: Option[Node]): Option[String] = o.map(n2 =>
            compile(n2, scored = false, p.tfIdx, p.pfIdx, Map.empty,
              p.zfIdx, p.rfIdx, p.sfIdx).predSql)
          val (statRel, tSql, dfSql, okSql) = if (kind == "paired") {
            val both = s"$af IS NOT NULL AND $bf IS NOT NULL"
            val d = s"CASE WHEN $both THEN CAST($af AS DOUBLE) - " +
              s"CAST($bf AS DOUBLE) END"
            val rel2 =
              s"""(SELECT *,
                 |  (tq - ts * ts / nd) / (nd - 1) AS v
                 |FROM (SELECT *, CAST(tn AS DOUBLE) AS nd
                 |FROM (SELECT COUNT(*) AS doc_count, COUNT($d) AS tn,
                 |  SUM($d) AS ts, SUM(($d) * ($d)) AS tq
                 |FROM m) AS tt0) AS tt1)""".stripMargin
            (rel2, "(ts / nd) / sqrt(v / nd)", "nd - 1", "tn >= 2")
          } else {
            def popSql(x: String, c: Option[String], tag: String)
                : String = {
              val xv = c.map(cc => s"CASE WHEN $cc THEN $x END")
                .getOrElse(x)
              val xd = c.map(cc =>
                s"CASE WHEN $cc THEN CAST($x AS DOUBLE) END")
                .getOrElse(s"CAST($x AS DOUBLE)")
              s"COUNT($xv) AS tn$tag, SUM($xd) AS ts$tag, " +
                s"SUM(($xd) * ($xd)) AS tq$tag"
            }
            val rel2 =
              s"""(SELECT *,
                 |  (tq1 - ts1 * ts1 / nd1) / (nd1 - 1) AS v1,
                 |  (tq2 - ts2 * ts2 / nd2) / (nd2 - 1) AS v2,
                 |  ts1 / nd1 AS m1, ts2 / nd2 AS m2
                 |FROM (SELECT *, CAST(tn1 AS DOUBLE) AS nd1,
                 |  CAST(tn2 AS DOUBLE) AS nd2
                 |FROM (SELECT COUNT(*) AS doc_count,
                 |  ${popSql(af, cs(aflt), "1")},
                 |  ${popSql(bf, cs(bflt), "2")}
                 |FROM m AS f) AS tt0) AS tt1)""".stripMargin
            if (kind == "heteroscedastic") {
              val se2 = "(v1 / nd1 + v2 / nd2)"
              (rel2, s"(m1 - m2) / sqrt$se2",
                s"($se2 * $se2) / ((v1 / nd1) * (v1 / nd1) / " +
                  "(nd1 - 1) + (v2 / nd2) * (v2 / nd2) / (nd2 - 1))",
                "tn1 >= 2 AND tn2 >= 2")
            } else {
              val sp2 = "(((nd1 - 1) * v1 + (nd2 - 1) * v2) / " +
                "(nd1 + nd2 - 2))"
              (rel2,
                s"(m1 - m2) / sqrt($sp2 * (1.0 / nd1 + 1.0 / nd2))",
                "nd1 + nd2 - 2", "tn1 >= 2 AND tn2 >= 2")
            }
          }
          Seq(("t", tSql), ("df", dfSql)).map { case (kn, v) =>
            s"""SELECT $name AS agg, '$kn' AS key, '' AS key2,
               |  doc_count,
               |  ${nullStats.dropRight(1).mkString(",\n  ")},
               |  CASE WHEN $okSql THEN $v END AS v_pct
               |FROM $statRel AS ttx""".stripMargin
          }.mkString("\nUNION ALL\n")
        case StringStatsAgg(x) =>
          // [[aggsOver]]'s twin: length stats + the character
          // distribution folded in char order via list_reduce over
          // list(… ORDER BY ch) — the same op sequence, the same sum
          val statRel =
            s"""((SELECT COUNT(*) AS doc_count, COUNT($x) AS sc,
               |  MIN(length($x)) AS ln_min, MAX(length($x)) AS ln_max,
               |  CAST(SUM(CAST(length($x) AS DOUBLE)) AS DOUBLE)
               |    AS ln_sum
               |FROM m) CROSS JOIN
               |(SELECT list(struct_pack(ch := ch, c := c)
               |    ORDER BY ch) AS cc, SUM(c) AS tot
               |FROM (SELECT ch, COUNT(*) AS c
               |  FROM (SELECT unnest(string_split(f.$x, '')) AS ch
               |        FROM m AS f) AS e0
               |  WHERE length(ch) = 1 GROUP BY ch) AS g0))"""
              .stripMargin
          val term = "(CAST(s.c AS DOUBLE) / CAST(tot AS DOUBLE)) * " +
            "ln(CAST(s.c AS DOUBLE) / CAST(tot AS DOUBLE))"
          val tSum = "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
            s"list_transform(cc, s -> $term)), (a, b) -> a + b)"
          val ent = s"-($tSum / $Ln2)"
          Seq(("count", "CAST(sc AS DOUBLE)"),
            ("min_length",
              "CASE WHEN sc > 0 THEN CAST(ln_min AS DOUBLE) END"),
            ("max_length",
              "CASE WHEN sc > 0 THEN CAST(ln_max AS DOUBLE) END"),
            ("avg_length",
              "CASE WHEN sc > 0 THEN ln_sum / CAST(sc AS DOUBLE) END"),
            ("entropy",
              s"CASE WHEN sc > 0 AND tot IS NOT NULL THEN $ent END"))
            .map { case (kn, v) =>
              s"""SELECT $name AS agg, '$kn' AS key, '' AS key2,
                 |  doc_count,
                 |  ${nullStats.dropRight(1).mkString(",\n  ")},
                 |  $v AS v_pct
                 |FROM $statRel AS ssx""".stripMargin
            }.mkString("\nUNION ALL\n")
        case WeightedAvgAgg(v, w) =>
          val both = s"$v IS NOT NULL AND $w IS NOT NULL"
          val wv = s"SUM(CASE WHEN $both THEN CAST($v AS DOUBLE) * " +
            s"CAST($w AS DOUBLE) END)"
          val ww = s"SUM(CASE WHEN $both THEN CAST($w AS DOUBLE) END)"
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count,
             |  CAST(NULL AS BIGINT) AS v_count,
             |  CAST(NULL AS DOUBLE) AS v_sum,
             |  CAST(NULL AS DOUBLE) AS v_min,
             |  CAST(NULL AS DOUBLE) AS v_max,
             |  ($wv / $ww) AS v_avg,
             |  CAST(NULL AS DOUBLE) AS v_pct
             |FROM m""".stripMargin
        case SigTermsAgg(fld, n) =>
          // foreground = the match set, background = the whole corpus
          // (FROM f, not m — the one branch that reads pre-filter rows)
          s"""SELECT * FROM (
             |SELECT $name AS agg, key, '' AS key2,
             |  fgc AS doc_count, bgc AS v_count,
             |  CAST(NULL AS DOUBLE) AS v_sum,
             |  CAST(NULL AS DOUBLE) AS v_min,
             |  CAST(NULL AS DOUBLE) AS v_max,
             |  CAST(NULL AS DOUBLE) AS v_avg,
             |  ((fgp - bgp) * (fgp / bgp)) AS v_pct
             |FROM (
             |  SELECT key, fgc, bgc,
             |    CAST(fgc AS DOUBLE) / CAST(fgt AS DOUBLE) AS fgp,
             |    CAST(bgc AS DOUBLE) / CAST(bgt AS DOUBLE) AS bgp
             |  FROM (
             |    SELECT CAST(f.$fld AS VARCHAR) AS key,
             |      COUNT(*) FILTER (WHERE ${p.c.predSql}) AS fgc,
             |      COUNT(*) AS bgc
             |    FROM f WHERE f.$fld IS NOT NULL GROUP BY f.$fld) AS g
             |  CROSS JOIN (
             |    SELECT COUNT(*) FILTER (WHERE ${p.c.predSql}) AS fgt,
             |      COUNT(*) AS bgt
             |    FROM f) AS t) AS s2
             |WHERE fgc > 0 AND fgp > bgp
             |ORDER BY (fgp - bgp) * (fgp / bgp) DESC, key LIMIT $n
             |) AS sig""".stripMargin
        case SigTextAgg(_, n) =>
          // per-doc DISTINCT tokens of the re-analyzed text; totals
          // stay doc-grain (computed FROM f, never the exploded rows)
          s"""SELECT * FROM (
             |SELECT $name AS agg, key, '' AS key2,
             |  fgc AS doc_count, bgc AS v_count,
             |  CAST(NULL AS DOUBLE) AS v_sum,
             |  CAST(NULL AS DOUBLE) AS v_min,
             |  CAST(NULL AS DOUBLE) AS v_max,
             |  CAST(NULL AS DOUBLE) AS v_avg,
             |  ((fgp - bgp) * (fgp / bgp)) AS v_pct
             |FROM (
             |  SELECT key, fgc, bgc,
             |    CAST(fgc AS DOUBLE) / CAST(fgt AS DOUBLE) AS fgp,
             |    CAST(bgc AS DOUBLE) / CAST(bgt AS DOUBLE) AS bgp
             |  FROM (
             |    SELECT f.graft_tok AS key,
             |      COUNT(*) FILTER (WHERE ${p.c.predSql}) AS fgc,
             |      COUNT(*) AS bgc
             |    FROM (SELECT *, unnest(list_distinct($ToksExpr))
             |      AS graft_tok FROM f) AS f
             |    WHERE f.graft_tok <> '' GROUP BY f.graft_tok) AS g
             |  CROSS JOIN (
             |    SELECT COUNT(*) FILTER (WHERE ${p.c.predSql}) AS fgt,
             |      COUNT(*) AS bgt
             |    FROM f) AS t) AS s2
             |WHERE fgc > 0 AND fgp > bgp
             |ORDER BY (fgp - bgp) * (fgp / bgp) DESC, key LIMIT $n
             |) AS sig""".stripMargin
        case _: StatsAgg | _: MetricAgg | _: CardinalityAgg =>
          val (k, x) = metricKindField(spec.agg)
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count,
             |  ${outStatsSql(k, x).mkString(",\n  ")}
             |FROM m""".stripMargin
        case PercentilesAgg(x, ps) =>
          ps.map { pp =>
            val pLit = (pp / 100).underlying.stripTrailingZeros
              .toPlainString
            s"""SELECT $name AS agg, '${pctKeyOf(pp)}' AS key,
               |  '' AS key2, COUNT(*) AS doc_count,
               |  ${nullStats.dropRight(1).mkString(",\n  ")},
               |  quantile_cont($x, $pLit) AS v_pct
               |FROM m""".stripMargin
          }.mkString("\nUNION ALL\n")
        case RangeAgg(fld, ranges) =>
          ranges.map { r =>
            val conds = (Seq(s"f.$fld IS NOT NULL") ++
              r._1.map(v => s"f.$fld >= ${v.sql}") ++
              r._2.map(v => s"f.$fld < ${v.sql}")).mkString(" AND ")
            s"""SELECT $name AS agg, '${rangeLabel(r)}' AS key, '' AS key2,
               |  COUNT(*) AS doc_count, ${stats.mkString(",\n  ")}
               |FROM m AS f WHERE $conds""".stripMargin
          }.mkString("\nUNION ALL\n")
        case FilterAgg(n) =>
          val c = compile(n, scored = false, p.tfIdx, p.pfIdx, Map.empty,
            p.zfIdx, p.rfIdx, p.sfIdx)
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count,
             |  ${stats.mkString(",\n  ")}
             |FROM m AS f WHERE ${c.predSql}""".stripMargin
        case RandomSamplerAgg(pr, seed) =>
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count,
             |  ${stats.mkString(",\n  ")}
             |FROM m AS f WHERE ${samplerGateSql(pr, seed)}"""
            .stripMargin
        case FiltersAgg(fs) =>
          fs.map { case (nm, n) =>
            val c = compile(n, scored = false, p.tfIdx, p.pfIdx,
              Map.empty, p.zfIdx, p.rfIdx, p.sfIdx)
            s"""SELECT $name AS agg, '${quoteSql(nm)}' AS key,
               |  '' AS key2, COUNT(*) AS doc_count,
               |  ${stats.mkString(",\n  ")}
               |FROM m AS f WHERE ${c.predSql}""".stripMargin
          }.mkString("\nUNION ALL\n")
        case AdjacencyAgg(fs, sep) =>
          // singles + pairwise conjunctions, zero-count cells pruned
          // by the wrapping doc_count guard — the Spark twin's filter
          adjBuckets(fs, sep).map { case (nm, ns) =>
            val cond = ns.map(n2 => "(" + compile(n2, scored = false,
              p.tfIdx, p.pfIdx, Map.empty, p.zfIdx, p.rfIdx,
              p.sfIdx).predSql + ")").mkString(" AND ")
            s"""SELECT * FROM (
               |SELECT $name AS agg, '${quoteSql(nm)}' AS key,
               |  '' AS key2, COUNT(*) AS doc_count,
               |  ${stats.mkString(",\n  ")}
               |FROM m AS f WHERE $cond) AS adjc
               |WHERE adjc.doc_count > 0""".stripMargin
          }.mkString("\nUNION ALL\n")
        case NestedAgg(path) =>
          val (sn, t) = bucketSub.get match {
            case (n2, ta: TermsAgg) => (n2, ta)
            case other => fail(s"nested agg sub: $other") // unreachable
          }
          val sub = t.field.stripPrefix(path + ".")
          val tg = s"(SELECT unnest($path) AS t FROM m) AS tg"
          val ord = t.order match {
            case ByKey => "key"
            case ByKeyDesc => "key DESC"
            case _ => "doc_count DESC, key"
          }
          val having =
            if (t.minDoc > 1) s" HAVING COUNT(*) >= ${t.minDoc}" else ""
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count, ${nullStats.mkString(",\n  ")}
             |FROM $tg
             |UNION ALL
             |SELECT * FROM (
             |  SELECT '${quoteSql(spec.name)}.${quoteSql(sn)}' AS agg,
             |    CAST(tg.t.$sub AS VARCHAR) AS key, '' AS key2,
             |    COUNT(*) AS doc_count, ${nullStats.mkString(",\n    ")}
             |  FROM $tg WHERE tg.t.$sub IS NOT NULL
             |  GROUP BY tg.t.$sub$having
             |  ORDER BY $ord LIMIT ${t.topN}) AS z"""
            .stripMargin
        case ScriptedMetricAgg(e) =>
          val es = pexprEmit(e,
            _ => fail("scripted_metric: unbound param"))._2
          s"""SELECT $name AS agg, '' AS key, '' AS key2,
             |  COUNT(*) AS doc_count, $nullC,
             |  CAST(SUM($es) AS DOUBLE) AS v_sum,
             |  ${nullV("v_min")},
             |  ${nullV("v_max")},
             |  ${nullV("v_avg")},
             |  ${nullV("v_pct")}
             |FROM m AS f""".stripMargin
        case sa: SamplerAgg =>
          // the sample = the REAL hits SQL for (query, collapse?,
          // size shard_size); the sub re-enters this generator over
          // the id-restricted relation under match_all — the same
          // decomposition the Spark side runs
          val hits = dslSqlOver(samplerHitsJson(json, sa), rel)
          val parent =
            s"""SELECT $name AS agg, '' AS key, '' AS key2,
               |  COUNT(*) AS doc_count, ${nullStats.mkString(",\n  ")}
               |FROM (
               |$hits) AS smp""".stripMargin
          val subSql = spec.sub.toSeq.map { case (sn, _) =>
            val sampledRel =
              s"""(SELECT d.* FROM $rel AS d WHERE d.doc_id IN (
                 |  SELECT doc_id FROM (
                 |$hits) AS smp))""".stripMargin
            val subObj =
              JsonMethods.parse(json) \ "aggs" \ spec.name \ "aggs" match {
                case o: JObject => o
                case other => fail(s"sampler '${spec.name}' sub " +
                  s"json: $other") // unreachable post-parse
              }
            val renamed = JObject(subObj.obj.map {
              case (k, v) => (s"${spec.name}.$k", v)
            })
            val subJson = JsonMethods.compact(JsonMethods.render(
              JObject(List[(String, JValue)]("size" -> JInt(0),
                "aggs" -> renamed))))
            s"SELECT * FROM (\n${dslAggsSqlOver(subJson, sampledRel)}" +
              "\n) AS ssub"
          }
          (Seq(parent) ++ subSql).mkString("\nUNION ALL\n")
        case other => // unreachable: parse refuses these at top level
          fail(s"not a top-level aggregation: $other")
      }
    }
    s"""WITH ${fCteSql(p, aggFields, rel)},
       |m AS (SELECT * FROM f WHERE ${p.c.predSql})
       |SELECT * FROM (
       |${b.aggs.map(branch).mkString("\nUNION ALL\n")}
       |) AS u ORDER BY agg, key, key2""".stripMargin
  }

  /** ES `top_hits` under a terms bucket: the query's match set groups
    * by the parent key, the parent buckets take their terms cut
    * (order / missing / min_doc_count all honored), and each SURVIVING
    * bucket emits its top-`size` DOCUMENTS by the field sort (+ doc_id
    * tiebreak). Output: (agg = "parent.sub", key, rk, doc_id, <sort
    * fields>), sorted (agg, key, rk).
    *
    * Shape at 100 TB: one pruned scan + one bucket-grain aggregate for
    * the cut (broadcast back as a semi join) + one window partitioned
    * by bucket — rank state is per-bucket top-k, never a global sort;
    * the doc-grain frame carries only doc_id, the key, and the sort
    * fields. */
  /** SHARED body-shape validation for every top_hits serving path
    * (scan, served, oracle) — hoisted so all three refuse identically
    * (the r13 served twin silently ignored top-level hit keys).
    * Returns the parsed body plus the single (terms parent, top_hits
    * sub) the serving paths require. */
  private def topHitsShape(json: String)
      : (Body, String, TermsAgg, String, TopHitsAgg) = {
    val b = parseBody(json)
    if (b.size != 0)
      fail("a top_hits body returns no top-level hits — set size: 0; " +
        "pages are searchDslOf's job")
    if (b.from != 0 || b.sort.nonEmpty || b.source.nonEmpty ||
        b.after.nonEmpty || b.highlight.nonEmpty || b.collapse.nonEmpty ||
        b.rescore.nonEmpty)
      fail("a top_hits body returns no top-level hits — from/sort/" +
        "_source/search_after/highlight/collapse/rescore have no " +
        "meaning beside size: 0")
    val (pname, t, sn, th) = b.aggs match {
      case Seq(AggSpec(pn, ta: TermsAgg, Some((s2, tha: TopHitsAgg)),
          Seq())) =>
        (pn, ta, s2, tha)
      case Seq(AggSpec(_, _, _, pipes)) if pipes.nonEmpty =>
        fail("top_hits bodies take no bucket_selector/bucket_script/" +
          "bucket_sort (doc-grain output has no bucket rows to pipe)")
      case _ => fail("top_hits bodies serve exactly ONE terms " +
        "aggregation carrying ONE top_hits sub-aggregation")
    }
    if (t.order.isInstanceOf[BySub])
      fail(s"agg '$pname': cannot order by '$sn' — the sub is top_hits, " +
        "not a metric")
    if (t.include.nonEmpty || t.exclude.nonEmpty)
      fail(s"agg '$pname': include/exclude under top_hits is " +
        "unsupported — gate buckets in dslAggsOf, or filter the query")
    (b, pname, t, sn, th)
  }

  /** True when the top_hits sub ranks by `_score`; the bucket's query
    * must then be SCORED — its per-doc score computes exactly as a
    * solo [[searchDslOf]] run (same plan, same statistics — corpus
    * stats are pre-filter, so bucket gating cannot move them; DslSpec
    * pins the equality). */
  private def topHitsScoreSort(th: TopHitsAgg, p: Plan): Boolean = {
    val scored = th.sort.exists(_._1 == "_score")
    if (scored && p.c.score.isEmpty)
      fail("top_hits sorts by _score but the query is scoreless " +
        "(filter context only) — sort by a doc-value field instead")
    scored
  }

  private def topHitsExtra(t: TermsAgg, th: TopHitsAgg): Seq[String] =
    (t.field +: th.sort.map(_._1)).distinct
      .filter(f => f != "doc_id" && f != "_score")

  def dslTopHitsOf(docs: DataFrame, json: String): DataFrame =
    topHitsDsl(Scan(docs), json)

  /** [[dslTopHitsOf]] SERVED from the persisted index — the match set
    * and the sort fields come from doc-values (+ postings features for
    * text clauses); same per-bucket cut and window. */
  def dslTopHitsFromIndexes(spark: SparkSession, indexDirs: Seq[String],
      json: String): DataFrame =
    topHitsDsl(Served(spark, indexDirs), json)

  private def topHitsDsl(src: Source, json: String): DataFrame = {
    val (b0, pname, t, sn, th) = topHitsShape(json)
    if (b0.runtime.nonEmpty)
      fail("runtime_mappings on the top_hits endpoint are " +
        "unsupported — compute the field upstream, or query through " +
        "searchDslOf/dslAggsOf (the scan-path runtime-field homes)")
    val b = resolveBodyLookups(b0, src.fetch)
    val scoreSort = th.sort.exists(_._1 == "_score")
    val p = if (scoreSort) planOf(b.query, 0) else filterPlanOf(b.query)
    val scored = topHitsScoreSort(th, p)
    // a scored sort's plan carries the statistics; a field sort's
    // filter-context plan carries none
    val c = src.features(p, topHitsExtra(t, th))
    val m0 = c.stats.map(st => c.f.crossJoin(broadcast(st))).getOrElse(c.f)
      .filter(p.c.pred)
    val matched =
      if (scored) m0.withColumn("graft_score", p.c.score.get._1) else m0
    topHitsTail(matched, pname, t, sn, th)
  }

  /** The shared top_hits tail: parent terms cut → per-bucket window. */
  private def topHitsTail(matched: DataFrame, pname: String, t: TermsAgg,
      sn: String, th: TopHitsAgg): DataFrame = {
    import matched.sparkSession.implicits._
    val keyC = t.missing.map(v => coalesce(col(t.field), v.column))
      .getOrElse(col(t.field))
    val keyed = matched.filter(keyC.isNotNull)
      .withColumn("key", keyC.cast("string"))
    val grouped = keyed.groupBy($"key").agg(count(lit(1)).as("doc_count"))
    val floored =
      if (t.minDoc > 1) grouped.filter($"doc_count" >= t.minDoc)
      else grouped
    val pord: Seq[Column] = t.order match {
      case ByKey => Seq($"key".asc)
      case ByKeyDesc => Seq($"key".desc)
      case _ => Seq($"doc_count".desc, $"key".asc)
    }
    val parentCut = floored.orderBy(pord: _*).limit(t.topN).select($"key")
    val hord: Seq[Column] = th.sort.map { case (f2, asc) =>
      val c2 = if (f2 == "_score") col("graft_score") else col(f2)
      if (asc) c2.asc_nulls_last else c2.desc_nulls_last
    } :+ $"doc_id".asc
    val w = Window.partitionBy($"key").orderBy(hord: _*)
    // the double score stays INTERNAL (rank-only emission, the hit
    // page convention) — _score never becomes an output column
    val outSortCols = th.sort.map(_._1)
      .filter(f2 => f2 != "doc_id" && f2 != "_score").map(col)
    keyed.join(broadcast(parentCut), Seq("key"), "left_semi")
      .withColumn("rk", row_number().over(w)).filter($"rk" <= th.size)
      .select((lit(s"$pname.$sn").as("agg") +: $"key" +: $"rk" +:
        $"doc_id" +: outSortCols): _*)
      .orderBy($"agg", $"key", $"rk")
  }

  /** Oracle for [[dslTopHitsOf]] — same AST, same cut, same window. */
  def dslTopHitsSqlOver(json: String, rel: String): String = {
    val (b, pname, t, sn, th) = topHitsShape(json)
    val scoreSort = th.sort.exists(_._1 == "_score")
    val p = if (scoreSort) planOf(b.query, 0) else filterPlanOf(b.query)
    topHitsScoreSort(th, p)
    val extra = topHitsExtra(t, th)
    val keySql = t.missing
      .map(v => s"COALESCE(${t.field}, ${v.sql})").getOrElse(t.field)
    val guard =
      if (t.missing.isEmpty) s" AND ${t.field} IS NOT NULL" else ""
    val having =
      if (t.minDoc > 1) s" HAVING COUNT(*) >= ${t.minDoc}" else ""
    val pord = t.order match {
      case ByKey => "key"
      case ByKeyDesc => "key DESC"
      case _ => "doc_count DESC, key"
    }
    val hord = th.sort.map { case (f2, asc) =>
      s"${if (f2 == "_score") "graft_score" else f2} " +
        s"${if (asc) "ASC" else "DESC"} NULLS LAST"
    }.mkString("", ", ", ", doc_id")
    val outSort = th.sort.map(_._1)
      .filter(f2 => f2 != "doc_id" && f2 != "_score")
      .map(c => s", $c").mkString
    val scoreCol =
      if (scoreSort) s", ${p.c.score.get._2} AS graft_score" else ""
    val ctes = Seq(fCteSql(p, extra, rel)) ++
      (if (scoreSort) Seq(sCteSql(p)) else Seq.empty)
    val mFrom = if (scoreSort) "FROM f CROSS JOIN s" else "FROM f"
    s"""WITH ${ctes.mkString(",\n")},
       |m AS (SELECT *, CAST($keySql AS VARCHAR) AS key$scoreCol
       |      $mFrom
       |      WHERE ${p.c.predSql}$guard),
       |pt AS (SELECT key FROM (
       |  SELECT key, COUNT(*) AS doc_count FROM m GROUP BY key$having
       |  ORDER BY $pord LIMIT ${t.topN}) AS t0),
       |h AS (SELECT '${quoteSql(pname)}.${quoteSql(sn)}' AS agg, key,
       |  ROW_NUMBER() OVER (PARTITION BY key ORDER BY $hord) AS rk,
       |  doc_id$outSort
       |  FROM m WHERE key IN (SELECT key FROM pt))
       |SELECT * FROM h WHERE rk <= ${th.size}
       |ORDER BY agg, key, rk""".stripMargin
  }

  /** Registered `top_hits` body — top-2 longest matching docs per
    * language, the "examples per bucket" dashboard shape.
    *
    * Served from doc-values + postings candidates. */
  val TopHitsQuery: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {"by_lang": {"terms": {"field": "lang", "size": 3},
      |    "aggs": {"top": {"top_hits": {"size": 2,
      |      "sort": [{"n_chars": "desc"}]}}}}}}""".stripMargin

  /** Registered SCORED `top_hits` — the 2 most RELEVANT matching docs
    * per language (`sort: ["_score"]`): the bucket semi join + the
    * query's own score expression + the per-bucket window; each
    * bucket's hits are bit-identical to running the query solo
    * (corpus statistics are pre-filter — spec-pinned).
    *
    * Served: postings features + index statistics feed the same score
    * expression. */
  val TopHitsScoredQuery: String =
    """{"query": {"match": {"text": "dup vector"}}, "size": 0,
      |  "aggs": {"by_lang": {"terms": {"field": "lang", "size": 3},
      |    "aggs": {"top": {"top_hits": {"size": 2,
      |      "sort": ["_score"]}}}}}}""".stripMargin

  // ------------------------------------------ composite aggregation

  /** One `composite` source — a terms or (integer) histogram key with
    * its page direction. */
  private final case class CompSource(name: String, field: String,
      hist: Option[Long], asc: Boolean)

  private final case class CompShape(query: Node, aggName: String,
      sources: Seq[CompSource], pageSize: Int,
      after: Option[Seq[Scalar]],
      // (name, metric kind, field): single-value metric subs riding
      // each bucket row under their own names (r17 — the canonical
      // "page through all buckets WITH their metrics" ES shape)
      subs: Seq[(String, String, String)] = Seq.empty)

  /** Parse + validate a composite body: `size: 0`, exactly ONE
    * `composite` aggregation, `sources` of terms/histogram keys,
    * optional `after` cursor carrying every source key. Like
    * [[dslTopHitsOf]], composite is its OWN endpoint — its output is
    * bucket-key rows, not the (agg, key, …) union shape — so the
    * generic routes refuse it and vice versa. */
  private def compositeShape(json: String): CompShape = {
    val root = JsonMethods.parse(json) match {
      case o: JObject => o
      case other => fail(s"body must be a JSON object, got $other")
    }
    root.obj.collectFirst {
      case (k, _) if !Set("query", "size", "aggs").contains(k) => k
    }.foreach(k => fail(s"a composite body supports query/size/aggs, " +
      s"got '$k' (buckets and hit-shaping keys don't mix)"))
    root \ "size" match {
      case JInt(x) if x == 0 => ()
      case JNothing =>
        fail("a composite body returns no hits — set size: 0")
      case v =>
        fail(s"a composite body returns no hits — size must be 0, got $v")
    }
    val query = root \ "query" match {
      case JNothing => MatchAllQ
      case q => node(q)
    }
    val (aggName, spec, subsJ) = root \ "aggs" match {
      case JObject(List((an, JObject(entries))))
          if entries.exists(_._1 == "composite") =>
        val sp = entries.collectFirst { case ("composite", x) => x }.get
        entries.filter(_._1 != "composite") match {
          case Nil => (an, sp, JNothing: JValue)
          case List(("aggs", a)) => (an, sp, a)
          case more => fail(s"agg '$an' has unsupported option " +
            s"'${more.head._1}' — beside composite only aggs " +
            "(single-value metric subs) rides")
        }
      case _ => fail("a composite body carries exactly ONE composite " +
        "aggregation (other agg shapes are dslAggsOf's)")
    }
    val SubKinds = Set("avg", "max", "min", "sum", "value_count")
    val subs: Seq[(String, String, String)] = subsJ match {
      case JNothing => Seq.empty
      case JObject(entries) if entries.nonEmpty => entries.map {
        case (sn, JObject(List((kind, sdef)))) =>
          if (!SubKinds.contains(kind))
            fail(s"composite sub '$sn': unsupported type '$kind' — " +
              s"supported: ${SubKinds.toSeq.sorted.mkString(", ")} " +
              "(single-value metrics ride the bucket row; buckets " +
              "don't nest under a paged key)")
          sdef match {
            case o: JObject =>
              o.obj.collectFirst { case (k, _) if k != "field" => k }
                .foreach(k => fail(s"composite sub '$sn' has " +
                  s"unsupported option '$k' — supported: field"))
            case other =>
              fail(s"composite sub '$sn' expects an object, got $other")
          }
          sdef \ "field" match {
            case JString(f) => (sn, kind, f)
            case _ => fail(s"composite sub '$sn' needs a \"field\"")
          }
        case (sn, other) => fail(s"composite sub '$sn' must be a " +
          s"single-key metric object, got $other")
      }
      case _ => fail("composite aggs must be a non-empty object of " +
        "single-value metric subs")
    }
    if (subs.map(_._1).distinct.size != subs.size)
      fail("composite names a sub twice")
    spec match {
      case o: JObject =>
        o.obj.collectFirst {
          case (k, _) if !Set("sources", "size", "after").contains(k) => k
        }.foreach(k => fail(s"composite has unsupported option '$k' — " +
          "supported: after, size, sources"))
      case other => fail(s"composite expects an object, got $other")
    }
    val sources: Seq[CompSource] = spec \ "sources" match {
      case JArray(ss) if ss.nonEmpty => ss.map {
        case JObject(List((sname, JObject(List((stype, sdef)))))) =>
          val known = stype match {
            case "terms" => Set("field", "order")
            case "histogram" => Set("field", "interval", "order")
            case other => fail(s"composite source '$sname': " +
              s"unsupported type '$other' — supported: terms, " +
              "histogram (date sources and missing_bucket are " +
              "unsupported)")
          }
          sdef match {
            case o: JObject =>
              o.obj.collectFirst { case (k, _) if !known.contains(k) => k }
                .foreach(k => fail(s"composite source '$sname' has " +
                  s"unsupported option '$k' — supported: " +
                  known.toSeq.sorted.mkString(", ")))
            case other =>
              fail(s"composite source '$sname' expects an object, " +
                s"got $other")
          }
          val f = sdef \ "field" match {
            case JString(x) => x
            case _ => fail(s"composite source '$sname' needs a \"field\"")
          }
          val asc = sdef \ "order" match {
            case JNothing | JString("asc") => true
            case JString("desc") => false
            case v => fail(s"composite source '$sname' order must be " +
              s"""\"asc\" or \"desc\", got $v""")
          }
          val hist = stype match {
            case "terms" => None
            case _ => sdef \ "interval" match {
              case JInt(x) if x > 0 => Some(x.toLong)
              case v => fail(s"composite source '$sname' interval must " +
                s"be a positive integer, got $v (the histogram-agg " +
                "integer-bucketing rule)")
            }
          }
          CompSource(sname, f, hist, asc)
        case other => fail("composite sources must be single-key " +
          s"{name: {terms|histogram: …}} objects, got $other")
      }
      case _ => fail("composite needs a non-empty \"sources\" array")
    }
    if (sources.map(_.name).distinct.size != sources.size)
      fail("composite names a source twice")
    if (sources.exists(s => s.name == "doc_count" || s.name == "doc_id"))
      fail("a composite source may not be named doc_count or doc_id")
    subs.map(_._1).find(sn => sn == "doc_count" || sn == "doc_id" ||
        sources.exists(_.name == sn)).foreach(sn =>
      fail(s"composite sub '$sn' collides with a source/output column"))
    val pageSize = spec \ "size" match {
      case JNothing => DefaultSize
      case JInt(x) if x > 0 && x <= MaxResultWindow => x.toInt
      case v => fail(s"composite size must be a positive integer ≤ " +
        s"$MaxResultWindow, got $v")
    }
    val after = spec \ "after" match {
      case JNothing => None
      case o: JObject =>
        o.obj.collectFirst {
          case (k, _) if !sources.exists(_.name == k) => k
        }.foreach(k => fail(s"composite after key '$k' is not a source"))
        Some(sources.map { s =>
          o \ s.name match {
            case JNothing => fail("composite after must carry every " +
              s"source key — missing '${s.name}'")
            case v => scalar(v)
          }
        })
      case other => fail(s"composite after must be an object, got $other")
    }
    CompShape(query, aggName, sources, pageSize, after, subs)
  }

  private def compositeKey(s: CompSource): Column = s.hist match {
    // the histogram-agg integer floor-bucketing, verbatim
    case Some(iv) =>
      col(s.field).cast("long") - pmod(col(s.field).cast("long"), lit(iv))
    case None => col(s.field)
  }

  private def compositeKeySql(s: CompSource): String = s.hist match {
    case Some(iv) => s"(${s.field} // $iv) * $iv"
    case None => s.field
  }

  /** The keyset cursor: bucket keys strictly AFTER `after` in the
    * sources' (per-source-directed) lexicographic order — the standard
    * keyset-pagination disjunction, emitted by both compilers. */
  private def afterGate(sources: Seq[CompSource], after: Seq[Scalar])
      : (Column, String) = {
    val parts = sources.indices.map { i =>
      val eqs = (0 until i).map(j =>
        (col(sources(j).name) === after(j).column,
          s"${sources(j).name} = ${after(j).sql}"))
      val cmp =
        if (sources(i).asc)
          (col(sources(i).name) > after(i).column,
            s"${sources(i).name} > ${after(i).sql}")
        else (col(sources(i).name) < after(i).column,
          s"${sources(i).name} < ${after(i).sql}")
      val conj = eqs :+ cmp
      (conj.map(_._1).reduce(_ && _),
        conj.map(_._2).mkString("(", " AND ", ")"))
    }
    (parts.map(_._1).reduce(_ || _),
      parts.map(_._2).mkString("(", " OR ", ")"))
  }

  /** Shared tail of both serving paths. The `after` cursor gates ROWS
    * pre-aggregation — a bucket's page membership is a pure function
    * of its key, so the filter sits under the shuffle and prunes the
    * aggregate's input. That is the keyset-over-offset advantage at
    * scale: page N costs one filtered aggregation over the tail, not
    * a global top-(N·size) sort; ES pages large-cardinality buckets
    * exactly this way. Null keys drop (ES missing_bucket: false). */
  private def compositeTail(f: DataFrame, p: Plan, cs: CompShape)
      : DataFrame = {
    // metric-sub inputs ride the keyed projection under positional
    // aliases; avg splits into SUM + COUNT slots and divides POST-agg
    // (the statSql convention — one division of identical doubles in
    // both engines, never two AVG implementations)
    val subIn = cs.subs.zipWithIndex.map { case ((_, kind, fld), i) =>
      (if (kind == "value_count") col(fld)
       else col(fld).cast("double")).as(s"gsub_$i")
    }
    val keyed = f.filter(p.c.pred)
      .select(cs.sources.map(s => compositeKey(s).as(s.name)) ++
        subIn: _*)
      .filter(cs.sources.map(s => col(s.name).isNotNull).reduce(_ && _))
    val paged = cs.after match {
      case Some(a) => keyed.filter(afterGate(cs.sources, a)._1)
      case None => keyed
    }
    val ord = cs.sources.map(s =>
      if (s.asc) col(s.name).asc else col(s.name).desc)
    val subAggs = cs.subs.zipWithIndex.flatMap { case ((_, kind, _), i) =>
      val c = col(s"gsub_$i")
      kind match {
        case "avg" => Seq(sum(c).as(s"gs_$i"), count(c).as(s"gc_$i"))
        case "sum" => Seq(sum(c).as(s"gs_$i"))
        case "min" => Seq(min(c).as(s"gs_$i"))
        case "max" => Seq(max(c).as(s"gs_$i"))
        case _ => Seq(count(c).as(s"gs_$i")) // value_count
      }
    }
    val grouped = paged.groupBy(cs.sources.map(s => col(s.name)): _*)
      .agg(count(lit(1)).as("doc_count"), subAggs: _*)
    val withSubs = cs.subs.zipWithIndex.foldLeft(grouped) {
      case (df, ((nm, kind, _), i)) =>
        val v = kind match {
          case "avg" => when(col(s"gc_$i") > 0,
            col(s"gs_$i") / col(s"gc_$i"))
            .otherwise(lit(null).cast("double"))
          case "value_count" => col(s"gs_$i").cast("long")
          case _ => col(s"gs_$i").cast("double")
        }
        df.withColumn(nm, v)
    }
    withSubs
      .select((cs.sources.map(s => col(s.name)) :+ col("doc_count")) ++
        cs.subs.map(x => col(x._1)): _*)
      .orderBy(ord: _*).limit(cs.pageSize)
  }

  def dslAggsCompositeOf(docs: DataFrame, json: String): DataFrame =
    compositeDsl(Scan(docs), json)

  /** [[dslAggsCompositeOf]] SERVED from the index's doc-values (+
    * postings features for text clauses). */
  def dslAggsCompositeFromIndexes(spark: SparkSession,
      indexDirs: Seq[String], json: String): DataFrame =
    compositeDsl(Served(spark, indexDirs), json)

  private def compositeDsl(src: Source, json: String): DataFrame = {
    val cs0 = compositeShape(json)
    val cs =
      if (!hasLookup(cs0.query)) cs0
      else cs0.copy(query = resolveLookups(cs0.query, src.fetch))
    val p = filterPlanOf(cs.query)
    val fields = (cs.sources.map(_.field) ++ cs.subs.map(_._3))
      .distinct.filter(_ != "doc_id")
    compositeTail(src.features(p, fields).f, p, cs)
  }

  /** Oracle for [[dslAggsCompositeOf]] — same AST, same key
    * arithmetic, same cursor disjunction. */
  def dslAggsCompositeSqlOver(json: String, rel: String): String = {
    val cs = compositeShape(json)
    val p = filterPlanOf(cs.query)
    val fields = (cs.sources.map(_.field) ++ cs.subs.map(_._3))
      .distinct.filter(_ != "doc_id")
    val keys = cs.sources.map(s => s"${compositeKeySql(s)} AS ${s.name}")
    val names = cs.sources.map(_.name)
    val notNull = names.map(n => s"$n IS NOT NULL").mkString(" AND ")
    val gate = cs.after.map(a =>
      " AND " + afterGate(cs.sources, a)._2).getOrElse("")
    val ord = cs.sources.map(s =>
      s"${s.name}${if (s.asc) "" else " DESC"}").mkString(", ")
    // metric subs: identical aggregate shapes to the Spark tail —
    // avg emits the one shared SUM/COUNT division
    val subIn = cs.subs.zipWithIndex.map { case ((_, kind, fld), i) =>
      if (kind == "value_count") s", $fld AS gsub_$i"
      else s", CAST($fld AS DOUBLE) AS gsub_$i"
    }.mkString
    val subOut = cs.subs.zipWithIndex.map { case ((nm, kind, _), i) =>
      kind match {
        case "avg" => s""",
          |  CASE WHEN COUNT(gsub_$i) > 0 THEN
          |    CAST(SUM(gsub_$i) AS DOUBLE) / COUNT(gsub_$i)
          |    ELSE CAST(NULL AS DOUBLE) END AS $nm""".stripMargin
        case "sum" => s",\n  CAST(SUM(gsub_$i) AS DOUBLE) AS $nm"
        case "min" => s",\n  CAST(MIN(gsub_$i) AS DOUBLE) AS $nm"
        case "max" => s",\n  CAST(MAX(gsub_$i) AS DOUBLE) AS $nm"
        case _ => s",\n  COUNT(gsub_$i) AS $nm"
      }
    }.mkString
    s"""WITH ${fCteSql(p, fields, rel)},
       |k AS (SELECT ${keys.mkString(", ")}$subIn FROM f
       |      WHERE ${p.c.predSql})
       |SELECT ${names.mkString(", ")}, COUNT(*) AS doc_count$subOut
       |FROM k WHERE $notNull$gate
       |GROUP BY ${names.mkString(", ")}
       |ORDER BY $ord LIMIT ${cs.pageSize}""".stripMargin
  }

  /** Registered COMPOSITE page-1 body — language × 100-char length
    * buckets in source key order, the large-cardinality paging shape. */
  val CompositePage1Query: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {"pages": {"composite": {"size": 6, "sources": [
      |    {"lang": {"terms": {"field": "lang"}}},
      |    {"len": {"histogram": {"field": "n_chars", "interval": 100}}}
      |  ]}}}}""".stripMargin

  private def compositePage2Body(last: org.apache.spark.sql.Row): String =
    s"""{"query": {"match_all": {}}, "size": 0,
       |  "aggs": {"pages": {"composite": {"size": 6, "sources": [
       |    {"lang": {"terms": {"field": "lang"}}},
       |    {"len": {"histogram": {"field": "n_chars", "interval": 100}}}
       |  ], "after": {"lang": "${last.getString(0)}",
       |               "len": ${last.getLong(1)}}}}}}""".stripMargin

  /** Registered query: page 2 of [[CompositePage1Query]] via the
    * `after` keyset cursor. The oracle is the OFFSET form of the same
    * bucket ordering, so green IS the keyset ≡ offset proof for
    * buckets — the [[dslSearchAfter]] argument ported from hits. */
  def dslAggsComposite(spark: SparkSession, dir: String): DataFrame =
    compositeWalk(Documents.scan(spark, dir), "dsl_aggs_composite")

  /** The two-page walk over a source: page 1, then page 2 from page
    * 1's last key. */
  private def compositeWalk(src: Source, name: String): DataFrame = {
    val page1 = compositeDsl(src, CompositePage1Query).collect()
    if (page1.length < 6)
      throw new IllegalStateException(
        s"$name: fewer than 6 buckets — no second page")
    compositeDsl(src, compositePage2Body(page1.last))
  }

  /** The offset form of page 2: buckets 7-12 of the full ordering. */
  lazy val dslAggsCompositeOracleSql: String = {
    val wide = CompositePage1Query.replace("\"size\": 6", "\"size\": 12")
    s"""SELECT * FROM (${dslAggsCompositeSqlOver(wide, "documents")})
       |ORDER BY lang, len LIMIT 6 OFFSET 6""".stripMargin
  }

  /** Registered query: the same two-page composite walk SERVED from
    * the session index's doc-values; same offset oracle. */
  def dslAggsCompositeServed(spark: SparkSession, dir: String)
      : DataFrame =
    compositeWalk(Documents.served(spark, dir), "dsl_aggs_composite_served")

  /** Registered composite WITH metric subs (r17) — language × source
    * pages carrying per-bucket avg/max/value_count: the canonical
    * "walk every bucket with its metrics" export shape (one filtered
    * aggregation per page at scale, not a global sort). The desc
    * source direction exercises the per-source page order. */
  val CompositeSubsQuery: String =
    """{"query": {"range": {"n_chars": {"gte": 40}}}, "size": 0,
      |  "aggs": {"pages": {"composite": {"size": 8, "sources": [
      |      {"lang": {"terms": {"field": "lang"}}},
      |      {"src": {"terms": {"field": "source", "order": "desc"}}}
      |    ]},
      |    "aggs": {
      |      "chars": {"avg": {"field": "n_chars"}},
      |      "longest": {"max": {"field": "n_chars"}},
      |      "ids": {"value_count": {"field": "doc_id"}}}}}}"""
      .stripMargin

  // ------------------------------------------------- DSL percolation

  /** The ES percolator with FULL DSL bodies as stored rules: each
    * registered query is a complete search body — bool / range /
    * phrase / term power, not just term lists ([[Search.percolateOf]]'s
    * form). Every rule compiles in FILTER CONTEXT into one shared
    * stateless scan: the feature frame is built ONCE for the union of
    * all rules' clause inventories, each rule becomes a predicate over
    * it, and matches explode to (doc_id, query_id) — batch or
    * streaming (pure projection, the [[Search.percolateOf]] contract).
    *
    * Shape at 100 TB: documents never shuffle — projection + explode
    * + filter; per-row work is bounded by the registry's clause
    * count. */
  def percolateDslOf(docs: DataFrame,
      rules: Seq[(Long, String)]): DataFrame = {
    import docs.sparkSession.implicits._
    if (rules.isEmpty) fail("percolateDslOf: empty rule set")
    if (rules.map(_._1).distinct.size != rules.size)
      fail("percolateDslOf: duplicate query_id")
    val parsed = rules.map { case (id, json) =>
      JsonMethods.parse(json) match {
        case o: JObject =>
          o.obj.collectFirst { case (k, _) if k != "query" => k }
            .foreach(k => fail(s"percolate rule $id has body key '$k' — " +
              "a stored query is a predicate; only \"query\" is allowed"))
        case other => fail(s"percolate rule $id must be a JSON object, " +
          s"got $other")
      }
      (id, parseBody(json).query)
    }
    // ONE merged inventory: the frame is built once for all rules
    val tkeys = parsed.flatMap(r => tkeysOf(r._2)).distinct
    val pkeys = parsed.flatMap(r => pkeysOf(r._2)).distinct
    val zkeys = parsed.flatMap(r => zkeysOf(r._2)).distinct
    val rkeys = parsed.flatMap(r => rkeysOf(r._2)).distinct
    val exact = parsed.flatMap(r => exactFields(r._2)).distinct
    val tfIdx = tkeys.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val pfIdx = pkeys.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap
    val zfIdx = zkeys.zipWithIndex.map { case (z, i) => z -> (i + 1) }.toMap
    val rfIdx = rkeys.zipWithIndex.map { case (r, i) => r -> (i + 1) }.toMap
    val skeys = parsed.flatMap(r => skeysOf(r._2)).distinct
    val sfIdx = skeys.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    val p = Plan(MatchAllQ, 0, tkeys, pkeys, Seq.empty, Seq.empty,
      Seq.empty, exact, tfIdx, pfIdx, Map.empty,
      C(lit(true), "TRUE", None), zkeys = zkeys, zfIdx = zfIdx,
      rkeys = rkeys, rfIdx = rfIdx, skeys = skeys, sfIdx = sfIdx)
    val f = Scan(docs).features(p).f
    val preds = parsed.map { case (id, q) =>
      (id, compile(q, scored = false, tfIdx, pfIdx, Map.empty, zfIdx,
        rfIdx, sfIdx))
    }
    val matchedIds = array(preds.map { case (id, c) =>
      when(c.pred, lit(id))
    }: _*)
    f.select($"doc_id", explode(matchedIds).as("query_id"))
      .filter($"query_id".isNotNull)
  }

  /** Oracle for [[percolateDslOf]] — per-rule SELECTs over the shared
    * feature CTE, unioned; same AST, same predicates. */
  def percolateDslSql(rules: Seq[(Long, String)], rel: String): String = {
    val parsed = rules.map { case (id, json) => (id, parseBody(json).query) }
    val tkeys = parsed.flatMap(r => tkeysOf(r._2)).distinct
    val pkeys = parsed.flatMap(r => pkeysOf(r._2)).distinct
    val zkeys = parsed.flatMap(r => zkeysOf(r._2)).distinct
    val rkeys = parsed.flatMap(r => rkeysOf(r._2)).distinct
    val exact = parsed.flatMap(r => exactFields(r._2)).distinct
    val tfIdx = tkeys.zipWithIndex.map { case (t, i) => t -> (i + 1) }.toMap
    val pfIdx = pkeys.zipWithIndex.map { case (p, i) => p -> (i + 1) }.toMap
    val zfIdx = zkeys.zipWithIndex.map { case (z, i) => z -> (i + 1) }.toMap
    val rfIdx = rkeys.zipWithIndex.map { case (r, i) => r -> (i + 1) }.toMap
    val skeys = parsed.flatMap(r => skeysOf(r._2)).distinct
    val sfIdx = skeys.zipWithIndex.map { case (s, i) => s -> (i + 1) }.toMap
    val p = Plan(MatchAllQ, 0, tkeys, pkeys, Seq.empty, Seq.empty,
      Seq.empty, exact, tfIdx, pfIdx, Map.empty,
      C(lit(true), "TRUE", None), zkeys = zkeys, zfIdx = zfIdx,
      rkeys = rkeys, rfIdx = rfIdx, skeys = skeys, sfIdx = sfIdx)
    val branches = parsed.map { case (id, q) =>
      val c = compile(q, scored = false, tfIdx, pfIdx, Map.empty, zfIdx,
        rfIdx, sfIdx)
      s"SELECT doc_id, CAST($id AS BIGINT) AS query_id FROM f " +
        s"WHERE ${c.predSql}"
    }
    s"""WITH ${fCteSql(p, Seq.empty, rel)}
       |${branches.mkString("\nUNION ALL\n")}
       |ORDER BY doc_id, query_id""".stripMargin
  }

  // ------------------------------------------------------ the Source seam

  /** Where a compiled body's rows come from. Each query kind has ONE
    * compiler over a `Source`, so the scan path (the oracle twin, over
    * a corpus frame: [[Scan]]) and the served path (over the persisted
    * index: [[Served]]) differ only in these operations:
    *  - `fetch`: a terms lookup's GET of one doc's values at a path;
    *  - `runtime`: the source a body's `runtime_mappings` compile over
    *    (the scan computes the columns, the index refuses them);
    *  - `features`: the field checks, a plan's candidate frame and its
    *    corpus statistics;
    *  - `stored`: the stored text a highlight's fetch phase and
    *    significant_text read;
    *  - `groups`: how an `_msearch` batch splits into candidate
    *    frames. */
  sealed trait Source {
    private[Dsl] def fetch(id: Long, path: String): Seq[Scalar]
    private[Dsl] def runtime(b: Body): Source
    /** `extra` columns ride the frame beside the plan's own; `text`
      * names those of them analyzed from the stored text rather than
      * read as doc-values (significant_text). `shared` makes the frame
      * one materialization for several rank tails ([[Dsl.share]]). */
    private[Dsl] def features(p: Plan, extra: Seq[String] = Seq.empty,
        text: Seq[String] = Seq.empty, shared: Boolean = false): Features
    private[Dsl] def stored: DataFrame
    /** Each group's frame plan with its (plan, request index) pairs. */
    private[Dsl] def groups(frame: Plan, plans: Seq[Plan])
        : Seq[(Plan, Seq[(Plan, Int)])]
  }

  /** A plan's candidate frame and its corpus statistics (None for a
    * scoreless plan). */
  private final case class Features(f: DataFrame, stats: Option[DataFrame])

  /** The scan source: features computed from the corpus text per
    * document ([[scanF]]), statistics aggregated over them. */
  final case class Scan(docs: DataFrame) extends Source {
    private[Dsl] def fetch(id: Long, path: String): Seq[Scalar] = {
      checkFields(docs, Seq(path))
      lookupValues(docs, id, path)
    }
    private[Dsl] def runtime(b: Body): Source = Scan(withRuntime(docs, b))
    private[Dsl] def features(p: Plan, extra: Seq[String],
        text: Seq[String], shared: Boolean): Features = {
      checkFields(docs, (p.exact ++ extra).distinct)
      val f0 = scanF(docs, p, extra)
      val f = if (shared) share(f0) else f0
      Features(f, scanStats(f, p))
    }
    private[Dsl] def stored: DataFrame = docs
    /** One group: the whole batch shares one corpus pass. */
    private[Dsl] def groups(frame: Plan, plans: Seq[Plan])
        : Seq[(Plan, Seq[(Plan, Int)])] =
      Seq((frame, plans.zipWithIndex))
  }

  // ------------------------------------------------ index-served path

  /** The served source: the DSL compiled onto the PERSISTED inverted
    * index — the deployment shape (the reference maintains its index
    * precisely so queries don't scan, es.go:160-213). Same AST, same
    * compiled predicate/score expressions, same [[rankTail]]; only the
    * feature frame and statistics are built from index tables instead
    * of the corpus text:
    *
    *  - match/multi_match tf per (field, term) from bucket-pruned,
    *    term-filtered postings (pushed to parquet);
    *  - match_phrase frequency from POSITIONAL postings — per-term
    *    position lists joined by doc, counting starts whose successors
    *    are adjacent (overlapping occurrences count, identical to the
    *    scan path's positional regex);
    *  - term/terms/range/exists from `docmeta` doc-values (typed:
    *    [[Search.NumDocValueFields]] are long), the Lucene doc-values
    *    contract — the corpus text is never touched;
    *  - dl/Σdl from `doclen`; df stats from postings row counts;
    *    keyword dfs from docmeta aggregates. All integers equal the
    *    scan path's by construction, so the shared score expressions
    *    make the ranking BIT-IDENTICAL (DslSpec pins served ≡ scan).
    *
    * Candidate universe: when the predicate implies a text hit
    * ([[requiresText]]) candidates are the term-df-bounded postings
    * matches; otherwise the doc-grain docmeta table (a pure
    * doc-values filter — ES's filter-context execution). Tombstoned
    * docs are excluded from results; statistics keep them until
    * compaction (Lucene's docFreq-includes-deletes convention, which
    * every served ranker of [[Search]] keeps too).
    *
    * Multi-index: every table unions across the resolved roots and
    * the statistics derive from the union — how ES serves an alias or
    * `idx1,idx2` target: per-shard statistics merge into global ones
    * before scoring, so a query across an alias's daily indices ranks
    * exactly as one index. That holds only while a doc_id lives in
    * exactly one member; [[servedStats]] refuses overlapping members.
    *
    * Search's served `match` entry points ([[Search.searchWithIndex]],
    * [[Search.searchAcrossIndexes]], the search_after pages and
    * cursors, the hybrid text leg and the expansion feedback leg)
    * compile through this source too ([[scored]]).
    *
    * Shape at 100 TB: postings reads prune to ≤ |query terms| of
    * [[Search.IndexBuckets]] buckets with pushed term filters;
    * doclen/docmeta are doc-grain and column-pruned; stats are 1-row
    * broadcast aggregates; candidates stay df-bounded for ranked
    * queries. Cost scales with term document frequency, not corpus
    * breadth.
    *
    * Each index's active version root resolves ONCE per source, on its
    * first read: every read of the request (lookups, candidates,
    * stats, fetch) takes these roots, so a concurrent compaction
    * repoint can never mix two versions in one response — and a body
    * refused at parse never touches an index. */
  final case class Served(spark: SparkSession, indexDirs: Seq[String])
      extends Source {
    private[Dsl] lazy val roots: Seq[String] = {
      require(indexDirs.nonEmpty, "served DSL: no indices given")
      indexDirs.map(Search.requireIndex(spark, _))
    }
    /** The GET against the roots' docmeta doc-values — a footer probe
      * per member for the path, then one pruned read across every
      * member. */
    private[Dsl] def fetch(id: Long, path: String): Seq[Scalar] = {
      if (roots.exists(r =>
          !Search.familyColumns(spark, r, "docmeta").contains(path)))
        fail(s"terms lookup path '$path' is not a stored doc-value")
      lookupValues(Search.indexTable(spark, roots, "docmeta"), id, path)
    }
    private[Dsl] def runtime(b: Body): Source = {
      if (b.runtime.nonEmpty)
        fail("runtime_mappings are scan-path only — the served pipeline " +
          "reads stored doc-values, and a computed column would need " +
          "per-member recomputation over docmeta; run the body through " +
          "searchDslOf")
      this
    }
    private[Dsl] def features(p: Plan, extra: Seq[String],
        text: Seq[String], shared: Boolean): Features = {
      val parts = servedParts(spark, roots, p, extra.filterNot(text.contains))
      val f0 =
        if (text.isEmpty) parts.f
        else parts.f.join(stored.select("doc_id", text: _*), Seq("doc_id"),
          "left")
      val f = if (shared) share(f0) else f0
      Features(f, servedStats(spark, parts, p, roots.size > 1))
    }
    /** The index's STORED `_source` table (one relation across
      * members) — the ES fetch phase reads the shard's stored fields,
      * never the live corpus. */
    private[Dsl] def stored: DataFrame =
      Search.indexTable(spark, roots, "stored")
    /** The batch SPLIT by candidate universe: requests whose predicate
      * implies a text hit ([[requiresText]]) share one df-bounded
      * postings-driven frame; scoreless/filter-only requests share a
      * doc-values (match-all) frame. One filter-only request in a batch
      * therefore never widens the scored requests' candidates to the
      * whole corpus — each group's frame stays as tight as a solo
      * run's, and the batch still reads postings/doclen/docmeta once
      * per GROUP, not per request. */
    private[Dsl] def groups(frame: Plan, plans: Seq[Plan])
        : Seq[(Plan, Seq[(Plan, Int)])] =
      plans.zipWithIndex.groupBy { case (p, _) => requiresText(p.q) }
        .toSeq.sortBy(!_._1).map { case (textBound, gp) =>
          val gPlans = gp.map(_._1)
          // the group frame keeps the SHARED index maps (column
          // numbering is batch-global) but only this group's clause
          // inventory — the other group's features never join this
          // frame
          (frame.copy(
            q = if (textBound) gPlans.head.q else MatchAllQ,
            tkeys = gPlans.flatMap(_.tkeys).distinct,
            pkeys = gPlans.flatMap(_.pkeys).distinct,
            zkeys = gPlans.flatMap(_.zkeys).distinct,
            rkeys = gPlans.flatMap(_.rkeys).distinct,
            stkeys = gPlans.flatMap(_.stkeys).distinct,
            spkeys = gPlans.flatMap(_.spkeys).distinct,
            szkeys = gPlans.flatMap(_.szkeys).distinct,
            skts = gPlans.flatMap(_.skts).distinct,
            exact = gPlans.flatMap(_.exact).distinct,
            rndFields = gPlans.flatMap(_.rndFields).distinct,
            sciFields = gPlans.flatMap(_.sciFields).distinct,
            c = C(lit(true), "TRUE",
              if (gPlans.exists(_.needsStats)) Some((lit(0.0), "0.0"))
              else None)), gp)
        }
  }

  /** The index-side inputs of a served DSL evaluation: the candidate
    * frame `f` (features + doc-values + dl, tombstones excluded) and
    * the table handles the statistics derive from. */
  private case class ServedParts(f: DataFrame, meta: DataFrame,
      posts: Option[DataFrame], phFrames: Seq[DataFrame],
      zPivot: Option[DataFrame], dlen: (String, String) => DataFrame)

  /** Build [[ServedParts]] for a plan over the RESOLVED index roots
    * ([[Served.roots]]). */
  private def servedParts(spark: SparkSession, roots: Seq[String],
      p: Plan, extraFields: Seq[String]): ServedParts = {
    import spark.implicits._
    val servable = "doc_id" +: (Search.DocValueFields ++
      Search.NumDocValueFields ++ Search.NestedDocValueFields)
    (p.exact ++ extraFields).distinct.foreach { f =>
      if (!servable.contains(f))
        fail(s"field '$f' has no doc-values in the index — indexed " +
          s"doc-value fields: ${servable.mkString(", ")}")
    }
    val metaFields = (p.exact ++ extraFields).distinct.filter(_ != "doc_id")
    // one docmeta relation over every member (Search.indexTable); the
    // refuse-loudly schema check stays PER ROOT — the declared schema
    // would silently null-fill a column one stale member lacks, which
    // is exactly what the check exists to refuse. The probe reads ONE
    // parquet footer per root on the driver.
    if (metaFields.nonEmpty)
      try Search.requireFamilyColumns(spark, roots, "docmeta", metaFields)
      catch { case e: IllegalStateException => fail(e.getMessage) }
    val meta = Search.indexTable(spark, roots, "docmeta")
      .select(($"doc_id" +: metaFields.map(col)): _*)
    checkFieldTypes(meta.schema, p)
    val allToks = (p.tkeys.map(_._2) ++ p.pkeys.flatMap(_._2) ++
      p.skeys.flatMap(spanToksOf)).distinct
    val posts =
      if (allToks.isEmpty) None
      else {
        Some(Search.indexTable(spark, roots, "postings",
            Some(allToks.map(Search.tokBucket)))
          .filter($"tok".isin(allToks: _*) && $"field".isin(p.usedFields: _*)))
      }
    def dlen(field: String, as: String): DataFrame =
      Search.indexTable(spark, roots, "doclen")
        .filter($"field" === field).select($"doc_id", $"dl".as(as))
    // ---- features: tf pivot (df-bounded) + positional phrase counts
    //      + fuzzy expansions (vocab-filtered, unpruned — see below)
    val featCols = p.tkeys.map(k => s"qtf${p.tfIdx(k)}") ++
      p.pkeys.map(k => s"qpf${p.pfIdx(k)}") ++
      p.zkeys.map(k => s"qzf${p.zfIdx(k)}") ++
      p.rkeys.map(k => s"qrf${p.rfIdx(k)}") ++
      p.skeys.map(k => s"qsp${p.sfIdx(k)}")
    val tfPiv = posts.filter(_ => p.tkeys.nonEmpty).map { po =>
      val cols = p.tkeys.map { case k @ (fld, t) =>
        coalesce(sum(when($"tok" === t && $"field" === fld, $"tf")), lit(0L))
          .cast("int").as(s"qtf${p.tfIdx(k)}")
      }
      po.groupBy($"doc_id").agg(cols.head, cols.tail: _*)
    }
    val phFrames = p.pkeys.map { case k @ (fld, ws, sl, pfx) =>
      lazy val po = posts.get
      val parts = ws.zipWithIndex.map { case (w, j) =>
        if (pfx && j == ws.size - 1)
          // prefix leg: term-dictionary walk (UNPRUNED — prefixed
          // tokens hash to any bucket; Lucene's prefix automaton does
          // the same walk), the expansions' positions flattened per doc
          Search.indexTable(spark, roots, "postings")
            .filter($"field" === fld && $"tok".startsWith(w))
            .groupBy($"doc_id")
            .agg(array_sort(flatten(collect_list($"positions")))
              .as(s"p$j"))
        else
          po.filter($"field" === fld && $"tok" === w)
            .select($"doc_id", $"positions".as(s"p$j"))
      }
      val joined = parts.reduce((a, c) => a.join(c, "doc_id"))
      // count phrase STARTS: positions x of word 0 whose successors
      // x+j all appear in word j's list — overlapping hits all count,
      // the scan path's positional regex semantics; slop > 0 widens
      // each successor's window to [x+j, x+j+slop] ([[slopFreq]])
      val cnt =
        if (ws.size == 1) size(col("p0"))
        else if (sl == 0) size(filter(col("p0"), x =>
          (1 until ws.size).map(j => array_contains(col(s"p$j"), x + lit(j)))
            .reduce(_ && _)))
        else size(filter(col("p0"), x =>
          (1 until ws.size).map(j => exists(col(s"p$j"),
            p => p >= x + lit(j) && p <= x + lit(j + sl))).reduce(_ && _)))
      joined.select($"doc_id", cnt.cast("int").as(s"qpf${p.pfIdx(k)}"))
    }
    // fuzzy tf from the index: postings rows whose TOKEN is within
    // some key's edit budget, pivoted to per-key sums in ONE pass. NO
    // bucket pruning — edit-distance expansions hash anywhere, so the
    // read walks the term dictionary (exactly what Lucene's fuzzy
    // automaton does) — but it walks it ONCE for every fuzzy key in
    // the query, not once per key; still postings-grain, never the
    // corpus text
    val zPivot =
      if (p.zkeys.isEmpty) None
      else {
        def hit(k: (String, String, Int)): Column =
          col("field") === k._1 &&
            levenshtein($"tok", lit(k._2)) <= k._3
        val po = Search.indexTable(spark, roots, "postings")
          .filter(p.zkeys.map(hit).reduce(_ || _))
        val cols = p.zkeys.map { k =>
          coalesce(sum(when(hit(k), $"tf")), lit(0L)).cast("int")
            .as(s"qzf${p.zfIdx(k)}")
        }
        Some(po.groupBy($"doc_id").agg(cols.head, cols.tail: _*))
      }
    // regexp tf from the index: the SAME term-dictionary walk as the
    // fuzzy pivot (anchored-pattern expansions hash anywhere — no
    // bucket pruning, Lucene's regexp automaton shape), one pass
    // pivoting every regexp key; postings-grain, never corpus text
    val rPivot =
      if (p.rkeys.isEmpty) None
      else {
        def hit(k: (String, String)): Column =
          col("field") === k._1 && $"tok".rlike("^(?:" + k._2 + ")$")
        val po = Search.indexTable(spark, roots, "postings")
          .filter(p.rkeys.map(hit).reduce(_ || _))
        val cols = p.rkeys.map { k =>
          coalesce(sum(when(hit(k), $"tf")), lit(0L)).cast("int")
            .as(s"qrf${p.rfIdx(k)}")
        }
        Some(po.groupBy($"doc_id").agg(cols.head, cols.tail: _*))
      }
    // span features from POSITIONAL postings — the phFrames machinery
    // one family up: per-key position-array joins, window checks as
    // the same lambdas the scan path runs over the token array
    val spFrames = p.skeys.map { k =>
      val fld = spanFieldOf(k)
      def posDf(t: String, nm: String): DataFrame = posts.get
        .filter($"field" === fld && $"tok" === t)
        .select($"doc_id", $"positions".as(nm))
      val colName = s"qsp${p.sfIdx(k)}"
      k match {
        case SpanFirstQ(_, t, end) =>
          posDf(t, "pi").select($"doc_id",
            size(filter($"pi", x => x <= lit(end))).cast("int")
              .as(colName))
        case SpanNotQ(_, inc, exc, pre, post) =>
          // exclude positions may be absent for a doc → left join,
          // null exists-result coalesces to "nothing excluded"
          posDf(inc, "pi").join(posDf(exc, "pe"), Seq("doc_id"), "left")
            .select($"doc_id",
              size(filter($"pi", x => !coalesce(exists($"pe",
                q => q >= x - lit(pre) && q <= x + lit(post)),
                lit(false)))).cast("int").as(colName))
        case SpanUnordQ(_, t1, t2, sl) =>
          posDf(t1, "p1").join(posDf(t2, "p2"), "doc_id")
            .select($"doc_id",
              size(filter($"p1", x => exists($"p2",
                q => abs(q - x) <= lit(sl + 1)))).cast("int")
                .as(colName))
        case SpanOrderedQ(_, ts) =>
          // all terms required — inner joins of the position arrays,
          // then the same chain lambdas as the scan path
          ts.zipWithIndex.map { case (t, i) => posDf(t, s"g$i") }
            .reduce((x, y) => x.join(y, "doc_id"))
            .select($"doc_id", orderedChainCount(
              ts.indices.map(i => col(s"g$i"))).cast("int").as(colName))
        case SpanWindowQ(_, ts, g) =>
          ts.zipWithIndex.map { case (t, i) => posDf(t, s"g$i") }
            .reduce((x, y) => x.join(y, "doc_id"))
            .select($"doc_id", windowAnchorCount(
              ts.indices.map(i => col(s"g$i")), g + ts.size - 1)
              .cast("int").as(colName))
        case SpanChainQ(_, ts, g) =>
          ts.zipWithIndex.map { case (t, i) => posDf(t, s"g$i") }
            .reduce((x, y) => x.join(y, "doc_id"))
            .select($"doc_id", chainWindowCount(
              ts.indices.map(i => col(s"g$i")), g + ts.size - 1)
              .cast("int").as(colName))
        case SpanWithinQ(_, lt, t1, t2, sl, ord) =>
          // all three participants required — inner joins, then the
          // same enclosure lambdas as the scan path
          posDf(lt, "pl").join(posDf(t1, "p1"), "doc_id")
            .join(posDf(t2, "p2"), "doc_id")
            .select($"doc_id",
              size(filter($"pl", q => exists($"p1", x =>
                exists($"p2", y =>
                  (if (ord) y > x && y - x <= lit(sl + 1)
                   else abs(y - x) <= lit(sl + 1)) &&
                    q >= least(x, y) && q <= greatest(x, y)))))
                .cast("int").as(colName))
        case other => fail(s"not a span key: $other") // unreachable
      }
    }
    val feat = (tfPiv.toSeq ++ phFrames ++ zPivot.toSeq ++ rPivot.toSeq ++
      spFrames)
      .reduceOption((a, c) =>
        a.join(c, Seq("doc_id"), "full_outer")).map(_.na.fill(0, featCols))
    // ---- candidate universe
    val needDl = p.needsText
    val needHdl = p.scoredFields.contains(Search.HeadField)
    // a text-bound plan reading no doc-value needs no docmeta row: its
    // candidates are the postings matches (a plain match never reads
    // docmeta)
    val base = (feat, requiresText(p.q)) match {
      case (Some(ft), true) =>
        if (metaFields.isEmpty) ft else ft.join(meta, "doc_id")
      case (Some(ft), false) =>
        meta.join(ft, Seq("doc_id"), "left").na.fill(0, featCols)
      case (None, _) => meta
    }
    val withDl =
      (if (needDl) base.join(dlen(Search.DefaultField, "dl"), "doc_id")
       else base)
    val f0 =
      if (needHdl) withDl.join(dlen(Search.HeadField, "hdl"), "doc_id")
      else withDl
    val dead = Search.indexTable(spark, roots, "tombstones")
    ServedParts(f0.join(dead, Seq("doc_id"), "left_anti"), meta, posts,
      phFrames, zPivot, dlen)
  }

  /** Index-side statistics for a plan — 1-row broadcasts assembled
    * from docmeta/doclen/postings, with the multi-index disjointness
    * gate FOLDED INTO n: the gate rides the aggregate the query
    * already pays for, so every score expression evaluates it —
    * overlapping member indices would double-count every statistic,
    * so refuse loudly at execution instead of silently mis-ranking. */
  private def servedStats(spark: SparkSession, parts: ServedParts,
      p: Plan, multi: Boolean): Option[DataFrame] = {
    import spark.implicits._
    if (!p.needsStats) None
    else {
      // N counts docmeta rows when keyword dfs read its doc-values;
      // otherwise the scored text field's doclen rows (one per doc, as
      // in docmeta), folded into the Σdl aggregate that reads them
      // anyway
      val nFromDl = p.skts.isEmpty &&
        p.scoredFields.contains(Search.DefaultField)
      val nAgg = {
        val cols = Seq(count(lit(1)).as("n")) ++
          (if (multi)
            Seq(countDistinct($"doc_id").as("graft_nd")) else Seq.empty) ++
          (if (nFromDl) Seq(sum($"dl").as("sumdl")) else Seq.empty) ++
          p.skts.map { case kt @ (fld, v) =>
            count(when(col(fld) === v.column, 1)).as(s"qkd${p.ktIdx(kt)}")
          }
        val agged = (if (nFromDl) parts.dlen(Search.DefaultField, "dl")
          else parts.meta).groupBy().agg(cols.head, cols.tail: _*)
        if (multi)
          agged.select(
            (when($"n" === $"graft_nd", $"n")
              .otherwise(raise_error(concat(lit("searchDslFromIndexes: " +
                "member indices overlap on doc_id — "),
                ($"n" - $"graft_nd").cast("string"),
                lit(" duplicated docs; indices must partition the " +
                  "corpus"))).cast("long")).as("n") +:
              agged.columns.filterNot(Set("n", "graft_nd"))
                .map(col).toSeq): _*)
        else agged
      }
      val pieces = Seq(nAgg) ++
        (if (p.scoredFields.contains(Search.DefaultField) && !nFromDl)
          Seq(parts.dlen(Search.DefaultField, "dl")
            .agg(sum($"dl").as("sumdl")))
        else Seq.empty) ++
        (if (p.scoredFields.contains(Search.HeadField))
          Seq(parts.dlen(Search.HeadField, "hdl")
            .agg(sum($"hdl").as("hsumdl")))
        else Seq.empty) ++
        (if (p.stkeys.nonEmpty) {
          val cols = p.stkeys.map { case k @ (fld, t) =>
            count(when($"tok" === t && $"field" === fld, 1))
              .as(s"qdf${p.tfIdx(k)}")
          }
          Seq(parts.posts.get.groupBy().agg(cols.head, cols.tail: _*))
        } else Seq.empty) ++
        p.spkeys.map { k =>
          val j = p.pfIdx(k)
          parts.phFrames(p.pkeys.indexOf(k))
            .agg(count(when(col(s"qpf$j") > 0, 1)).as(s"qpd$j"))
        } ++
        (if (p.ckeys.isEmpty) Seq.empty else {
          // blended df*: DISTINCT docs carrying the term in ANY of
          // the fields (a doc with the term in both fields counts
          // once — the scan path's OR)
          val cols = p.ckeys.map { case k @ (fs, t) =>
            count_distinct(when($"tok" === t &&
              $"field".isin(fs: _*), $"doc_id"))
              .as(s"qcd${p.cfIdx(k)}")
          }
          Seq(parts.posts.get.groupBy().agg(cols.head, cols.tail: _*))
        }) ++
        (if (p.szkeys.isEmpty) Seq.empty else {
          // one agg over the (df-bounded) pivot: a doc counts toward a
          // key's df when ANY of its tokens hit that key's budget —
          // the scan path's count(qzf > 0), same integers
          val cols = p.szkeys.map { k =>
            val j = p.zfIdx(k)
            count(when(col(s"qzf$j") > 0, 1)).as(s"qzd$j")
          }
          Seq(parts.zPivot.get.groupBy().agg(cols.head, cols.tail: _*))
        })
      Some(pieces.reduce(_ crossJoin _))
    }
  }

  /** Test seam: each served-batch group's (text-bound?, candidate
    * frame) — DslSpec pins that the text-bound frame stays df-bounded
    * when a filter-only request rides the same batch. */
  private[graft] def msearchServedFrames(spark: SparkSession,
      indexDirs: Seq[String], bodies: Seq[String])
      : Seq[(Boolean, DataFrame)] = {
    val src = Served(spark, indexDirs)
    val (framePlan, plans) = msearchPlans(bodies)
    src.groups(framePlan, plans).map { case (g, _) =>
      (requiresText(g.q), src.features(g, shared = true).f)
    }
  }

  /** Registered query `dsl_served`: [[DslQuery]] SERVED from the
    * session-shared index — the `dsl_search` row's served twin under
    * its historical name, so it is wired by hand; same oracle SQL as
    * the scan, which it must reproduce bit-for-bit (DslSpec pins
    * served ≡ scan). */
  def searchDslServed(spark: SparkSession, dir: String): DataFrame =
    searchDslFromIndexes(spark,
      Seq(Search.sharedIndexDir(spark, dir)), DslQuery)

  // --------------------------------------------------- registered form

  /** How a registered body compiles: one compiler over a [[Source]]
    * (the scan or the served one), and the oracle generator over the
    * corpus's DuckDB relation. */
  final case class Kind(compile: (Source, String) => DataFrame,
      oracle: (String, String) => String)

  /** Hits bodies: the search endpoint. */
  val Hits: Kind = Kind(searchDsl, dslSqlOver)

  /** Aggregation bodies (`size: 0` + `aggs`). */
  val Aggs: Kind = Kind(aggsDsl, dslAggsSqlOver)

  /** A terms agg whose sub is `top_hits`. */
  val TopHits: Kind = Kind(topHitsDsl, dslTopHitsSqlOver)

  /** `_count` bodies (`query` only). */
  val Count: Kind = Kind(countDsl, dslCountSqlOver)

  /** One `composite` aggregation page. */
  val Composite: Kind = Kind(compositeDsl, dslAggsCompositeSqlOver)

  /** `suggest` bodies; the served form reads ONE index's term
    * dictionary. */
  val Suggest: Kind = Kind((src, json) => src match {
      case Scan(docs) => dslSuggestOf(docs, json)
      case Served(spark, Seq(dir)) => dslSuggestFromIndex(spark, dir, json)
      case _ => fail("a suggest body is served from exactly one index")
    },
    dslSuggestSqlOver)

  /** What a registered body runs over: the Spark frame under `dir`,
    * the oracle's relation over the same rows, and, for a corpus that
    * can be served, the session-shared index dirs holding those rows.
    * The derived-column corpora beside their bodies are scan-only: a
    * computed column is not a stored doc-value. */
  final case class Corpus(frame: (SparkSession, String) => DataFrame,
      rel: String,
      indexes: Option[(SparkSession, String) => Seq[String]] = None) {
    def scan(spark: SparkSession, dir: String): Source =
      Scan(frame(spark, dir))
    def served(spark: SparkSession, dir: String): Source =
      Served(spark, indexes.getOrElse(
        fail(s"the corpus $rel is scan-only"))(spark, dir))
  }

  /** The corpus and its one session-shared index. */
  val Documents: Corpus = Corpus(Tables.documentsPar, "documents",
    Some((spark, dir) => Seq(Search.sharedIndexDir(spark, dir))))

  /** The corpus with the deterministic ingest date
    * ([[Search.withPersistDate]]), served from the daily indices: the
    * daily layout is the only shared index whose docmeta carries
    * persist_date (the single-corpus index is built before the ingest
    * date exists). */
  val PersistDate: Corpus = Corpus(
    (spark, dir) => Search.withPersistDate(Tables.documentsPar(spark, dir)),
    Search.PersistDateRel,
    Some((spark, dir) => Search.sharedDailyIndexDirs(spark, dir)._1))

  /** The ingest corpus where tags live ([[Ingest.ingestDocs]]), served
    * from the daily ingest indices through their alias. */
  val IngestDocs: Corpus = Corpus(Ingest.ingestDocs, Ingest.IngestDocsRel,
    Some((spark, dir) => Search.readAlias(spark,
      Search.sharedIngestDailyIndexDirs(spark, dir)._2)))

  /** The registered DSL search: every clause family in one body —
    * scored must-match over the [[Search.QueryTerms]] text, an
    * optional scored should-match plus a keyword should (hits add
    * BM25 / idf score, gate nothing — msm 0 beside a must), a phrase
    * must_not, and filter-context range + exists. */
  val DslQuery: String =
    """{"query": {"bool": {
      |  "must":     [{"match": {"text": "dup vector merge"}}],
      |  "should":   [{"match": {"text": "hash"}},
      |               {"term":  {"lang": "en"}}],
      |  "must_not": [{"match_phrase": {"text": "slow scan"}}],
      |  "filter":   [{"range": {"n_chars": {"gte": 60, "lt": 520}}},
      |               {"exists": {"field": "source"}}]
      |}}, "size": 50}""".stripMargin

  /** Registered FILTER-ONLY DSL query — the ES filter-cache shape.
    * Its plan is pinned scoreless AND textless: one parquet scan with
    * the predicates pushed down, no stats aggregate, no broadcast
    * join, the text column pruned out entirely (DslSpec). */
  val FilterQuery: String =
    """{"query": {"bool": {"filter": [
      |  {"range": {"n_chars": {"gte": 120, "lt": 400}}},
      |  {"terms": {"lang": ["en", "de"]}},
      |  {"exists": {"field": "source"}}]}}, "size": 100}""".stripMargin

  /** Registered MULTI-FIELD DSL query — `multi_match` best_fields
    * over `head^2` + `text` (the mapping.json name/type pair, the
    * [[Search.bm25Multifield]] shape expressed in the DSL) with a
    * boosted phrase should.
    *
    * Served: per-field postings feed the dis_max scoring, positional
    * postings feed the boosted phrase should. */
  val MultifieldQuery: String =
    s"""{"query": {"bool": {
       |  "must": [{"multi_match": {"query": "dup vector merge",
       |            "fields": ["${Search.HeadField}^2", "${Search.DefaultField}"],
       |            "type": "best_fields"}}],
       |  "should": [{"match_phrase": {"text": {"query": "dup vector", "boost": 1.5}}}]
       |}}, "size": 50}""".stripMargin

  /** Registered `most_fields` multi_match — the same fields as
    * [[MultifieldQuery]] but per-field scores SUM (the "same text,
    * several analyzers" ES pattern) instead of dis_max'ing. */
  val MostFieldsQuery: String =
    s"""{"query": {"multi_match": {"query": "dup vector merge",
       |  "fields": ["${Search.HeadField}^2", "${Search.DefaultField}"],
       |  "type": "most_fields"}}, "size": 50}""".stripMargin

  /** Registered multi_match `phrase` — dis_max over per-field
    * match_phrase (desugared at parse; the positional machinery and
    * the generated oracle are [[PhraseQ]]'s), with a slop budget and a
    * head-field boost.
    *
    * Served: per-field positional postings under the dis_max combiner. */
  val MmPhraseQuery: String =
    s"""{"query": {"multi_match": {"query": "merge hash",
       |  "type": "phrase", "slop": 1,
       |  "fields": ["${Search.HeadField}^2", "${Search.DefaultField}"]}},
       |  "size": 30}""".stripMargin

  /** Registered multi_match `cross_fields` — term-centric: every term
    * must land in SOME field (`operator: and`), each term scored by
    * its best field (desugared to a must list of per-term dis_max —
    * the documented deterministic stand-in for Lucene's blended term
    * statistics). */
  val CrossFieldsQuery: String =
    s"""{"query": {"multi_match": {"query": "dup vector merge",
       |  "type": "cross_fields", "operator": "and",
       |  "fields": ["${Search.HeadField}", "${Search.DefaultField}"]}},
       |  "size": 30}""".stripMargin

  /** Registered `match_bool_prefix` — the search-as-you-type bar
    * (ES's own suggested clause for it): lead terms optional, the
    * trailing fragment a token prefix; desugared at parse into
    * MatchQ/PhrasePrefixQ under a should-bool, so plans and oracle are
    * the already-audited ones. */
  val MatchBoolPrefixQuery: String =
    """{"query": {"match_bool_prefix": {"text": "dup vec"}},
      |  "size": 30}""".stripMargin

  /** Registered `pinned` — curated ids above organic hits. The pinned
    * set deliberately mixes docs INSIDE and OUTSIDE the organic match
    * set: 42/7/99 rank first in exactly that order regardless, then
    * the organic BM25 ranking continues (pins that also match
    * organically are not double-counted — the pin REPLACES the
    * score). */
  val PinnedQuery: String =
    """{"query": {"pinned": {"ids": [42, 7, 99],
      |  "organic": {"match": {"text": "dup vector merge"}}}},
      |  "size": 25}""".stripMargin

  /** Registered `terms_set` — per-document match thresholds: each doc
    * demands `req_m` of the three terms (req_m = doc_id % 3, derived
    * identically in both engines — 0 means every doc matches, the ES
    * edge). Scan-path only: the derived threshold column is not a
    * stored doc-value. */
  val TermsSetQuery: String =
    """{"query": {"terms_set": {"text": {
      |  "terms": ["dup", "vector", "merge"],
      |  "minimum_should_match_field": "req_m"}}}, "size": 30}"""
      .stripMargin

  /** The threshold-column corpus both engines derive identically. */
  val ReqM: Corpus = Corpus(
    (spark, dir) => Tables.documentsPar(spark, dir)
      .withColumn("req_m", col("doc_id") % 3),
    "(SELECT *, doc_id % 3 AS req_m FROM documents)")

  /** Registered `rank_feature` — relevance + a document-signal should:
    * BM25 must over the query terms, a saturation-scored length signal
    * lifting long docs (S/(S+250)). */
  val RankFeatureQuery: String =
    """{"query": {"bool": {
      |  "must": [{"match": {"text": "dup vector"}}],
      |  "should": [{"rank_feature": {"field": "n_chars",
      |    "saturation": {"pivot": 250}}}]}}, "size": 30}""".stripMargin

  /** Registered `distance_feature` — recency boost: matching docs
    * near the origin date score pivot/(pivot+days) on top of their
    * BM25 must (the "boost this week's docs" pattern). */
  val DistanceFeatureQuery: String =
    """{"query": {"bool": {
      |  "must": [{"match": {"text": "dup"}}],
      |  "should": [{"distance_feature": {"field": "persist_date",
      |    "origin": "2026-02-10", "pivot": "7d"}}]}}, "size": 25}"""
      .stripMargin

  /** Registered DATE-MATH range body (VERDICT r15 #3): every bound is
    * explicit-anchor date math — `gte` "2025-12-26||+7d" → 2026-01-02,
    * `lte` "2026-02-03||-1M/d" → 2026-01-03, and a `gt`
    * "2025-12-15||/M" exercising the ROUND-UP rule (gt excludes the
    * whole rounded month: > 2025-12-31). The Spark plan compares the
    * Scala-resolved literals; the ORACLE re-derives each bound with
    * DuckDB DATE arithmetic, cross-checking the evaluator. `now`
    * refuses (evaluation-time-dependent). */
  val DateMathQuery: String =
    """{"query": {"bool": {
      |  "must": [{"match": {"text": "dup"}}],
      |  "filter": [
      |    {"range": {"persist_date": {
      |      "gte": "2025-12-26||+7d", "lte": "2026-02-03||-1M/d"}}},
      |    {"range": {"persist_date": {"gt": "2025-12-15||/M"}}}]
      |}}, "size": 40}""".stripMargin

  /** Registered `collapse` — field collapsing: one best-ranked hit per
    * `source` (the "one result per site" pattern), collapsed BEFORE
    * the page cut by a per-group window — rank state is per-group
    * top-1, never a global distinct or sort. */
  val CollapseQuery: String =
    """{"query": {"match": {"text": "dup vector"}},
      |  "collapse": {"field": "source"},
      |  "size": 15, "_source": ["source", "n_chars"]}""".stripMargin

  /** Registered `terms` LOOKUP + spans + case_insensitive — the
    * round-14 session-III clause knobs in one body: the language
    * filter comes from doc 42's OWN lang (a 1-row GET resolved at
    * build, IN-subquery in the oracle), an in-order `span_near`
    * (≡ sloppy phrase) must, a `span_term` should, and a
    * case-insensitive prefix filter.
    *
    * Served: the lookup GET resolves against docmeta, spans ride
    * positional postings. */
  val LookupSpanQuery: String =
    """{"query": {"bool": {
      |  "must": [{"span_near": {"clauses": [
      |    {"span_term": {"text": "vector"}},
      |    {"span_term": {"text": "small"}}],
      |    "slop": 1, "in_order": true}}],
      |  "should": [{"span_term": {"text": "merge"}}],
      |  "filter": [
      |    {"terms": {"lang": {"index": "documents", "id": 42,
      |      "path": "lang"}}},
      |    {"prefix": {"source": {"value": "SRC",
      |      "case_insensitive": true}}}]
      |}}, "size": 25}""".stripMargin

  /** Registered `intervals` + `combined_fields` — the last two query
    * grammars: an any_of over an ordered bounded-gap match (the
    * windowed phrase) and a prefix rule, beside a term-centric
    * combined_fields must across head^2/text. All parse-level
    * desugars onto oracle-green machinery. */
  val IntervalsQuery: String =
    s"""{"query": {"bool": {
       |  "must": [{"combined_fields": {"query": "dup vector",
       |    "fields": ["${Search.HeadField}^2", "${Search.DefaultField}"],
       |    "operator": "and"}}],
       |  "should": [{"intervals": {"text": {"any_of": {"intervals": [
       |    {"match": {"query": "merge hash", "max_gaps": 1,
       |      "ordered": true}},
       |    {"prefix": {"prefix": "dedu"}}]}}}}]
       |}}, "size": 25}""".stripMargin

  /** Registered SPAN_MULTI body — prefix spans on the proven
    * prefix-phrase machinery: a `span_near` whose LAST clause is a
    * span_multi prefix (Lucene's prefix-phrase shape ≡
    * [[PhrasePrefixQ]] with slop), plus a scored standalone
    * span_multi should. */
  val SpanMultiQuery: String =
    """{"query": {"bool": {
      |  "must": [{"span_near": {"clauses": [
      |    {"span_term": {"text": "vector"}},
      |    {"span_multi": {"match": {"prefix": {"text": "du"}}}}],
      |    "slop": 6, "in_order": true}}],
      |  "should": [{"span_multi": {"match":
      |    {"prefix": {"text": "merg"}}}}]
      |}}, "size": 25}""".stripMargin

  /** Registered TRUE-BM25F `combined_fields` — the r15 graduation
    * from the best-field stand-in: weighted head^2/text blending with
    * the `or` operator; the blended df* and dl* statistics ride the
    * qcd family + the linear sumdl combination (see [[CombinedQ]]). */
  val CombinedFieldsQuery: String =
    s"""{"query": {"combined_fields": {"query": "dup vector merge",
       |  "fields": ["${Search.HeadField}^2", "${Search.DefaultField}"],
       |  "operator": "or"}}, "size": 30}""".stripMargin

  /** Registered r15 INTERVALS slice — the two graduated rule
    * combinations: an ordered+UNLIMITED-gaps match (monotone
    * subsequence over positions) as the must, an unordered+BOUNDED
    * window (anchor-disjunction check) as the filter. Both are
    * positional span features; the should ranks survivors. */
  val Intervals2Query: String =
    """{"query": {"bool": {
      |  "must": [{"intervals": {"text": {"match":
      |    {"query": "merge dup", "ordered": true}}}}],
      |  "filter": [{"intervals": {"text": {"match":
      |    {"query": "vector hash", "max_gaps": 25}}}}],
      |  "should": [{"match": {"text": "dedup"}}]
      |}}, "size": 25}""".stripMargin

  /** Registered round-16 intervals slice: k = 3 ORDERED + BOUNDED
    * intervals (the exact total-gap chain [[SpanChainQ]] — positions
    * strictly increasing with pₖ − p₁ + 1 − k ≤ max_gaps, where the
    * old sloppy-phrase stand-in would have used per-word windows) and
    * a k = 3 UNORDERED span_near (the minimal-window cover
    * [[SpanWindowQ]] — the combination that refused until r16). */
  val Intervals3Query: String =
    """{"query": {"bool": {
      |  "must": [{"intervals": {"text": {"match":
      |    {"query": "hash vector merge", "max_gaps": 12,
      |     "ordered": true}}}},
      |    {"match": {"text": "hash"}}],
      |  "filter": [{"span_near": {"clauses": [
      |    {"span_term": {"text": "small"}},
      |    {"span_term": {"text": "hash"}},
      |    {"span_term": {"text": "vector"}}],
      |    "slop": 8, "in_order": false}}]
      |}}, "size": 30}""".stripMargin

  /** Registered `_mget` — three ids in request order, the middle one
    * a guaranteed miss (found = false row, the ES contract). */
  val MgetIds: Seq[Long] = Seq(42L, 999999999L, 7L)
  val MgetFields: Seq[String] = Seq("lang", "source", "n_chars")

  def dslMget(spark: SparkSession, dir: String): DataFrame =
    dslMgetOf(Tables.documentsPar(spark, dir), MgetIds, MgetFields)

  lazy val dslMgetOracleSql: String =
    dslMgetSqlOver(MgetIds, MgetFields, "documents")

  /** Registered `_analyze` — messy input (case, padding, collapsed
    * whitespace) through BOTH engines' analyzer expressions. */
  val AnalyzeText = "  Dup   VECTOR  merge-hash  dedup  "

  def dslAnalyze(spark: SparkSession, dir: String): DataFrame =
    dslAnalyzeOf(spark, AnalyzeText)

  lazy val dslAnalyzeOracleSql: String = dslAnalyzeSql(AnalyzeText)

  /** Registered `_termvectors` — doc 42's term vector with corpus
    * term statistics (df-bounded: stats only for that doc's terms). */
  def dslTermVectors(spark: SparkSession, dir: String): DataFrame =
    dslTermVectorsOf(Tables.documentsPar(spark, dir), 42L)

  lazy val dslTermVectorsOracleSql: String =
    dslTermVectorsSqlOver(42L, "documents")

  /** Registered `_rank_eval` — two rated requests (a broad match and
    * a phrase) scored on precision/recall/MRR/NDCG@10; ratings span
    * hits, misses, and an irrelevant (rating 0) doc. */
  val RankEvalReqs: Seq[RankEvalReq] = Seq(
    RankEvalReq("broad",
      """{"query": {"match": {"text": "dup vector"}}, "size": 10}""",
      Seq(0L -> 2, 7L -> 1, 13L -> 0, 42L -> 3, 99L -> 1)),
    RankEvalReq("phrase",
      """{"query": {"match_phrase": {"text": "dup vector"}},
        | "size": 10}""".stripMargin,
      Seq(7L -> 2, 42L -> 2, 55L -> 1)))

  def dslRankEval(spark: SparkSession, dir: String): DataFrame =
    dslRankEvalOf(Tables.documentsPar(spark, dir), RankEvalReqs)

  lazy val dslRankEvalOracleSql: String =
    dslRankEvalSqlOver(RankEvalReqs, "documents")

  /** Registered `rescore` — two-phase ranking: a cheap broad match
    * ranks everything, then the top-20 window re-ranks by 0.7·orig +
    * 1.2·phrase (the classic "cheap retrieval, expensive precision"
    * LTR shape). Hits below the window keep their original order —
    * and at 100 TB the phrase machinery's cost is bounded by the
    * window, not the corpus. */
  val RescoreQuery: String =
    """{"query": {"match": {"text": "dup"}},
      |  "rescore": {"window_size": 20, "query": {
      |    "rescore_query": {"match_phrase": {"text": "dup vector"}},
      |    "query_weight": 0.7, "rescore_query_weight": 1.2}},
      |  "size": 30}""".stripMargin

  /** Registered `more_like_this` — find-similar with like-text-local
    * term selection: terms occurring ≥2× in the like text rank by
    * (tf desc, term asc), the top 10 become an msm-gated disjunction
    * over the existing match machinery (doc-frequency selection knobs
    * refuse — index-statistic-dependent). */
  val MltQuery: String =
    """{"query": {"more_like_this": {"fields": ["text"],
      |  "like": "dup vector merge dup vector hash",
      |  "min_term_freq": 2, "max_query_terms": 10,
      |  "minimum_should_match": 1}}, "size": 30}""".stripMargin

  /** Registered AGGREGATIONS body — a match query with a terms agg, a
    * date_histogram (over the deterministic [[Search.withPersistDate]]
    * ingest date — the reference's daily-index date, modeled
    * oracle-stably) carrying a stats sub-agg, a numeric histogram,
    * and a top-level stats metric.
    *
    * Served from the daily indices, green proves served ≡ scan AND that
    * per-member bucket counts union to the whole-corpus buckets. */
  val AggsQuery: String =
    """{"query": {"match": {"text": "dup vector merge"}},
      |  "size": 0,
      |  "aggs": {
      |    "langs": {"terms": {"field": "lang", "size": 4}},
      |    "daily": {"date_histogram": {"field": "persist_date",
      |              "calendar_interval": "day"},
      |              "aggs": {"chars": {"stats": {"field": "n_chars"}}}},
      |    "len_hist": {"histogram": {"field": "n_chars", "interval": 100}},
      |    "chars_all": {"stats": {"field": "n_chars"}}}}""".stripMargin

  /** Registered terms `include`/`exclude` + monthly date_histogram —
    * the bucket-partitioning knobs: an anchored include regex keeps
    * the src10-19 family (src2 drops — the anchor matters), an
    * exclude drops the two biggest languages BEFORE the cut, and the
    * calendar rolls daily buckets up to `yyyy-MM`. */
  val AggsIncludeQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "srcs_teens": {"terms": {"field": "source", "size": 20,
      |      "include": "src1[0-9]", "order": {"_key": "asc"}}},
      |    "langs_rest": {"terms": {"field": "lang", "size": 10,
      |      "exclude": "en|zh"}},
      |    "monthly": {"date_histogram": {"field": "persist_date",
      |      "calendar_interval": "month"}}}}""".stripMargin

  /** Registered `filters` aggregation — NAMED OVERLAPPING segments in
    * one pass: a full-text match bucket (its tf rides the merged
    * clause inventory's shared feature frame), a compound bool
    * bucket, and a range bucket that overlaps both, all reading one
    * stats sub; a terms agg rides beside them in the same
    * grouping-sets pass. Overlap is the point — a doc lands in every
    * bucket whose clause it satisfies, which a groupBy key could
    * never express and a conditional-count column gets for free.
    *
    * Served: bucket membership from postings tf + docmeta doc-values. */
  val AggsFiltersQuery: String =
    """{"query": {"range": {"n_chars": {"gte": 40}}}, "size": 0,
      |  "aggs": {
      |    "segments": {"filters": {"filters": {
      |        "hash_docs": {"match": {"text": "hash"}},
      |        "big_en": {"bool": {"filter": [
      |          {"term": {"lang": "en"}},
      |          {"range": {"n_chars": {"gte": 200}}}]}},
      |        "mid_len": {"range": {"n_chars": {"gte": 100, "lt": 300}}}},
      |        "other_bucket_key": "rest"},
      |      "aggs": {"chars": {"stats": {"field": "n_chars"}}}},
      |    "langs": {"terms": {"field": "lang", "size": 3}}}}""".stripMargin

  /** Registered PIPELINE aggregations — ES's bucket-grain
    * post-processing family: `cumulative_sum` over a date_histogram
    * (the running-total dashboard shape), `derivative` over a numeric
    * histogram (bucket-to-bucket deltas; the first bucket is null,
    * ES's omitted-value), and the sibling `avg_bucket` / `max_bucket`
    * / `sum_bucket` summarizing a sibling's RETURNED buckets — the
    * terms sibling proves the post-cut contract: `sum_bucket` totals
    * the top-3 language buckets, not all languages. Every pipeline
    * node windows or aggregates over |buckets| rows: at 100 TB the
    * corpus pass is unchanged and the pipeline work stays tiny.
    *
    * Served: pipeline inputs are the served bucket rows, so green also
    * proves the cross-member bucket union feeds the windows the same. */
  val AggsPipelineQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "daily": {"date_histogram": {"field": "persist_date",
      |        "calendar_interval": "day"},
      |      "aggs": {"running": {"cumulative_sum":
      |        {"buckets_path": "_count"}}}},
      |    "len_hist": {"histogram": {"field": "n_chars",
      |        "interval": 200},
      |      "aggs": {"delta": {"derivative": {"buckets_path": "_count"}}}},
      |    "avg_daily": {"avg_bucket": {"buckets_path": "daily>_count"}},
      |    "max_daily": {"max_bucket": {"buckets_path": "daily>_count"}},
      |    "top_lang_total": {"sum_bucket": {"buckets_path":
      |      "langs>_count"}},
      |    "langs": {"terms": {"field": "lang", "size": 3}}}}"""
      .stripMargin

  /** Registered SIBLING-PIPELINE STATISTICS body — `percentiles_bucket`
    * (exact interpolation over the sibling's returned bucket counts;
    * see [[BucketMetricAgg]] for the ES nearest-rank divergence) and
    * `extended_stats_bucket` (the variance trio as extra keyed rows)
    * over a daily date_histogram, plus a percentiles_bucket over a
    * CUT terms sibling — green proves the post-top-N contract: the
    * percentile reads the returned 3 language buckets, not all
    * languages.
    *
    * Served: the sibling pipelines read the served bucket rows. */
  val AggsBucketStatsQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "daily": {"date_histogram": {"field": "persist_date",
      |        "calendar_interval": "day"}},
      |    "day_pcts": {"percentiles_bucket": {
      |        "buckets_path": "daily>_count",
      |        "percents": [25, 50, 75]}},
      |    "day_spread": {"extended_stats_bucket": {
      |        "buckets_path": "daily>_count"}},
      |    "langs": {"terms": {"field": "lang", "size": 3}},
      |    "lang_pcts": {"percentiles_bucket": {
      |        "buckets_path": "langs>_count"}}}}""".stripMargin

  /** Registered GAP-FILL pipeline body (VERDICT r15 #4 — the
    * COVERAGE.md documented divergence, closed): `min_doc_count: 0`
    * date_histograms over a GAPPY date (quadratic day offsets 0/7/28/63
    * from the epoch — empty interior days AND an entirely empty
    * February at month grain), each under a pipeline sub. The
    * derivative must emit 0−0 deltas THROUGH the empty days and the
    * cumulative_sum must carry its running total ACROSS the empty
    * month — windows over the gap-FILLED bucket frame, |buckets| rows,
    * zero extra corpus cost. */
  val AggsGapFillQuery: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {
      |    "daily_fill": {"date_histogram": {"field": "gap_date",
      |        "calendar_interval": "day", "min_doc_count": 0},
      |      "aggs": {"delta": {"derivative": {"buckets_path":
      |        "_count"}}}},
      |    "monthly_fill": {"date_histogram": {"field": "gap_date",
      |        "calendar_interval": "month", "min_doc_count": 0},
      |      "aggs": {"running": {"cumulative_sum": {"buckets_path":
      |        "_count"}}}},
      |    "weekly_fill": {"date_histogram": {"field": "gap_date",
      |        "calendar_interval": "week", "min_doc_count": 0},
      |      "aggs": {"wavg": {"moving_fn": {"buckets_path": "_count",
      |        "window": 2,
      |        "script": "MovingFunctions.unweightedAvg(values)"}}}}}}"""
      .stripMargin

  /** The gappy-date fixture: quadratic offsets leave holes a
    * consecutive fixture cannot — (doc_id%4)² × 7 days from the
    * persist epoch → 2026-01-01, 01-08, 01-29, 03-05. */
  val GapDate: Corpus = Corpus(
    (spark, dir) => Tables.documentsPar(spark, dir).withColumn("gap_date",
      date_add(to_date(lit(Search.PersistEpoch)),
        ((col("doc_id") % 4) * (col("doc_id") % 4) * 7).cast("int"))),
    s"(SELECT *, DATE '${Search.PersistEpoch}' + " +
      "CAST((doc_id % 4) * (doc_id % 4) * 7 AS INT) AS gap_date " +
      "FROM documents)")

  /** Registered sliding-window pipeline body (VERDICT r16 #3 — the
    * Kibana smoothing family): `moving_fn` with the closed-form
    * MovingFunctions (unweightedAvg smoothing over the daily counts;
    * a shift-1 `max` peak-tracker whose window ENDS at the current
    * bucket — pinning ES's shift convention in a registered query)
    * and `serial_diff` at lag 2 (the seasonality-differencing shape;
    * the first two buckets are null, ES's omitted-value). All three
    * window over the parent's RETURNED bucket rows — |buckets| rows
    * of post-processing on one corpus pass, the scale-free half of
    * the ES agg surface.
    *
    * Served: the windows read the served bucket union. */
  val AggsMovingQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "daily_smooth": {"date_histogram": {"field": "persist_date",
      |        "calendar_interval": "day"},
      |      "aggs": {"smooth": {"moving_fn": {"buckets_path": "_count",
      |        "window": 3,
      |        "script": "MovingFunctions.unweightedAvg(values)"}}}},
      |    "daily_diff": {"date_histogram": {"field": "persist_date",
      |        "calendar_interval": "day"},
      |      "aggs": {"season": {"serial_diff": {"buckets_path": "_count",
      |        "lag": 2}}}},
      |    "len_peak": {"histogram": {"field": "n_chars",
      |        "interval": 200},
      |      "aggs": {"peak": {"moving_fn": {"buckets_path": "_count",
      |        "window": 2, "shift": 1,
      |        "script": "MovingFunctions.max(values)"}}}}}}"""
      .stripMargin

  /** ES `_terms_enum` request shape. */
  private final case class TermsEnumReq(field: String, prefix: String,
      size: Int, ci: Boolean)

  private def parseTermsEnum(json: String): TermsEnumReq = {
    val root = JsonMethods.parse(json) match {
      case o: JObject => o
      case other => fail(s"_terms_enum body must be a JSON object, " +
        s"got $other")
    }
    val known = Set("field", "string", "size", "case_insensitive")
    root.obj.collectFirst { case (k, _) if !known.contains(k) => k }
      .foreach(k => fail(s"_terms_enum has unsupported key '$k' — " +
        "supported: field, string, size, case_insensitive " +
        "(search_after paging and index_filter are unsupported)"))
    val f = root \ "field" match {
      case JString(x) if x.nonEmpty => x
      case _ => fail("_terms_enum needs a \"field\"")
    }
    val pfx = root \ "string" match {
      case JNothing => ""
      case JString(x) => x
      case v => fail(s"_terms_enum string must be a string, got $v")
    }
    val n = root \ "size" match {
      case JNothing => 10 // the ES default
      case JInt(x) if x >= 1 && x <= MaxResultWindow => x.toInt
      case v => fail(s"_terms_enum size must be a positive integer " +
        s"≤ $MaxResultWindow, got $v")
    }
    val ci = root \ "case_insensitive" match {
      case JNothing => false
      case JBool(x) => x
      case v => fail(s"_terms_enum case_insensitive must be a " +
        s"boolean, got $v")
    }
    TermsEnumReq(f, pfx, n, ci)
  }

  /** ES `_terms_enum` — autocomplete term enumeration: up to `size`
    * terms of `field` starting with `string`, lexicographically
    * sorted (the ES contract). Keyword fields enumerate raw values;
    * the analyzed fields enumerate their TOKEN dictionary — exactly
    * what the index stores for them. Vocab-grain work only: distinct
    * with map-side combine, a prefix gate, a TakeOrderedAndProject —
    * dictionary cost regardless of corpus size. `case_insensitive`
    * lowers BOTH sides (the prefix lowers once in Scala and embeds
    * as the same literal in both engines). */
  def termsEnumOf(docs: DataFrame, json: String): DataFrame = {
    import docs.sparkSession.implicits._
    val r = parseTermsEnum(json)
    val base =
      if (r.field == Search.DefaultField)
        docs.select(explode(TextAnalysis.toks($"text")).as("term"))
      else if (r.field == Search.HeadField)
        docs.select(explode(slice(TextAnalysis.toks($"text"), 1,
          Search.HeadLen)).as("term"))
      else docs.select(col(r.field).cast("string").as("term"))
    termsEnumCut(base, r)
  }

  private def termsEnumCut(base: DataFrame, r: TermsEnumReq)
      : DataFrame = {
    import base.sparkSession.implicits._
    val pfx = if (r.ci) r.prefix.toLowerCase else r.prefix
    val gate =
      if (r.prefix.isEmpty) $"term".isNotNull
      else if (r.ci) $"term".isNotNull &&
        lower($"term").startsWith(lit(pfx))
      else $"term".isNotNull && $"term".startsWith(lit(pfx))
    base.filter(gate).distinct().orderBy($"term".asc).limit(r.size)
  }

  /** [[termsEnumOf]] SERVED — the term dictionary comes from the
    * index: postings vocab for the analyzed fields (tombstones
    * excluded), docmeta doc-values for keyword fields; corpus text
    * untouched. */
  def termsEnumFromIndex(spark: SparkSession, indexDir: String,
      json: String): DataFrame = {
    import spark.implicits._
    val r = parseTermsEnum(json)
    val root = Search.requireIndex(spark, indexDir)
    val dead = Search.indexTable(spark, Seq(root), "tombstones")
    val base =
      if (AnalyzedFields.contains(r.field))
        Search.indexTable(spark, Seq(root), "postings")
          .filter($"field" === r.field)
          .join(dead, Seq("doc_id"), "left_anti")
          .select($"tok".as("term"))
      else {
        Search.requireFamilyColumns(spark, Seq(root), "docmeta", Seq(r.field))
        Search.indexTable(spark, Seq(root), "docmeta")
          .join(dead, Seq("doc_id"), "left_anti")
          .select(col(r.field).cast("string").as("term"))
      }
    termsEnumCut(base, r)
  }

  /** Oracle SQL for a `_terms_enum` request — the same dictionary
    * derivation over the raw relation. */
  def termsEnumSqlOver(json: String, rel: String): String = {
    val r = parseTermsEnum(json)
    val src =
      if (r.field == Search.DefaultField)
        s"(SELECT UNNEST($ToksExpr) AS term FROM $rel)"
      else if (r.field == Search.HeadField)
        s"(SELECT UNNEST(($ToksExpr)[1:${Search.HeadLen}]) AS term " +
          s"FROM $rel)"
      else s"(SELECT CAST(${r.field} AS VARCHAR) AS term FROM $rel)"
    val pfxLit = quoteSql(if (r.ci) r.prefix.toLowerCase else r.prefix)
    val cond =
      if (r.prefix.isEmpty) ""
      else if (r.ci) s" AND starts_with(lower(term), '$pfxLit')"
      else s" AND starts_with(term, '$pfxLit')"
    s"""SELECT DISTINCT term FROM $src AS te
       |WHERE term IS NOT NULL$cond
       |ORDER BY term LIMIT ${r.size}""".stripMargin
  }

  /** Registered `_terms_enum` requests — a keyword-field prefix
    * enumeration and a case-insensitive token-dictionary one. */
  val TermsEnumQuery: String =
    """{"field": "source", "string": "src1", "size": 20}"""
  val TermsEnumTextQuery: String =
    """{"field": "text", "string": "HA", "size": 15,
      |  "case_insensitive": true}""".stripMargin

  def dslTermsEnum(spark: SparkSession, dir: String): DataFrame =
    termsEnumOf(Tables.documentsPar(spark, dir), TermsEnumQuery)

  lazy val dslTermsEnumOracleSql: String =
    termsEnumSqlOver(TermsEnumQuery, "documents")

  def dslTermsEnumText(spark: SparkSession, dir: String): DataFrame =
    termsEnumOf(Tables.documentsPar(spark, dir), TermsEnumTextQuery)

  lazy val dslTermsEnumTextOracleSql: String =
    termsEnumSqlOver(TermsEnumTextQuery, "documents")

  /** Registered query: [[TermsEnumTextQuery]] SERVED — the dictionary
    * is the index's postings vocab; same oracle as the scan form. */
  def dslTermsEnumServed(spark: SparkSession, dir: String): DataFrame =
    termsEnumFromIndex(spark, Search.sharedIndexDir(spark, dir),
      TermsEnumTextQuery)

  /** ES `_search/template` (inline source) — the mustache SUBSET:
    * plain `{{param}}` substitution, string params JSON-escaped,
    * numeric/boolean params rendered literally; sections, inverted
    * sections, partials, and triple-mustache refuse loudly
    * (conditional templates change the QUERY SHAPE — an oracle can
    * only verify a deterministic render), as do unbound placeholders
    * and stored template ids. The rendered body dispatches to the
    * proven hits/aggs pipelines, so every clause the engine supports
    * is templatable for free — and the oracle renders the SAME body,
    * so template output is oracle-checked end to end. */
  def renderSearchTemplate(json: String): String = {
    val root = JsonMethods.parse(json) match {
      case o: JObject => o
      case other => fail(s"search template must be a JSON object, " +
        s"got $other")
    }
    root.obj.collectFirst {
      case (k, _) if k != "source" && k != "params" => k
    }.foreach { k =>
      if (k == "id") fail("search template: stored templates (id) " +
        "are unsupported — inline the \"source\"")
      else fail(s"search template has unsupported key '$k' — " +
        "supported: source, params")
    }
    val src = root \ "source" match {
      case JString(s2) => s2
      case o: JObject => JsonMethods.compact(JsonMethods.render(o))
      case _ => fail("search template needs a \"source\" (a mustache " +
        "string, or an object with {{param}} placeholders in its " +
        "string values)")
    }
    Seq("{{#", "{{^", "{{/", "{{>", "{{{").find(src.contains)
      .foreach(tok => fail(s"search template: mustache construct " +
        s"'$tok' is unsupported — plain {{param}} substitution only " +
        "(conditional templates change the query shape; render " +
        "upstream)"))
    val params: Map[String, String] = root \ "params" match {
      case JNothing => Map.empty
      case o: JObject => o.obj.map { case (k, v) =>
        k -> (v match {
          case JString(s2) => s2.flatMap {
            case '"' => "\\\""
            case '\\' => "\\\\"
            case c if c < ' ' => "\\u%04x".format(c.toInt)
            case c => c.toString
          }
          case JInt(x) => x.toString
          case JDouble(x) => x.toString
          case JDecimal(x) => x.underlying.toPlainString
          case JBool(x) => x.toString
          case other => fail(s"search template param '$k' must be a " +
            s"scalar, got $other")
        })
      }.toMap
      case v => fail(s"search template params must be an object, " +
        s"got $v")
    }
    val Re = """\{\{\s*([A-Za-z0-9_.]+)\s*\}\}""".r
    val rendered = Re.replaceAllIn(src, m => {
      val k = m.group(1)
      scala.util.matching.Regex.quoteReplacement(params.getOrElse(k,
        fail(s"search template: param '$k' is not bound")))
    })
    if (rendered.contains("{{"))
      fail("search template: an unrenderable '{{' remains after " +
        "substitution")
    rendered
  }

  def searchTemplateOf(docs: DataFrame, json: String): DataFrame = {
    val body = renderSearchTemplate(json)
    if ((JsonMethods.parse(body) \ "aggs") != JNothing)
      dslAggsOf(docs, body)
    else searchDslOf(docs, body)
  }

  def searchTemplateSql(json: String): String =
    searchTemplateSqlOver(json, "documents")

  def searchTemplateSqlOver(json: String, rel: String): String = {
    val body = renderSearchTemplate(json)
    if ((JsonMethods.parse(body) \ "aggs") != JNothing)
      dslAggsSqlOver(body, rel)
    else dslSqlOver(body, rel)
  }

  /** Registered SEARCH-TEMPLATE hits body — a parameterized
    * match+range query (string, integer, and size params) rendered
    * then run through the proven hits pipeline. */
  val SearchTemplateQuery: String =
    """{"source": "{\"query\": {\"bool\": {\"must\": [{\"match\": """ +
      """{\"text\": \"{{q}}\"}}], \"filter\": [{\"range\": """ +
      """{\"n_chars\": {\"gte\": {{min_len}}}}}]}}, \"size\": {{k}}}",""" +
      """ "params": {"q": "hash", "min_len": 120, "k": 10}}"""

  def dslSearchTemplate(spark: SparkSession, dir: String): DataFrame =
    searchTemplateOf(Tables.documentsPar(spark, dir),
      SearchTemplateQuery)

  lazy val dslSearchTemplateOracleSql: String =
    searchTemplateSql(SearchTemplateQuery)

  /** Registered SEARCH-TEMPLATE aggs body — a parameterized term
    * filter + stats target, the dashboard-template shape. */
  val SearchTemplateAggsQuery: String =
    """{"source": "{\"query\": {\"term\": {\"lang\": \"{{l}}\"}}, """ +
      """\"size\": 0, \"aggs\": {\"chars\": {\"stats\": """ +
      """{\"field\": \"{{f}}\"}}}}", """ +
      """"params": {"l": "en", "f": "n_chars"}}"""

  def dslSearchTemplateAggs(spark: SparkSession,
      dir: String): DataFrame =
    searchTemplateOf(Tables.documentsPar(spark, dir),
      SearchTemplateAggsQuery)

  lazy val dslSearchTemplateAggsOracleSql: String =
    searchTemplateSql(SearchTemplateAggsQuery)

  /** Registered RUNTIME-FIELDS hits body — a query-time computed
    * field (the ES `emit(<expr>)` contract over the arithmetic script
    * subset, params bound at parse) filtered and sorted on like any
    * mapped column; the oracle wraps the relation with the SAME
    * computed expression, so the values and the ranking both
    * hash-check. */
  val RuntimeFieldsQuery: String =
    """{"runtime_mappings": {"len2": {"type": "double",
      |    "script": {"source":
      |      "emit(doc['n_chars'].value * params.k + doc['doc_id'].value / 100.0)",
      |      "params": {"k": 2}}}},
      |  "query": {"bool": {"filter": [
      |    {"range": {"len2": {"gte": 500}}}]}},
      |  "sort": [{"len2": "desc"}, {"doc_id": "asc"}],
      |  "size": 10}""".stripMargin

  /** Registered RUNTIME-FIELDS aggs body — a `long` runtime field
    * (truncate-toward-zero in both engines) bucketing a terms agg and
    * feeding stats; the grouping key is a computed column the
    * one-pass machinery never distinguishes from schema. */
  val RuntimeAggsQuery: String =
    """{"runtime_mappings": {"len_bucket": {"type": "long",
      |    "script": "emit(doc['n_chars'].value / 100)"}},
      |  "size": 0, "aggs": {
      |    "lb": {"terms": {"field": "len_bucket", "size": 5}},
      |    "lstats": {"stats": {"field": "len_bucket"}}}}"""
      .stripMargin

  /** Registered CUMULATIVE_CARDINALITY body — distinct sources seen
    * through time (the "new users over time" shape) over a daily
    * date_histogram, and distinct languages accumulating up the
    * length histogram; EXACT via the first-occurrence decomposition
    * (see [[CumCardAgg]], incl. the inline-field divergence from
    * ES's sketch-merging buckets_path form).
    *
    * Served: the first-occurrence pass reads docmeta doc-values across
    * the daily members. */
  val AggsCumCardQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "daily_sources": {"date_histogram": {"field": "persist_date",
      |        "calendar_interval": "day"},
      |      "aggs": {"seen": {"cumulative_cardinality":
      |        {"field": "source"}}}},
      |    "len_langs": {"histogram": {"field": "n_chars",
      |        "interval": 200},
      |      "aggs": {"langs_seen": {"cumulative_cardinality":
      |        {"field": "lang"}}}}}}""".stripMargin

  /** Registered NORMALIZE + MOVING_PERCENTILES body — the daily
    * volume as a percent of total and as a z-score (exact-int window
    * aggregates, see [[PipelineAgg]]), a length histogram rescaled to
    * [0, 1], and the 3-day moving median of the daily counts (the
    * exact window percentile; ES's TDigest-merge divergence
    * documented on the case class).
    *
    * Served: the windows read the served bucket union. */
  val AggsNormalizeQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "daily_share": {"date_histogram": {"field": "persist_date",
      |        "calendar_interval": "day"},
      |      "aggs": {"share": {"normalize": {"buckets_path": "_count",
      |        "method": "percent_of_sum"}}}},
      |    "daily_z": {"date_histogram": {"field": "persist_date",
      |        "calendar_interval": "day"},
      |      "aggs": {"z": {"normalize": {"buckets_path": "_count",
      |        "method": "z-score"}}}},
      |    "daily_med": {"date_histogram": {"field": "persist_date",
      |        "calendar_interval": "day"},
      |      "aggs": {"med3": {"moving_percentiles": {
      |        "buckets_path": "_count", "window": 3, "shift": 1,
      |        "percent": 50}}}},
      |    "len_scaled": {"histogram": {"field": "n_chars",
      |        "interval": 200},
      |      "aggs": {"scaled": {"normalize": {"buckets_path": "_count",
      |        "method": "rescale_0_1"}}}}}}""".stripMargin

  /** Registered round-14 agg families II — the remaining everyday ES
    * aggregation types in one body: `multi_terms` (compound
    * lang|source keys, `|`-joined like ES's key_as_string),
    * `rare_terms` (the long tail: every source with ≤ max_doc_count
    * matching docs, count-asc), `weighted_avg` (length-weighted
    * docs-per-language… here Σ(n_chars·doc_id-derived weight)/Σw over
    * the match set), and `extended_stats` (variance family from exact
    * sums: Σx²/n − (Σx/n)², schema-stable via keyed extra rows). */
  val AggsExt2Query: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {
      |    "lang_src": {"multi_terms": {"terms": [
      |        {"field": "lang"}, {"field": "source"}], "size": 8},
      |      "aggs": {"chars": {"avg": {"field": "n_chars"}}}},
      |    "rare_srcs": {"rare_terms": {"field": "source",
      |      "max_doc_count": 3}},
      |    "wavg": {"weighted_avg": {"value": {"field": "n_chars"},
      |      "weight": {"field": "w8"}}},
      |    "chars_ext": {"extended_stats": {"field": "n_chars"}}}}"""
      .stripMargin

  /** The weight-column corpus both engines derive identically. */
  val W8: Corpus = Corpus(
    (spark, dir) => Tables.documentsPar(spark, dir)
      .withColumn("w8", col("doc_id") % 5 + 1),
    "(SELECT *, doc_id % 5 + 1 AS w8 FROM documents)")

  /** Registered round-14 agg families III — `missing` (docs lacking
    * the nullable column, with an avg sub over the null bucket),
    * `global` (corpus-wide stats beside a filtered match set — the
    * "totals next to filters" dashboard shape), `date_range` (explicit
    * [from, to) date buckets over the ingest date), `percentile_ranks`
    * (exact inverse percentiles: % of lengths ≤ each probe),
    * `top_metrics` (the length of the newest matching doc), and
    * `stats_bucket` (full stats over a date_histogram's bucket
    * counts). */
  val AggsExt3Query: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {
      |    "no_src": {"missing": {"field": "src_opt"},
      |      "aggs": {"chars": {"avg": {"field": "n_chars"}}}},
      |    "all_docs": {"global": {},
      |      "aggs": {"chars_all": {"stats": {"field": "n_chars"}}}},
      |    "eras": {"date_range": {"field": "persist_date", "ranges": [
      |        {"to": "2026-02-01"},
      |        {"from": "2026-02-01", "to": "2026-03-01"},
      |        {"from": "2026-03-01"}]},
      |      "aggs": {"chars": {"avg": {"field": "n_chars"}}}},
      |    "len_ranks": {"percentile_ranks": {"field": "n_chars",
      |      "values": [100, 250, 400]}},
      |    "newest_len": {"top_metrics": {"metrics":
      |      {"field": "n_chars"},
      |      "sort": {"persist_date": "desc"}, "size": 1}},
      |    "daily": {"date_histogram": {"field": "persist_date",
      |      "calendar_interval": "day"}},
      |    "daily_stats": {"stats_bucket": {"buckets_path":
      |      "daily>_count"}}}}""".stripMargin

  /** Scan-side corpus for [[AggsExt3Query]]: the deterministic ingest
    * date + the deterministically-nulled source column. */
  val Ext3: Corpus = Corpus(
    (spark, dir) => PersistDate.frame(spark, dir)
      .withColumn("src_opt", when(col("doc_id") % 7 =!= 0, col("source"))),
    "(SELECT *, CASE WHEN doc_id % 7 <> 0 THEN source END AS src_opt " +
      s"FROM ${PersistDate.rel} AS pd)")

  /** Registered DATE-MATH aggs body (VERDICT r15 #3): `date_range`
    * bounds written as explicit-anchor date math — `/M` month
    * round-down, `±Nd`/`±NM` chains — resolving to the era cuts
    * [*, 01-01), [01-01, 01-02), [01-02, *] over the 3-day
    * persist_date fixture; the first bucket is EMPTY (doc_count 0,
    * NULL avg — the emitted-anyway ES contract). The oracle re-derives
    * every bound with DuckDB DATE arithmetic, so the LocalDate
    * evaluator is cross-checked, not trusted. */
  val AggsDateMathQuery: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {
      |    "eras_math": {"date_range": {"field": "persist_date",
      |      "ranges": [
      |        {"to": "2026-01-09||/M"},
      |        {"from": "2026-01-09||/M", "to": "2025-12-26||+7d"},
      |        {"from": "2026-02-02||-1M/d"}]},
      |      "aggs": {"chars": {"avg": {"field": "n_chars"}}}}}}"""
    .stripMargin

  /** Registered SPAN-ALGEBRA body — the round-15 span combinators in
    * one query: a `span_first` must (dup within the first 60 tokens),
    * a `span_not` filter (that dup occurrence NOT within 3 tokens of
    * "slow"), an UNORDERED `span_near` filter (dup and vector within
    * 10, either order), and a scored `span_or` should ranking the
    * survivors. Every span compiles to a positional feature column —
    * scan: token-array lambdas; served: positional postings. */
  val SpansQuery: String =
    """{"query": {"bool": {
      |  "must": [{"span_first": {"match":
      |    {"span_term": {"text": "dup"}}, "end": 60}}],
      |  "filter": [
      |    {"span_not": {"include": {"span_term": {"text": "dup"}},
      |      "exclude": {"span_term": {"text": "slow"}}, "dist": 3}},
      |    {"span_near": {"clauses": [
      |      {"span_term": {"text": "dup"}},
      |      {"span_term": {"text": "vector"}}],
      |      "slop": 10, "in_order": false}}],
      |  "should": [{"span_or": {"clauses": [
      |    {"span_term": {"text": "merge"}},
      |    {"span_term": {"text": "hash"}}]}}]
      |}}, "size": 30}""".stripMargin

  /** Registered SPAN-ENCLOSURE body (VERDICT r15 #2 — the last span
    * combinators): a `span_within` must (little "vector" inside an
    * unordered dup↔merge near-span) beside a `span_containing` filter
    * (little "hash" inside an ordered dup→vector pair) — both compile
    * to the [[SpanWithinQ]] enclosure count; a scored match keeps the
    * page BM25-ranked.
    *
    * Served from positional postings. */
  val SpanWithinQuery: String =
    """{"query": {"bool": {
      |  "must": [{"match": {"text": "hash"}},
      |    {"span_within": {
      |      "little": {"span_term": {"text": "vector"}},
      |      "big": {"span_near": {"clauses": [
      |        {"span_term": {"text": "hash"}},
      |        {"span_term": {"text": "merge"}}],
      |        "slop": 15, "in_order": false}}}}],
      |  "filter": [
      |    {"span_containing": {
      |      "little": {"span_term": {"text": "merge"}},
      |      "big": {"span_near": {"clauses": [
      |        {"span_term": {"text": "hash"}},
      |        {"span_term": {"text": "vector"}}],
      |        "slop": 15, "in_order": true}}}}]
      |}}, "size": 30}""".stripMargin

  /** Registered SUGGEST body — the search-box loop end-to-end in the
    * DSL: a completion suggester on the shared corpus prefix, its
    * typo-tolerant fuzzy twin on the misspelled prefix, and a term
    * (spell-correction) suggester; one vocabulary pass serves all
    * three.
    *
    * Served from the shared index's term dictionary. */
  val SuggestBodyQuery: String =
    s"""{"suggest": {
      |  "complete": {"prefix": "${Search.SuggestPrefix}",
      |    "completion": {"field": "text", "size": ${Search.SuggestK}}},
      |  "typo": {"prefix": "${Search.FuzzySuggestPrefix}",
      |    "completion": {"field": "text", "size": ${Search.SuggestK},
      |      "fuzzy": {"fuzziness": ${Search.FuzzySuggestDist}}}},
      |  "spell": {"text": "vektor",
      |    "term": {"field": "text", "size": 5, "max_edits": 2}}}}"""
      .stripMargin

  /** Registered PHRASE-SUGGESTER body (VERDICT r15 #5): two-token
    * inputs with one typo'd token each — "hash vektor" (edit-1 fix on
    * the second token) and "smal vector" (edit-2 budget on the first)
    * — candidates re-ranked by corpus BIGRAM frequency, the bigram-LM
    * machinery's count-space rescore. The oracle rebuilds vocabulary,
    * candidates, AND the bigram counts in DuckDB.
    *
    * Served: candidates from the index term dictionary, bigram counts
    * from the positional postings' adjacency. */
  val SuggestPhraseQuery: String =
    """{"suggest": {
      |  "fix": {"text": "hash vektor",
      |    "phrase": {"field": "text", "size": 5, "max_edits": 1,
      |      "max_errors": 1}},
      |  "fix2": {"text": "smal vector",
      |    "phrase": {"field": "text", "size": 5, "max_edits": 2}}}}"""
      .stripMargin

  /** Registered POST_FILTER body — the faceted-search split: the
    * query's match set feeds aggregations (see the same-body
    * [[dslAggsOf]] contract), hits narrow by the post_filter, floor
    * at `min_score`, and carry the exact pre-page `total_hits` count
    * (ONE broadcast 1-row aggregate — what ES pays for a tracked
    * total). */
  val PostFilterQuery: String =
    """{"query": {"match": {"text": "dup vector"}},
      |  "post_filter": {"term": {"lang": "en"}},
      |  "min_score": 0.2,
      |  "track_total_hits": true,
      |  "size": 20}""".stripMargin

  /** Registered ADAPTIVE-AGGS body — `auto_date_histogram` twice (the
    * same data picking DAY under a generous bucket target and MONTH
    * under a tight one — the adaptivity is the test) plus a
    * `random_sampler` bucket with an avg sub over the deterministic
    * seeded sample. */
  val AggsAutoQuery: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {
      |    "adaptive_day": {"auto_date_histogram": {
      |      "field": "persist_date", "buckets": 500}},
      |    "adaptive_month": {"auto_date_histogram": {
      |      "field": "persist_date", "buckets": 5}},
      |    "sample": {"random_sampler": {"probability": 0.4, "seed": 7},
      |      "aggs": {"chars": {"avg": {"field": "n_chars"}}}}}}"""
      .stripMargin

  /** Registered BUCKET-SCRIPT TRIO body — the Kibana dashboard's
    * HAVING / computed-metric / bucket-page: a terms parent with an
    * avg metric sub, a `bucket_selector` flooring the bucket count, a
    * `bucket_script` emitting avg-per-doc-count, and a `bucket_sort`
    * paging the survivors by the metric. Pure \|buckets\|-row
    * arithmetic over the one grouping-sets pass — zero extra corpus
    * cost; the oracle wraps the same returned-bucket frame in
    * WHERE + ROW_NUMBER. */
  val AggsBucketScriptQuery: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {
      |    "by_src": {"terms": {"field": "source", "size": 12},
      |      "aggs": {
      |        "chars": {"avg": {"field": "n_chars"}},
      |        "busy": {"bucket_selector": {
      |          "buckets_path": {"n": "_count"},
      |          "script": "params.n >= 2"}},
      |        "ratio": {"bucket_script": {
      |          "buckets_path": {"c": "chars", "n": "_count"},
      |          "script": "params.c / (params.n + 1)"}},
      |        "page": {"bucket_sort": {"sort": [
      |          {"chars": {"order": "desc"}}], "from": 1,
      |          "size": 5}}}}}}""".stripMargin

  /** Registered `significant_terms` — sources over-represented among
    * "hash"-matching docs vs the whole corpus, JLH-scored from exact
    * fg/bg counts. The one agg reading PRE-FILTER rows (a background
    * model needs background counts).
    *
    * Served: the background universe comes from docmeta (the match_all
    * universe override), the foreground flag from postings. */
  val AggsSigQuery: String =
    """{"query": {"match": {"text": "hash"}}, "size": 0,
      |  "aggs": {
      |    "sig_srcs": {"significant_terms": {"field": "source",
      |      "size": 8}},
      |    "langs": {"terms": {"field": "lang", "size": 3}}}}"""
      .stripMargin

  /** Registered `significant_text` (VERDICT r16 #4) — tokens
    * over-represented in the "hash"-matching docs' TEXT vs the whole
    * corpus, re-analyzed on the fly (per-doc distinct tokens,
    * JLH-scored); size 12 so the frame holds more than the query term
    * itself. The terms sibling pins the match-set split.
    *
    * Served: the candidate universe widens to match_all (background
    * counts), the foreground flag comes from postings, and the TOKENS
    * come from re-analyzing the index's stored `_source` (what ES
    * itself does for significant_text). */
  val AggsSigTextQuery: String =
    """{"query": {"match": {"text": "hash"}}, "size": 0,
      |  "aggs": {
      |    "sig_toks": {"significant_text": {"field": "text",
      |      "size": 12}},
      |    "langs": {"terms": {"field": "lang", "size": 3}}}}"""
      .stripMargin

  /** Registered `scripted_metric` (VERDICT r16 #8) — the canonical ES
    * accumulator quartet computing a parameterized integral sum over
    * the "dup" match set: Σ (n_chars·w − doc_id) with w = 3. The
    * stats sibling pins that the scripted sum and the machinery
    * metrics read one match set.
    *
    * Served: the map expression evaluates on docmeta doc-values. */
  val AggsScriptedQuery: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {
      |    "weighted_chars": {"scripted_metric": {
      |      "init_script": "state.t = 0",
      |      "map_script":
      |        "state.t += doc['n_chars'].value * params.w - doc['doc_id'].value",
      |      "combine_script": "return state.t",
      |      "reduce_script":
      |        "double r = 0; for (s in states) { r += s } return r",
      |      "params": {"w": 3}}},
      |    "chars": {"stats": {"field": "n_chars"}}}}""".stripMargin

  /** Registered `sampler` + `diversified_sampler` (VERDICT r16 #5) —
    * sub-aggs scoped to the top-scoring docs of the "hash" match set:
    * a terms breakdown over the best 50, and stats over a
    * source-diversified best 20 (max one doc per source, the ES
    * default, via the collapse machinery). The samples draw through
    * the REAL search pipeline with the (score DESC, doc_id)
    * deterministic tie-break.
    *
    * Served: the samples draw through the index-served hits pipeline
    * (postings-scored rank, collapse on docmeta doc-values). */
  val AggsSamplerQuery: String =
    """{"query": {"match": {"text": "hash"}}, "size": 0,
      |  "aggs": {
      |    "best": {"sampler": {"shard_size": 50},
      |      "aggs": {"langs": {"terms": {"field": "lang",
      |        "size": 5}}}},
      |    "best_div": {"diversified_sampler": {"field": "source",
      |        "shard_size": 20},
      |      "aggs": {"chars": {"stats": {"field": "n_chars"}}}},
      |    "all_langs": {"terms": {"field": "lang", "size": 3}}}}"""
      .stripMargin

  /** Registered `global`-agg body with a TEXT query, SERVED — the
    * regression pin for the r14 served-universe bug: a global agg
    * aggregates the PRE-filter frame, so the served candidate universe
    * must widen to match_all exactly like significant_terms (without
    * the widening, the df-bounded candidate set silently shrank
    * "all docs" to term-matched docs). Scan twin’s oracle. */
  val AggsGlobalQuery: String =
    """{"query": {"match": {"text": "hash"}}, "size": 0,
      |  "aggs": {
      |    "langs": {"terms": {"field": "lang", "size": 3}},
      |    "all_docs": {"global": {},
      |      "aggs": {"chars_all": {"stats": {"field": "n_chars"}}}}}}"""
      .stripMargin

  def dslAggsGlobalServed(spark: SparkSession, dir: String): DataFrame =
    dslAggsFromIndexes(spark,
      Seq(Search.sharedIndexDir(spark, dir)), AggsGlobalQuery)

  lazy val dslAggsGlobalServedOracleSql: String = dslAggsSql(AggsGlobalQuery)

  /** Registered ADJACENCY_MATRIX body — the co-occurrence matrix over
    * four segment filters (two language terms, a full-text match, a
    * length range): singles plus every pairwise intersection as
    * conditional columns of the one grouping-sets pass. The `de&en`
    * cell is structurally empty (a doc carries one lang), proving the
    * zero-count prune; the avg sub rides every surviving cell.
    *
    * Served: matrix-cell membership from postings tf + docmeta
    * doc-values. */
  val AggsAdjacencyQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "mat": {"adjacency_matrix": {"filters": {
      |        "en": {"term": {"lang": "en"}},
      |        "de": {"term": {"lang": "de"}},
      |        "hashy": {"match": {"text": "hash"}},
      |        "long": {"range": {"n_chars": {"gte": 300}}}}},
      |      "aggs": {"chars": {"avg": {"field": "n_chars"}}}},
      |    "langs": {"terms": {"field": "lang", "size": 3}}}}"""
      .stripMargin

  /** Registered EXTENDED aggregations body — the round-12 agg
    * families: single-value metrics (avg/sum/min/max/value_count),
    * exact cardinality, a range agg with explicit buckets carrying a
    * stats sub-agg, a `filter` agg whose stored clause is a full-text
    * MATCH (proving the merged clause inventory: query + filter-agg
    * text predicates share ONE feature frame), and a terms bucket
    * with a cardinality sub-agg. */
  val AggsExtQuery: String =
    """{"query": {"match": {"text": "dup vector"}}, "size": 0,
      |  "aggs": {
      |    "lang_card": {"cardinality": {"field": "lang"}},
      |    "chars_avg": {"avg": {"field": "n_chars"}},
      |    "chars_sum": {"sum": {"field": "n_chars"}},
      |    "chars_min": {"min": {"field": "n_chars"}},
      |    "chars_max": {"max": {"field": "n_chars"}},
      |    "src_count": {"value_count": {"field": "source"}},
      |    "len_ranges": {"range": {"field": "n_chars", "ranges": [
      |        {"to": 150}, {"from": 150, "to": 350}, {"from": 350}]},
      |      "aggs": {"chars": {"stats": {"field": "n_chars"}}}},
      |    "hash_docs": {"filter": {"match": {"text": "hash"}},
      |      "aggs": {"chars": {"avg": {"field": "n_chars"}}}},
      |    "by_lang": {"terms": {"field": "lang", "size": 3,
      |        "order": {"_key": "asc"}},
      |      "aggs": {"srcs": {"cardinality": {"field": "source"}}}}}}"""
      .stripMargin

  /** Registered SKETCH-cardinality body — `precision_threshold` opts
    * into the HLL++ form (ES's actual cardinality semantics: no
    * per-bucket distinct shuffle at 100 TB, a fixed-size sketch merged
    * map-side), exercised in all three column slots: a global metric,
    * a terms-bucket sub, and a filter-bucket sub. Registered ROWS-ONLY
    * (a sketch can't hash-match a serial oracle — the `agg_hll`
    * stance); DslSpec bounds it against the exact twin instead. */
  val AggsHllQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "lang_hll": {"cardinality": {"field": "lang",
      |                 "precision_threshold": 3000}},
      |    "by_lang": {"terms": {"field": "lang", "size": 4},
      |      "aggs": {"srcs": {"cardinality": {"field": "source",
      |               "precision_threshold": 1000}}}},
      |    "big_docs": {"filter": {"range": {"n_chars": {"gte": 200}}},
      |      "aggs": {"srcs_hll": {"cardinality": {"field": "source",
      |               "precision_threshold": 100}}}}}}""".stripMargin

  def dslAggsHll(spark: SparkSession, dir: String): DataFrame =
    dslAggsOf(Tables.documentsPar(spark, dir), AggsHllQuery)

  /** Registered NESTED-BUCKET aggregations — the ES dashboard shapes:
    * terms → date_histogram (per-language daily counts), terms ordered
    * by its metric sub's value (`"order": {"avg_chars": "desc"}`), and
    * terms → terms with a per-parent top-N cut. All of it ONE
    * grouping-sets pass: a nested bucket adds a grouping column and
    * the {parent, child} set, never a second scan (child rows ride
    * `key2`; the per-parent cut is a bucket-grain window).
    *
    * Served: nested buckets over doc-values across the daily members. */
  val AggsNestedQuery: String =
    """{"query": {"match": {"text": "dup vector"}}, "size": 0,
      |  "aggs": {
      |    "lang_daily": {"terms": {"field": "lang", "size": 3},
      |      "aggs": {"daily": {"date_histogram": {"field": "persist_date",
      |               "calendar_interval": "day"}}}},
      |    "lang_by_len": {"terms": {"field": "lang", "size": 2,
      |        "order": {"avg_chars": "desc"}},
      |      "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}},
      |    "src_langs": {"terms": {"field": "source", "size": 3},
      |      "aggs": {"langs": {"terms": {"field": "lang", "size": 2}}}}}}"""
      .stripMargin

  /** Registered `missing` + `min_doc_count` aggs body — the two
    * everyday terms-agg knobs: docs lacking the (deterministically
    * nulled) `src_opt` column bucket under "none", and a count floor
    * drops sparse language buckets BEFORE the cut. */
  val AggsMissingQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "srcs": {"terms": {"field": "src_opt", "size": 10,
      |             "missing": "none", "order": {"_key": "asc"}}},
      |    "big_langs": {"terms": {"field": "lang", "size": 10,
      |                  "min_doc_count": 70}}}}""".stripMargin

  /** The nullable-column corpus both engines derive identically. */
  val SrcOpt: Corpus = Corpus(
    (spark, dir) => Tables.documentsPar(spark, dir)
      .withColumn("src_opt", when(col("doc_id") % 7 =!= 0, col("source"))),
    "(SELECT *, CASE WHEN doc_id % 7 <> 0 THEN source END AS src_opt " +
      "FROM documents)")

  /** Registered PERCENTILES body — exact interpolation percentiles
    * (Spark `percentile` ≡ DuckDB `quantile_cont`, the agg_percentile
    * parity) inside a DSL aggs body, one output row per percent (value
    * in `v_pct`, percent in `key`), riding the SAME grouping-sets pass
    * as the terms agg beside it.
    *
    * Served: percentile inputs are doc-values, the match gate comes
    * from postings. */
  val AggsPercentilesQuery: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {
      |    "chars_pct": {"percentiles": {"field": "n_chars",
      |                  "percents": [25, 50, 75, 99]}},
      |    "langs": {"terms": {"field": "lang", "size": 3}}}}"""
      .stripMargin

  /** Registered BOXPLOT + MEDIAN_ABSOLUTE_DEVIATION body — the two
    * robust-dispersion metrics over the "dup" match set's n_chars:
    * boxplot's five keyed rows (min/q1/q2/q3/max — exact quartiles on
    * the one-pass machinery's percentile columns) and the exact MAD
    * (median-of-deviations, the two-aggregate plan). The stats
    * sibling pins that all three read one match set.
    *
    * Served: quartile and deviation inputs are doc-values, the match
    * gate comes from postings. */
  val AggsBoxplotQuery: String =
    """{"query": {"match": {"text": "dup"}}, "size": 0,
      |  "aggs": {
      |    "chars_box": {"boxplot": {"field": "n_chars"}},
      |    "chars_mad": {"median_absolute_deviation":
      |                  {"field": "n_chars"}},
      |    "chars": {"stats": {"field": "n_chars"}}}}""".stripMargin

  /** Registered STRING_STATS body — the five keyed rows over the
    * "hash" match set's `source` keyword values, entropy folded in
    * character order on both engines (see [[StringStatsAgg]]); the
    * terms sibling pins the shared match set.
    *
    * Served: the keyword values come from docmeta doc-values, the match
    * gate from postings. */
  val AggsStringStatsQuery: String =
    """{"query": {"match": {"text": "hash"}}, "size": 0,
      |  "aggs": {
      |    "src_stats": {"string_stats": {"field": "source"}},
      |    "langs": {"terms": {"field": "lang", "size": 3}}}}"""
      .stripMargin

  /** Registered T_TEST body — is the en/de document-length shift
    * significant? Welch (the ES default) and pooled variants over the
    * same two filter-defined populations; each emits the sufficient
    * statistics (t, df) from exact integer sums — see [[TTestAgg]]
    * for the p-value divergence. The stats sibling pins the shared
    * match set.
    *
    * Served: population membership and the summed doc-values come from
    * docmeta. */
  val AggsTTestQuery: String =
    """{"query": {"match_all": {}}, "size": 0,
      |  "aggs": {
      |    "len_shift": {"t_test": {
      |      "a": {"field": "n_chars", "filter": {"term": {"lang": "en"}}},
      |      "b": {"field": "n_chars", "filter": {"term": {"lang": "de"}}}}},
      |    "len_shift_pooled": {"t_test": {
      |      "a": {"field": "n_chars", "filter": {"term": {"lang": "en"}}},
      |      "b": {"field": "n_chars", "filter": {"term": {"lang": "de"}}},
      |      "type": "homoscedastic"}},
      |    "chars": {"stats": {"field": "n_chars"}}}}""".stripMargin

  /** Page-1 body of the keyset-paging pair: field-only sort (the
    * scalable ES PIT + search_after shape — score never evaluates,
    * statistics never aggregate), `_source` carrying the sort field so
    * the response contains exactly what the client must echo back. */
  val AfterPage1Query: String =
    """{"query": {"match": {"text": "dup"}},
      |  "sort": [{"n_chars": {"order": "desc"}}], "size": 5,
      |  "_source": ["n_chars"]}""".stripMargin

  /** Registered query: DSL `search_after` — run page 1, echo its last
    * hit's (n_chars, doc_id) back as the cursor, serve page 2 by the
    * strictly-after keyset predicate (the skipped prefix never
    * materializes). The 5-row collect IS the ES protocol: the server
    * returns sort values, the client echoes them — driver-sized by
    * definition. The ORACLE deliberately computes the page by global
    * ROW_NUMBER offset instead ([[dslSearchAfterOracleSql]]): keyset ≡
    * offset under a total order is exactly the invariant search_after
    * promises, so oracle-green IS the pagination-correctness proof. */
  def dslSearchAfter(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documentsPar(spark, dir)
    val page1 = searchDslOf(docs, AfterPage1Query).collect()
    if (page1.length < 5)
      throw new IllegalStateException(
        "dsl_search_after: fewer than 5 matches — no second page")
    val last = page1.last
    val body2 =
      s"""{"query": {"match": {"text": "dup"}},
         |  "sort": [{"n_chars": {"order": "desc"}}], "size": 5,
         |  "_source": ["n_chars"],
         |  "search_after": [${last.getLong(2)}, ${last.getLong(1)}]}"""
        .stripMargin
    searchDslOf(docs, body2)
  }

  /** The offset form of page 2 — `from`: 5 over the same body — with
    * rk re-based to the page-local ranks the keyset path emits. */
  lazy val dslSearchAfterOracleSql: String = {
    val fromBody =
      """{"query": {"match": {"text": "dup"}},
        |  "sort": [{"n_chars": {"order": "desc"}}], "size": 5, "from": 5,
        |  "_source": ["n_chars"]}""".stripMargin
    s"""SELECT rk - 5 AS rk, doc_id, n_chars
       |FROM (${dslSql(fromBody)}) AS kp ORDER BY rk""".stripMargin
  }

  /** Registered `_msearch` batch — three heterogeneous requests
    * answered by ONE corpus pass: a scored match, a scoreless
    * filter-context body, and a field-sorted offset page. The oracle
    * unions three branches over the SAME shared f/s CTEs. */
  val MsearchBodies: Seq[String] = Seq(
    """{"query": {"match": {"text": "dup vector"}}, "size": 10}""",
    """{"query": {"bool": {"filter": [
      |  {"range": {"n_chars": {"gte": 200, "lt": 400}}},
      |  {"term": {"lang": "en"}}]}}, "size": 10}""".stripMargin,
    """{"query": {"match": {"text": "merge"}},
      |  "sort": [{"n_chars": "asc"}], "from": 3, "size": 7}""".stripMargin)

  def dslMsearch(spark: SparkSession, dir: String): DataFrame =
    msearch(Documents.scan(spark, dir), MsearchBodies)

  /** Registered query: [[MsearchBodies]] SERVED from the session
    * index — same oracle as the scan batch. */
  def dslMsearchServed(spark: SparkSession, dir: String): DataFrame =
    msearch(Documents.served(spark, dir), MsearchBodies)

  lazy val dslMsearchOracleSql: String = msearchSql(MsearchBodies)

  /** Registered HIGHLIGHT body — a scored bool with a boosted phrase
    * should, highlighted on the full text field: hits carry h_pos /
    * h_snippet from the fetch-phase join (snippets compute for the
    * page only, never the corpus).
    *
    * Served: ranking from postings, snippets from the index's STORED
    * `_source` table (the ES fetch phase reads the shard's stored
    * fields, not the ingest source). */
  val HighlightQuery: String =
    """{"query": {"bool": {
      |  "must": [{"match": {"text": "dup vector"}}],
      |  "should": [{"match_phrase": {"text": {"query": "merge hash",
      |              "boost": 1.2}}}]}},
      |  "size": 25,
      |  "highlight": {"fields": {"text": {}}}}""".stripMargin

  /** Registered DSL-percolator rules: range+match (the alerting shape
    * a term list cannot express), a phrase rule, and a keyword
    * should-pair. */
  val PercolateRules: Seq[(Long, String)] = Seq(
    1L -> """{"query": {"bool": {"must": [{"match": {"text": "dup"}}],
            |  "filter": [{"range": {"n_chars": {"gte": 200}}}]}}}""".stripMargin,
    2L -> """{"query": {"match_phrase": {"text": "slow scan"}}}""",
    3L -> """{"query": {"bool": {"should": [{"term": {"lang": "de"}},
            |  {"term": {"lang": "fr"}}]}}}""".stripMargin)

  def percolateDsl(spark: SparkSession, dir: String): DataFrame =
    percolateDslOf(Tables.documentsPar(spark, dir), PercolateRules)
      .orderBy("doc_id", "query_id")

  lazy val percolateDslOracleSql: String =
    percolateDslSql(PercolateRules, "documents")

  /** Registered EXTENDED-CLAUSE query — the round-12 clause families
    * in one body: `dis_max` (best of two match branches + tie_breaker),
    * `constant_score` (a scored filter — the ES pattern for boosting a
    * range), `prefix` + `wildcard` doc-value filters, and an `ids`
    * exclusion.
    *
    * Served: prefix/wildcard/ids evaluate on docmeta doc-values, the
    * dis_max branches' tf comes from postings. */
  val ExtendedQuery: String =
    """{"query": {"bool": {
      |  "must": [{"dis_max": {"queries": [
      |      {"match": {"text": "dup vector"}},
      |      {"match": {"text": {"query": "merge hash",
      |                          "operator": "and"}}}], "tie_breaker": 0.3}}],
      |  "should": [{"constant_score": {
      |      "filter": {"range": {"n_chars": {"gte": 300}}},
      |      "boost": 0.5}}],
      |  "filter": [{"prefix": {"lang": {"value": "e"}}},
      |             {"wildcard": {"source": {"value": "src1*"}}}],
      |  "must_not": [{"ids": {"values": [3, 7, 11]}}]
      |}}, "size": 40}""".stripMargin

  /** Registered SORTED + PAGED query — `sort` (field desc, then
    * `_score`, then a field asc), `from` offset paging, and an
    * `_source` include list: the full ES hit-shaping surface in one
    * body. Ranks 6–20 of the n_chars-desc ordering, each hit carrying
    * its doc-value source fields.
    *
    * Served: sort keys and `_source` fields read from doc-values, the
    * `_score` sort leg from postings statistics. */
  val SortedQuery: String =
    """{"query": {"match": {"text": "dup vector merge"}},
      |  "sort": [{"n_chars": {"order": "desc"}}, "_score", {"lang": "asc"}],
      |  "from": 5, "size": 15,
      |  "_source": ["lang", "source", "n_chars"]}""".stripMargin

  /** Registered `_count` body — match + range, the filter-context
    * count shape. */
  val CountQuery: String =
    """{"query": {"bool": {"must": [{"match": {"text": "dup"}}],
      |  "filter": [{"range": {"n_chars": {"lt": 400}}}]}}}""".stripMargin

  /** Registered `minimum_should_match` GRAMMAR body — "50%" of four
    * heterogeneous shoulds (two scored matches, a scored keyword term,
    * an unscored range) resolves to 2 at parse time; hits score the
    * clauses they matched (the gate counts, the score sums — both ES
    * contracts). Oracle generated from the same AST, so green proves
    * the grammar resolution feeds the exact integer the compiler
    * gates on.
    *
    * Served: the resolved msm integer gates postings/doc-values
    * candidates. */
  val MsmQuery: String =
    """{"query": {"bool": {
      |  "should": [{"match": {"text": "dup"}},
      |             {"match": {"text": "vector"}},
      |             {"term": {"lang": "en"}},
      |             {"range": {"n_chars": {"gte": 300}}}],
      |  "minimum_should_match": "50%"}}, "size": 30}""".stripMargin

  /** Registered FUZZY body — two typo'd terms under `"fuzziness":
    * "AUTO"` (both length 5 → one edit) beside an exact filter; the
    * fuzzy expansion's tf/df feed the same BM25 expression, and the
    * ORACLE IS GENERATED FROM THE SAME AST (the expansion is a
    * deterministic Levenshtein predicate both engines evaluate
    * identically).
    *
    * Served: the expansion filters the TERM DICTIONARY (postings rows,
    * Lucene's fuzzy-automaton shape), never the corpus text. */
  val FuzzyQuery: String =
    """{"query": {"bool": {
      |  "must": [{"match": {"text": {"query": "vectr merge",
      |            "fuzziness": "AUTO"}}}],
      |  "filter": [{"range": {"n_chars": {"gte": 60}}}]
      |}}, "size": 40}""".stripMargin

  /** Registered DSL `function_score` body — BM25 × ln(1 + n_chars)
    * with `boost_mode: multiply`, the "boost longer docs" ranking the
    * standalone [[Search.functionScore]] operator proved oracle-green;
    * here it arrives through the query DSL, composable with every
    * other clause. Oracle generated from the same AST.
    *
    * Served: the factor field reads from doc-values beside the postings
    * features. */
  val FunctionScoreQuery: String =
    """{"query": {"function_score": {
      |  "query": {"match": {"text": "dup vector"}},
      |  "field_value_factor": {"field": "n_chars", "modifier": "ln1p"},
      |  "boost_mode": "multiply"}},
      |  "size": 30}""".stripMargin

  /** Registered `functions`-ARRAY function_score with DECAY scoring —
    * the "boost recent" relevance pattern: BM25 over the match set ×
    * a gauss decay on the ingest date (peak at the origin, half-life
    * at scale past the offset) × a linear decay on length gated to
    * English docs by a per-function filter × a bare weight on docs
    * carrying a source. Constants precompile to shared literals; the
    * runtime `exp` is rank-internal (see [[DecayFn]]). */
  val FnScoreDecayQuery: String =
    """{"query": {"function_score": {
      |  "query": {"match": {"text": "dup"}},
      |  "functions": [
      |    {"gauss": {"persist_date": {"origin": "2026-02-10",
      |      "scale": "10d", "offset": "2d"}}},
      |    {"linear": {"n_chars": {"origin": 250, "scale": 150,
      |      "decay": 0.3}}, "filter": {"term": {"lang": "en"}},
      |      "weight": 2},
      |    {"filter": {"exists": {"field": "source"}}, "weight": 1.5}],
      |  "score_mode": "multiply", "boost_mode": "multiply"}},
      |  "size": 30}""".stripMargin

  /** Registered score_mode/boost_mode MATRIX body — `exp` decay +
    * `field_value_factor` + a filtered weight combined by WEIGHTED
    * average (ES's documented avg), then SUMMED with the BM25 score. */
  val FnScoreModesQuery: String =
    """{"query": {"function_score": {
      |  "query": {"match": {"text": "vector merge"}},
      |  "functions": [
      |    {"exp": {"n_chars": {"origin": 200, "scale": 120,
      |      "decay": 0.4}}, "weight": 3},
      |    {"field_value_factor": {"field": "n_chars",
      |      "modifier": "sqrt", "factor": 0.5}},
      |    {"filter": {"term": {"lang": "de"}}, "weight": 4}],
      |  "score_mode": "avg", "boost_mode": "sum"}},
      |  "size": 25}""".stripMargin

  /** Registered `random_score` — deterministic seeded sampling of the
    * match set (seed+field REQUIRED — the reproducible form): hash
    * ranks replace BM25 via boost_mode replace, so the page is a
    * stable pseudo-random draw both engines agree on byte-for-byte. */
  val RandomScoreQuery: String =
    """{"query": {"function_score": {
      |  "query": {"match": {"text": "dup"}},
      |  "functions": [
      |    {"random_score": {"seed": 42, "field": "source"}}],
      |  "boost_mode": "replace"}},
      |  "size": 20}""".stripMargin

  /** Registered functions-array `script_score` — the arithmetic
    * script as ONE function among several: a weighted script value
    * summed with a filtered weight function (score_mode sum), the
    * combined value replacing the base (boost_mode replace). Proves
    * the script composes with the full matrix, not just the
    * standalone query. */
  val FnScoreScriptQuery: String =
    """{"query": {"function_score": {
      |  "query": {"match": {"text": "dup"}},
      |  "functions": [
      |    {"script_score": {"script": {
      |      "source": "doc['n_chars'].value / 100 + params.b",
      |      "params": {"b": 1}}}, "weight": 2},
      |    {"filter": {"term": {"lang": "en"}}, "weight": 3}],
      |  "score_mode": "sum", "boost_mode": "replace"}},
      |  "size": 30}""".stripMargin

  /** Registered SCRIPT_FIELDS body — the third scripted-anything slot
    * (beside the script_score query and the functions-array entry):
    * per-hit computed columns from the shared arithmetic subset,
    * riding the hit rows beside `_source` fields.
    *
    * Served from the index's numeric doc-values. */
  val ScriptFieldsQuery: String =
    """{"query": {"match": {"text": "dup"}},
      |  "script_fields": {
      |    "len_score": {"script": {
      |      "source": "doc['n_chars'].value / 100 + params.b",
      |      "params": {"b": 2}}},
      |    "double_len": {"script": "doc['n_chars'].value * 2"}},
      |  "_source": ["n_chars"], "size": 25}""".stripMargin

  /** Registered `script_score` — the ARITHMETIC subset (VERDICT r15
    * #6): params + `doc['n_chars'].value` through the shared PExpr
    * grammar; the inner bool gates in filter context and the script's
    * value IS the score (integer-in-double arithmetic — no libm, both
    * engines bit-agree; ties break by doc_id).
    *
    * Served from the index's numeric doc-values. */
  val ScriptScoreQuery: String =
    """{"query": {"script_score": {
      |  "query": {"bool": {"filter": [
      |    {"range": {"n_chars": {"gte": 60}}},
      |    {"exists": {"field": "source"}}]}},
      |  "script": {
      |    "source": "(doc['n_chars'].value + params.a) * params.w / 100",
      |    "params": {"a": 7, "w": 3}}}},
      |  "size": 40}""".stripMargin

  /** Registered BOOSTING body — penalize-don't-exclude: matches of the
    * negative clause stay in the result set at `negative_boost` × their
    * score. Oracle generated from the same AST. */
  val BoostingQuery: String =
    """{"query": {"boosting": {
      |  "positive": {"match": {"text": "dup vector"}},
      |  "negative": {"term": {"lang": "zh"}},
      |  "negative_boost": 0.3}},
      |  "size": 30}""".stripMargin

  /** Registered REGEXP body — term-level anchored regex on the
    * analyzed field beside a raw-value regex on a keyword field (the
    * anchor matters: `src[0-9]` matches src0-src9 but NOT src10-19).
    * Filter context (regexp is unscored set-membership, the wildcard
    * convention); oracle generated from the same AST.
    *
    * Served: the analyzed leg is a term-dictionary walk (the fuzzy
    * pivot's shape), the keyword leg a doc-values regex. */
  val RegexpQuery: String =
    """{"query": {"bool": {
      |  "filter": [{"regexp": {"text": {"value": "qu.ry"}}},
      |             {"regexp": {"source": {"value": "src[0-9]"}}}]
      |}}, "size": 40}""".stripMargin

  /** Registered standalone FUZZY clause — the term-level form
    * (`{"fuzzy": {field: {"value": …}}}`, fuzziness AUTO), desugared
    * at parse into the match-fuzziness machinery, so scoring, serving,
    * and the generated oracle are [[MatchFzQ]]'s.
    *
    * Served: the shared fuzzy term-dictionary walk. */
  val FuzzyClauseQuery: String =
    """{"query": {"fuzzy": {"text": {"value": "vectr"}}},
      |  "size": 30}""".stripMargin

  /** Registered SLOPPY-PHRASE body — "vector merge" within a 2-token
    * window: adjacency plus up to two interveners. tf counts the
    * windowed starts, scored as a term (the exact-phrase convention);
    * oracle generated from the same AST (identical position
    * arithmetic).
    *
    * Served: the windowed position intersect over the index's
    * positional postings. */
  val PhraseSlopQuery: String =
    """{"query": {"match_phrase": {"text":
      |  {"query": "vector merge", "slop": 2}}}, "size": 30}""".stripMargin

  /** Registered SEARCH-AS-YOU-TYPE body — `match_phrase_prefix`: the
    * exact word "vector" followed by any token with prefix "me" (the
    * half-typed query); scored as a phrase, oracle from the same AST
    * (the prefix expansion is a deterministic starts_with both engines
    * evaluate).
    *
    * Served: the prefix leg walks the term dictionary for its
    * expansions' positions, the exact leg stays bucket-pruned. */
  val PhrasePrefixQuery: String =
    """{"query": {"match_phrase_prefix": {"text": "vector me"}},
      |  "size": 30}""".stripMargin

  /** Registered NESTED body over the INGEST corpus (where tags live —
    * [[Ingest.ingestDocs]]): one nested clause that must be satisfied
    * by a SINGLE tag (type = "k" AND value ∈ {9, 15}), a must_not
    * nested clause (no error-typed tag), and the daily-window terms
    * filter that makes the scan twin range over exactly the documents
    * the daily indices hold. Filter-context throughout (scoreless —
    * the nested-filter shape ES users write), so the scan and the
    * 3-member served evaluation share one oracle with no statistics
    * divergence.
    *
    * Served through the daily ingest alias: the nested predicate
    * evaluates on docmeta's stored tags array (a pure doc-values
    * filter, no corpus read). */
  val NestedQuery: String = {
    val dates = Search.IngestWindowDates.map(d => s""""$d"""")
      .mkString("[", ", ", "]")
    s"""{"query": {"bool": {
       |  "filter": [
       |    {"nested": {"path": "tags", "query": {"bool": {
       |      "must": [{"term": {"tags.type": "k"}},
       |               {"terms": {"tags.value": ["9", "15"]}}]}}}},
       |    {"terms": {"persist_date": $dates}}],
       |  "must_not": [
       |    {"nested": {"path": "tags", "query": {"bool": {
       |      "must": [{"term": {"tags.type": "etype"}},
       |               {"match": {"tags.value": "error"}}]}}}}]
       |}}, "size": 100}""".stripMargin
  }

  /** Registered NESTED AGGREGATION — the query-side nested clause's
    * analytics twin over the same ingest corpus: switch grain to the
    * tags and bucket their values; the parent row counts TAGS (the ES
    * nested-agg doc_count contract). Filter gates to the daily window
    * so the served twin ranges over exactly the indices' documents.
    *
    * Served: the tags array reads from docmeta doc-values across the
    * daily ingest alias members. */
  val NestedAggsQuery: String = {
    val dates = Search.IngestWindowDates.map(d => s""""$d"""")
      .mkString("[", ", ", "]")
    s"""{"query": {"bool": {"filter": [
       |    {"terms": {"persist_date": $dates}}]}}, "size": 0,
       |  "aggs": {"tag_vals": {"nested": {"path": "tags"},
       |    "aggs": {"vals": {"terms": {"field": "tags.value",
       |      "size": 8, "min_doc_count": 2}}}}}}""".stripMargin
  }

  /** Registered `inner_hits` body (VERDICT r16 #2): [[NestedQuery]]'s
    * match set with BOTH nested clauses returning their matched inner
    * tag objects — the positive filter clause under the default name
    * (`tags`, the path) proves WHICH tag satisfied the query per hit;
    * the must_not clause (named `bad_tags` — two channels must not
    * collide) proves the empty-payload contract: a doc is a hit
    * BECAUSE no element matched, so its inner page serializes ''.
    *
    * Served through the daily ingest alias: the inner payload reads the
    * docmeta doc-values' stored tag array. */
  val NestedInnerHitsQuery: String = {
    val dates = Search.IngestWindowDates.map(d => s""""$d"""")
      .mkString("[", ", ", "]")
    s"""{"query": {"bool": {
       |  "filter": [
       |    {"nested": {"path": "tags", "query": {"bool": {
       |      "must": [{"term": {"tags.type": "k"}},
       |               {"terms": {"tags.value": ["9", "15"]}}]}},
       |      "inner_hits": {}}},
       |    {"terms": {"persist_date": $dates}}],
       |  "must_not": [
       |    {"nested": {"path": "tags", "query": {"bool": {
       |      "must": [{"term": {"tags.type": "etype"}},
       |               {"match": {"tags.value": "error"}}]}},
       |      "inner_hits": {"name": "bad_tags"}}}]
       |}}, "size": 100}""".stripMargin
  }

  /** Registered query: [[DslQuery]] resolved THROUGH the daily-index
    * ALIAS ([[Search.readAlias]] → [[searchDslFromIndexes]] across the
    * per-day members under merged statistics) — `GET /alias/_search`
    * with a full DSL body, the reference's deployment shape end to
    * end. Oracle = the single-corpus scan SQL, so green IS the proof
    * that alias resolution + member union + merged stats reproduce
    * the one-index ranking bit-for-bit. */
  def searchDslAlias(spark: SparkSession, dir: String): DataFrame = {
    val alias = Search.dailyAliasPath(spark, dir)
    searchDslFromIndexes(spark, Search.readAlias(spark, alias), DslQuery)
  }

  /** Registered SIMPLE_QUERY_STRING body — the search-bar grammar:
    * a quoted phrase OR'd with a bare word, an AND'd trailing-star
    * prefix, and a `-`negated word, under `default_operator: and`.
    * [[QueryString]] desugars the text into the EXISTING AST (the
    * whole pipeline after parse is the oracle-green structured-clause
    * machinery), so the oracle is generated from the same AST.
    *
    * Served: after [[QueryString]] desugars, the body IS a structured
    * query, so the served twin is the ordinary postings path. */
  val SqsQuery: String =
    """{"query": {"simple_query_string": {
      |  "query": "\"dup vector\" | merge hash* -slow",
      |  "fields": ["text"],
      |  "default_operator": "and"}}, "size": 30}""".stripMargin

  /** Registered QUERY_STRING body — the full Lucene-ish grammar over
    * this corpus: an OR group with a `^` boost, keyword AND/NOT, a
    * term-level prefix on the analyzed field, `field:value` keyword
    * targeting, a `field:>=N` numeric range, and a raw `field:val*`
    * prefix under NOT. Desugared by [[QueryString]] into the existing
    * AST; oracle generated from the same AST. */
  val QsQuery: String =
    """{"query": {"query_string": {
      |  "query": "(dup OR merge^2) AND quer* AND lang:en AND n_chars:>=100 AND NOT source:src1*",
      |  "default_field": "text"}}, "size": 30}""".stripMargin

  // ------------------------------------------------ registered bodies

  /** One registered body. `name` runs the kind's compiler over the
    * corpus's scan source; when `served`, `name_served` runs the same
    * compiler over its served source and must reproduce the scan
    * bit-for-bit. Both check against the one oracle the kind generates
    * over the corpus relation. */
  final case class Registered(name: String, kind: Kind, body: String,
      corpus: Corpus = Documents, served: Boolean = true) {
    require(!served || corpus.indexes.nonEmpty,
      s"$name: its corpus is scan-only, so it has no served form")
  }

  /** Every registered body of regular shape, one row each; to register
    * a body, add its row. Bodies of irregular shape (the two-page
    * cursors, the `_msearch` batch, search templates, knn, the
    * single-request endpoints, the percolator, the alias read) keep
    * their own functions and SparkEntry entries. */
  lazy val registered: Seq[Registered] = Seq(
    Registered("dsl_search", Hits, DslQuery, served = false),
    Registered("dsl_filter_only", Hits, FilterQuery, served = false),
    Registered("dsl_multifield", Hits, MultifieldQuery),
    Registered("dsl_most_fields", Hits, MostFieldsQuery, served = false),
    Registered("dsl_mm_phrase", Hits, MmPhraseQuery),
    Registered("dsl_cross_fields", Hits, CrossFieldsQuery),
    Registered("dsl_match_bool_prefix", Hits, MatchBoolPrefixQuery),
    Registered("dsl_pinned", Hits, PinnedQuery),
    Registered("dsl_terms_set", Hits, TermsSetQuery, ReqM, served = false),
    Registered("dsl_rank_feature", Hits, RankFeatureQuery),
    Registered("dsl_distance_feature", Hits, DistanceFeatureQuery, PersistDate),
    Registered("dsl_date_math", Hits, DateMathQuery, PersistDate),
    Registered("dsl_collapse", Hits, CollapseQuery),
    Registered("dsl_lookup_span", Hits, LookupSpanQuery),
    Registered("dsl_intervals", Hits, IntervalsQuery),
    Registered("dsl_span_multi", Hits, SpanMultiQuery),
    Registered("dsl_combined_fields", Hits, CombinedFieldsQuery),
    Registered("dsl_intervals2", Hits, Intervals2Query),
    Registered("dsl_intervals3", Hits, Intervals3Query),
    Registered("dsl_rescore", Hits, RescoreQuery),
    Registered("dsl_mlt", Hits, MltQuery),
    Registered("dsl_runtime_fields", Hits, RuntimeFieldsQuery, served = false),
    Registered("dsl_spans", Hits, SpansQuery),
    Registered("dsl_span_within", Hits, SpanWithinQuery),
    Registered("dsl_post_filter", Hits, PostFilterQuery),
    Registered("dsl_highlight", Hits, HighlightQuery),
    Registered("dsl_extended", Hits, ExtendedQuery),
    Registered("dsl_sorted", Hits, SortedQuery),
    Registered("dsl_msm", Hits, MsmQuery),
    Registered("dsl_fuzzy", Hits, FuzzyQuery),
    Registered("dsl_function_score", Hits, FunctionScoreQuery),
    Registered("dsl_function_score_decay", Hits, FnScoreDecayQuery,
      PersistDate),
    Registered("dsl_function_score_modes", Hits, FnScoreModesQuery),
    Registered("dsl_random_score", Hits, RandomScoreQuery),
    Registered("dsl_function_score_script", Hits, FnScoreScriptQuery),
    Registered("dsl_script_fields", Hits, ScriptFieldsQuery),
    Registered("dsl_script_score", Hits, ScriptScoreQuery),
    Registered("dsl_boosting", Hits, BoostingQuery),
    Registered("dsl_regexp", Hits, RegexpQuery),
    Registered("dsl_fuzzy_clause", Hits, FuzzyClauseQuery),
    Registered("dsl_phrase_slop", Hits, PhraseSlopQuery),
    Registered("dsl_phrase_prefix", Hits, PhrasePrefixQuery),
    Registered("dsl_nested", Hits, NestedQuery, IngestDocs),
    Registered("dsl_nested_inner_hits", Hits, NestedInnerHitsQuery, IngestDocs),
    Registered("dsl_sqs", Hits, SqsQuery),
    Registered("dsl_query_string", Hits, QsQuery),
    Registered("dsl_aggs", Aggs, AggsQuery, PersistDate),
    Registered("dsl_aggs_ext", Aggs, AggsExtQuery, served = false),
    Registered("dsl_aggs_ext2", Aggs, AggsExt2Query, W8, served = false),
    Registered("dsl_aggs_ext3", Aggs, AggsExt3Query, Ext3, served = false),
    Registered("dsl_aggs_nested", Aggs, AggsNestedQuery, PersistDate),
    Registered("dsl_aggs_missing", Aggs, AggsMissingQuery,
      SrcOpt, served = false),
    Registered("dsl_aggs_include", Aggs, AggsIncludeQuery, PersistDate),
    Registered("dsl_aggs_filters", Aggs, AggsFiltersQuery),
    Registered("dsl_aggs_pipeline", Aggs, AggsPipelineQuery, PersistDate),
    Registered("dsl_aggs_bucket_stats", Aggs, AggsBucketStatsQuery,
      PersistDate),
    Registered("dsl_aggs_gapfill", Aggs, AggsGapFillQuery,
      GapDate, served = false),
    Registered("dsl_aggs_moving", Aggs, AggsMovingQuery, PersistDate),
    Registered("dsl_aggs_cumcard", Aggs, AggsCumCardQuery, PersistDate),
    Registered("dsl_aggs_normalize", Aggs, AggsNormalizeQuery, PersistDate),
    Registered("dsl_aggs_date_math", Aggs, AggsDateMathQuery,
      PersistDate, served = false),
    Registered("dsl_aggs_auto", Aggs, AggsAutoQuery, PersistDate),
    Registered("dsl_aggs_bucket_script", Aggs, AggsBucketScriptQuery),
    Registered("dsl_aggs_sig", Aggs, AggsSigQuery),
    Registered("dsl_aggs_sig_text", Aggs, AggsSigTextQuery),
    Registered("dsl_aggs_scripted", Aggs, AggsScriptedQuery),
    Registered("dsl_aggs_sampler", Aggs, AggsSamplerQuery),
    Registered("dsl_aggs_adjacency", Aggs, AggsAdjacencyQuery),
    Registered("dsl_aggs_percentiles", Aggs, AggsPercentilesQuery),
    Registered("dsl_aggs_boxplot", Aggs, AggsBoxplotQuery),
    Registered("dsl_aggs_string_stats", Aggs, AggsStringStatsQuery),
    Registered("dsl_aggs_ttest", Aggs, AggsTTestQuery),
    Registered("dsl_runtime_aggs", Aggs, RuntimeAggsQuery, served = false),
    Registered("dsl_nested_aggs", Aggs, NestedAggsQuery, IngestDocs),
    Registered("dsl_top_hits", TopHits, TopHitsQuery),
    Registered("dsl_top_hits_scored", TopHits, TopHitsScoredQuery),
    Registered("dsl_count", Count, CountQuery),
    Registered("dsl_aggs_composite_subs", Composite, CompositeSubsQuery),
    Registered("dsl_suggest", Suggest, SuggestBodyQuery),
    Registered("dsl_suggest_phrase", Suggest, SuggestPhraseQuery)
  )

  /** The registered bodies' queries: `name` over the corpus's scan
    * source and `name_served` over its served one, one compiler. */
  lazy val registeredQueries
      : Map[String, (SparkSession, String) => DataFrame] =
    registered.flatMap { r =>
      def over(src: (SparkSession, String) => Source)
          : (SparkSession, String) => DataFrame =
        (spark, dir) => r.kind.compile(src(spark, dir), r.body)
      (r.name -> over(r.corpus.scan)) +:
        (if (r.served) Seq(s"${r.name}_served" -> over(r.corpus.served))
         else Seq.empty)
    }.toMap

  /** The registered bodies' oracle SQL, one string per query name.
    * Generated on first use, so building the query map does not
    * generate any. */
  lazy val registeredOracles: Map[String, String] =
    registered.flatMap { r =>
      val sql = r.kind.oracle(r.body, r.corpus.rel)
      (r.name -> sql) +:
        (if (r.served) Seq(s"${r.name}_served" -> sql) else Seq.empty)
    }.toMap

  // ------------------------------------------------- ES 8 knn search

  /** Parsed `knn` section of an ES 8 search body. `num_candidates` is
    * validated (≥ k, the ES rule) but MOOT in both serving paths and
    * documented so: the scan path is EXACT brute-force cosine (a
    * candidate pool below the corpus would change nothing), and the
    * served path's pool is the probed inverted lists (the IVF
    * radius/nprobe knob, [[Similarity.ProbeRadius]]), which is the
    * partition-pruning analogue of Lucene's per-segment candidate
    * gathering. */
  private final case class KnnSpec(field: String, qv: Seq[Float], k: Int)

  private def parseKnnSection(v: JValue): KnnSpec = v match {
    case o: JObject =>
      val known = Set("field", "query_vector", "k", "num_candidates")
      o.obj.collectFirst { case (kk, _) if !known.contains(kk) => kk }
        .foreach(kk => fail(s"knn has unsupported option '$kk' — " +
          s"supported: ${known.toSeq.sorted.mkString(", ")}"))
      val field = o \ "field" match {
        case JString(f) if f.nonEmpty => f
        case _ => fail("knn needs a \"field\" string")
      }
      val qv = o \ "query_vector" match {
        case JArray(xs) if xs.nonEmpty => xs.map {
          case JDouble(d) => d.toFloat
          case JInt(n) => n.toFloat
          case JLong(n) => n.toFloat
          case JDecimal(d) => d.toFloat
          case other => fail(s"knn query_vector must be numeric, " +
            s"got $other")
        }
        case _ => fail("knn needs a non-empty \"query_vector\" array")
      }
      val k = o \ "k" match {
        case JInt(x) if x > 0 && x <= MaxResultWindow => x.toInt
        case JNothing => fail("knn needs \"k\"")
        case v2 => fail(s"knn k must be a positive integer ≤ " +
          s"$MaxResultWindow, got $v2")
      }
      o \ "num_candidates" match {
        case JNothing => ()
        case JInt(x) if x >= k => ()
        case JInt(x) => fail(s"knn num_candidates ($x) must be ≥ k ($k)")
        case v2 => fail(s"knn num_candidates must be an integer, got $v2")
      }
      KnnSpec(field, qv, k)
    case other => fail(s"knn expects an object, got $other")
  }

  /** A knn-ONLY body: `{"knn": {…}}` — k IS the page size (the ES
    * knn-search shape); hit-shaping keys refuse. */
  private def knnOnlyShape(json: String): KnnSpec = {
    val root = JsonMethods.parse(json) match {
      case o: JObject => o
      case other => fail(s"body must be a JSON object, got $other")
    }
    root.obj.collectFirst { case (kk, _) if kk != "knn" => kk }
      .foreach(kk => fail(s"a knn body supports only \"knn\", got " +
        s"'$kk' (k is the page size; fuse with a query via rank.rrf " +
        "in the hybrid shape)"))
    root \ "knn" match {
      case JNothing => fail("knn body needs a \"knn\" section")
      case v => parseKnnSection(v)
    }
  }

  /** EXACT cosine top-k against the body's `query_vector` literal —
    * the brute-force baseline serving path ([[Similarity.annTopK]]'s
    * plan: broadcast 1-row query, codegen'd [[Similarity.dotD]] score
    * projection, TakeOrderedAndProject(k)). The query vector rides the
    * BODY (the ES protocol shape): floats survive the JSON round-trip
    * exactly (shortest-repr decimal → double → float is the identity
    * on float32 values), which DslSpec pins by comparing against the
    * in-engine join form. */
  def dslKnnOf(emb: DataFrame, json: String): DataFrame = {
    val kn = knnOnlyShape(json)
    checkFields(emb, Seq(kn.field, "vec_id", "label"))
    val qc = typedlit(kn.qv)
    emb.select(col("vec_id"), col("label"),
      (Similarity.dotD(col(kn.field), qc) /
        sqrt(Similarity.dotD(col(kn.field), col(kn.field)) *
          Similarity.dotD(qc, qc))).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(kn.k)
  }

  /** The registered knn bodies' query vector is the corpus's vec 0,
    * serialized INTO the body (one-row cursor read — the ES protocol
    * round-trip itself), so the static oracle can anchor on the same
    * vector by join. */
  private def knnSectionFromCorpus(spark: SparkSession, dir: String,
      k: Int): String = {
    val qv = Tables.embeddings(spark, dir)
      .filter(col("vec_id") === 0).select(col("embedding"))
      .head.getSeq[Float](0)
    s"""{"field": "embedding", "query_vector": ${
      qv.map(_.toString).mkString("[", ", ", "]")}, "k": $k,
       | "num_candidates": 100}""".stripMargin
  }

  /** Registered query: `{"knn": …}` with vec 0's vector in the body —
    * exact cosine top-10. Oracle: the in-database join form of the
    * same search (green IS the proof that the JSON vector round-trip
    * is exact). */
  def dslKnn(spark: SparkSession, dir: String): DataFrame =
    dslKnnOf(Tables.embeddings(spark, dir),
      s"""{"knn": ${knnSectionFromCorpus(spark, dir, 10)}}""")

  lazy val dslKnnOracleSql: String =
    s"""SELECT vec_id, label,
       |  ${Similarity.dotSql("embedding", "qv")} /
       |    sqrt(${Similarity.dotSql("embedding", "embedding")} *
       |         ${Similarity.dotSql("qv", "qv")}) AS score
       |FROM embeddings
       |CROSS JOIN (SELECT embedding AS qv FROM embeddings
       |            WHERE vec_id = 0)
       |ORDER BY score DESC, vec_id LIMIT 10""".stripMargin

  /** Registered query: the same knn body SERVED from the persisted
    * partition-pruned int8 IVF index ([[Similarity.persistIndex]],
    * session-shared): the query's coarse bucket and codes compute
    * driver-side, only the probed partitions are listed or decoded
    * (plan-pinned in DslSpec), scores are the exact integer dot.
    * Oracle: the probed-int8 SQL including the query's own row. */
  def dslKnnServed(spark: SparkSession, dir: String): DataFrame = {
    val kn = knnOnlyShape(
      s"""{"knn": ${knnSectionFromCorpus(spark, dir, 10)}}""")
    val idx = Similarity.sharedAnnIndexDir(spark, dir)
    val codes = Tables.embeddings(spark, dir).sparkSession.range(1)
      .select(graft.functions.VecQuant.vecQuantize(typedlit(kn.qv))
        .as("c")).head.getSeq[Byte](0).toArray
    Similarity.searchIndex(spark, idx, codes,
      Similarity.bucketOf(kn.qv.toArray), k = kn.k)
  }

  lazy val dslKnnServedOracleSql: String = Similarity.knnProbedSql(10)

  /** The hybrid body's rank section: `{"rrf": {...}}` — fusion must
    * be explicit (ES's default knn-beside-query score SUM is a
    * different, calibration-sensitive combiner; refusing keeps the
    * engine's RRF contract visible). */
  private def parseRrf(v: JValue): (Int, Int) = v match {
    case JNothing => fail("a hybrid knn+query body needs " +
      """"rank": {"rrf": {…}} — score-sum fusion is unsupported, """ +
      "rank fusion must be explicit")
    case o: JObject => o.obj match {
      case List(("rrf", rrf: JObject)) =>
        rrf.obj.collectFirst {
          case (kk, _) if kk != "rank_constant" &&
            kk != "rank_window_size" => kk
        }.foreach(kk => fail(s"rank.rrf has unsupported option '$kk' — " +
          "supported: rank_constant, rank_window_size"))
        val rc = rrf \ "rank_constant" match {
          case JNothing => Search.RrfK
          case JInt(x) if x >= 1 => x.toInt
          case v2 => fail(s"rank_constant must be a positive integer, " +
            s"got $v2")
        }
        val win = rrf \ "rank_window_size" match {
          case JNothing => Search.RrfPool
          case JInt(x) if x >= 1 && x <= MaxResultWindow => x.toInt
          case v2 => fail(s"rank_window_size must be a positive " +
            s"integer ≤ $MaxResultWindow, got $v2")
        }
        (rc, win)
      case _ => fail("rank supports exactly {\"rrf\": {…}}")
    }
    case other => fail(s"rank expects an object, got $other")
  }

  /** Hybrid `knn` + `query` with explicit RRF `rank` fusion (the ES 8
    * retriever shape): the text leg is the ordinary DSL page (rank =
    * rk), the vector leg is [[dslKnnOf]]'s exact cosine ranked to the
    * knn k, fused top-`size` by Σ 1/(rank_constant + rank) — the
    * one fusion [[Search.rrf]], with the DSL as both front-ends.
    *
    * Shape at 100 TB: each leg reduces to a ≤ window/k-row list
    * before fusion (one scan each; the vector leg's window sort runs
    * over the pooled rows only), so the full-outer fusion join is
    * driver-scale by construction. */
  def dslKnnHybridOf(docs: DataFrame, emb: DataFrame,
      json: String): DataFrame = {
    val root = JsonMethods.parse(json) match {
      case o: JObject => o
      case other => fail(s"body must be a JSON object, got $other")
    }
    val known = Set("knn", "query", "rank", "size")
    root.obj.collectFirst { case (kk, _) if !known.contains(kk) => kk }
      .foreach(kk => fail(s"a hybrid knn body supports " +
        s"${known.toSeq.sorted.mkString("/")}, got '$kk'"))
    val kn = root \ "knn" match {
      case JNothing => fail("hybrid body needs a \"knn\" section")
      case v => parseKnnSection(v)
    }
    val qJv = root \ "query" match {
      case JNothing => fail("hybrid body needs a \"query\" (knn alone " +
        "is dslKnnOf's shape)")
      case v => v
    }
    val (rc, win) = parseRrf(root \ "rank")
    val size = root \ "size" match {
      case JNothing => DefaultSize
      case JInt(x) if x > 0 && x <= MaxResultWindow => x.toInt
      case v2 => fail(s"size must be a positive integer ≤ " +
        s"$MaxResultWindow, got $v2")
    }
    val textBody = s"""{"query": ${
      JsonMethods.compact(JsonMethods.render(qJv))}, "size": $win}"""
    val text = searchDslOf(docs, textBody)
      .select(col("doc_id"), col("rk").as("r_text"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("vec_id"))
    val vec = dslKnnOf(emb, s"""{"knn": {"field": "${kn.field}",
      | "query_vector": ${kn.qv.map(_.toString).mkString("[", ", ", "]")},
      | "k": ${kn.k}}}""".stripMargin)
      .withColumn("r_vec", row_number().over(w))
      .select(col("vec_id").as("doc_id"), col("r_vec"))
    Search.rrf(text, vec, rc, size)
  }

  /** Registered HYBRID text leg — sized to the default rrf window so
    * the static oracle and the body agree. */
  val KnnHybridTextQuery: String =
    """{"match": {"text": "dup vector"}}"""

  /** Registered query: `knn` (vec 0, k = 50) beside the match query,
    * fused by `rank.rrf` — the ES 8 hybrid retriever served end to
    * end through the DSL. Oracle: the text leg's generated SQL fused
    * with the in-database vector ranking by the same RRF arithmetic. */
  def dslKnnHybrid(spark: SparkSession, dir: String): DataFrame =
    dslKnnHybridOf(Tables.documentsPar(spark, dir),
      Tables.embeddings(spark, dir),
      s"""{"knn": ${knnSectionFromCorpus(spark, dir, Search.RrfPool)},
         | "query": $KnnHybridTextQuery,
         | "rank": {"rrf": {}}, "size": ${Search.RrfTopK}}""".stripMargin)

  lazy val dslKnnHybridOracleSql: String = {
    val textSql = dslSql(
      s"""{"query": $KnnHybridTextQuery, "size": ${Search.RrfPool}}""")
    val cos = s"${Similarity.dotSql("embedding", "qv")} / " +
      s"sqrt(${Similarity.dotSql("embedding", "embedding")} * " +
      s"${Similarity.dotSql("qv", "qv")})"
    s"""WITH tr AS (SELECT doc_id, rk AS r_text FROM ($textSql) tpage),
       |vs AS (
       |  SELECT vec_id AS doc_id, $cos AS vscore
       |  FROM embeddings
       |  CROSS JOIN (SELECT embedding AS qv FROM embeddings
       |              WHERE vec_id = 0)),
       |vr AS (
       |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY vscore DESC, doc_id)
       |    AS r_vec
       |  FROM vs ORDER BY vscore DESC, doc_id LIMIT ${Search.RrfPool})
       |SELECT doc_id, r_text, r_vec,
       |  COALESCE(CAST(1 AS DOUBLE) / (${Search.RrfK} + r_text),
       |    CAST(0 AS DOUBLE)) +
       |  COALESCE(CAST(1 AS DOUBLE) / (${Search.RrfK} + r_vec),
       |    CAST(0 AS DOUBLE)) AS rrf
       |FROM tr FULL OUTER JOIN vr USING (doc_id)
       |ORDER BY rrf DESC, doc_id LIMIT ${Search.RrfTopK}""".stripMargin
  }
}
