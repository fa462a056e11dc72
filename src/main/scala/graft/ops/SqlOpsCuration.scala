package graft.ops

/** Corpus curation: rule filters, LM bucketing, PII, release manifest/dataset card, and the integer-exact linear-algebra family (PCA/whiten/quantize).
  *
  * Split out of the single-file SqlOps (r11) as a PURE MOVE: member
  * order across the [[SqlOpsAll]] linearization equals the pre-split
  * declaration order, so val-initialization semantics are unchanged.
  * The self-type keeps every cross-domain reference compiling against
  * the same single [[SqlOps]] instance.
  */
trait SqlOpsCuration { this: SqlOpsAll =>

  // ---- corpus curation: rule filters, LM bucketing, linear algebra ----

  /** Non-negative remainder of int64 `a` modulo positive `b` — both
    * engines' `%` keeps the dividend's sign, so this canonical form is
    * identical across them for negative dividends too. */
  private[ops] def pmodPos(a: String, b: String): String =
    s"(((($a) % ($b)) + ($b)) % ($b))"

  /** FLOOR division of a possibly-negative int64 `a` by positive `b`.
    * Spark `DIV` truncates toward zero while DuckDB `//` floors, so
    * they disagree on negative dividends with a remainder; subtracting
    * the non-negative remainder first makes the dividend an exact
    * multiple, where truncation and floor coincide — pure int64 ops,
    * no double round-trip, exact at any magnitude. */
  private[ops] def floorDiv(d: Dialect)(a: String, b: String): String =
    d.idiv(s"(($a) - ${pmodPos(a, b)})", b)

  /** The Gopher rule battery's per-doc counters (over `text` + `toks`
    * columns) — ONE copy shared by [[gopherRules]] and the
    * [[curationFunnel]] so the gates cannot drift. Every downstream
    * rule is an INTEGER inequality over these counters
    * (mean-word-length 3..10 becomes 3·words ≤ chars ≤ 10·words;
    * ratios are cross-multiplied), so the flags are exact in both
    * engines with no float compare. Alphabetic-word detection is the
    * portable `lower(t) <> upper(t)` (true iff the token contains a
    * cased letter — no regex-in-lambda, which the engines render
    * differently). The rule set is parametric in its designated stop
    * list; Gopher's own ({the,be,to,of,and,that,have,with}) intersects
    * this fixture's vocabulary at exactly {the}, collapsing the rule
    * to all-false — so the designated set is the corpus's English
    * marker palette (STOP_EN, the same list langid keys on). */
  private[ops] def gopherCounts(d: Dialect): String = {
    val stops = d.arrayLit(STOP_EN)
    s"""CAST(${d.size("toks")} AS BIGINT) AS n_words,
       |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_chars,
       |    CAST(${d.reCount("text", "#|\\.\\.\\.")} AS BIGINT) AS n_sym,
       |    CAST(${d.size(d.filter("toks", "t -> lower(t) <> upper(t)"))} AS BIGINT) AS n_alpha,
       |    CAST(${d.size(d.arrayDistinct(d.filter("toks", s"t -> ${d.arrayContains(stops, "t")}")))} AS BIGINT) AS n_stop""".stripMargin
  }
  private[ops] val GopherRules: Seq[(String, String)] = Seq(
    "r_wordcount" -> "n_words BETWEEN 50 AND 100000",
    "r_wordlen" -> "(n_chars >= 3 * n_words AND n_chars <= 10 * n_words)",
    "r_symbol" -> "n_sym * 10 < n_words",
    "r_alpha" -> "n_alpha * 10 >= n_words * 8",
    "r_stop" -> "n_stop >= 2")
  private[ops] val GopherPass: String =
    GopherRules.map(_._2).mkString("(", " AND ", ")")

  /** Single-sourced PII detector patterns (kind → regex), written to
    * the RE2 ∩ java.util.regex common subset (no lookaround, no
    * multi-digit backrefs — the reReplaceAll rule): the scan query,
    * the redaction projection and the spec replay all read THIS list,
    * so adding a kind or tightening a pattern cannot drift between
    * detection and redaction. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "card" -> "\\b\\d{4}[- ]?\\d{4}[- ]?\\d{4}[- ]?\\d{1,4}\\b",
    "email" -> "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
    "ipv4" -> "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b",
    "phone" -> "\\(?\\d{3}\\)?[-. ]\\d{3}[-. ]\\d{4}")
  private[ops] val ValidIpv4 =
    "^(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)(\\.(25[0-5]|2[0-4]\\d|1\\d\\d|[1-9]?\\d)){3}$"

  /** Redact every PII pattern in `col` to its [KIND] tag — the
    * projection a curation pipeline runs before release, same
    * single-sourced [[PiiPatterns]] as the scan. Narrow and
    * codegen'd; order follows the pattern list (card before phone,
    * so a card number is never half-eaten by the phone rule). */
  def piiRedactExpr(col: String, d: Dialect = SparkDialect): String =
    PiiPatterns.foldLeft(col) { case (acc, (k, rx)) =>
      d.reReplaceAll(acc, rx, s"[${k.toUpperCase}]")
    }

  /** PII scan — the release-gate audit a curation pipeline runs over
    * every corpus: per kind (credit card, email, IPv4, phone) the
    * match and matched-doc counts plus the VALIDATED count (Luhn
    * checksum for cards, octet range for IPv4 — regex hits alone
    * overcount random digit runs; email/phone have no checksum, so
    * validated = matched). Scale shape: ONE corpus scan computes all
    * extraction arrays ([[PiiPatterns]], codegen'd regex projections,
    * stage `pii_m`); the per-occurrence table (`pii_o`) and everything
    * after are match-cardinality. The Luhn sum is exact integer
    * arithmetic over a digit-position explode at DISTINCT-candidate
    * grain, joined back to occurrences. The kind domain is a literal
    * list left-joined, so a PII-free corpus (this fixture — the
    * cross-engine rows are the zero baseline, like the volume-stable
    * cusum fixture) still emits every kind's zero row; the planted
    * positive paths (valid/invalid Luhn, out-of-range octets,
    * redaction round-trip) are covered by the independent replay in
    * MicroOracleSpec. */
  /** The PII extraction-matrix projection (one regex-extract array per
    * kind) over any (doc_id, text) relation — ONE copy of the
    * extraction SQL, read by the staged [[piiScan]] (from =
    * `documents`) and inlined by [[datasetCardAdditive]] for the
    * per-batch ingest-card slice (a bounded slice doesn't warrant a
    * staged artifact). */
  private[ops] def piiMatrixSql(d: Dialect, from: String = "documents"): String = {
    val cols = PiiPatterns.map { case (k, rx) =>
      s"${d.reExtractAll("text", rx)} AS m_$k" }
    s"SELECT doc_id,\n  ${cols.mkString(",\n  ")}\nFROM $from"
  }

  /** Per-occurrence rows (doc_id, kind, m) exploded from a
    * [[piiMatrixSql]] projection — the other half of the shared
    * extraction pair. */
  private[ops] def piiOccSql(d: Dialect, matrixTbl: String = "pii_m"): String =
    PiiPatterns.map { case (k, _) =>
      s"""SELECT doc_id, '$k' AS kind, m FROM (
         |  ${d.explode(s"SELECT doc_id, m_$k FROM $matrixTbl", "doc_id", s"m_$k", "m")}
         |)""".stripMargin
    }.mkString("\nUNION ALL\n")

  val piiScan: StagedOp = StagedOp(
    stages = Seq(
      "pii_m" -> { (d: Dialect) => piiMatrixSql(d) },
      // occurrence rows, staged: four consumers below (counts, two
      // validator arms, the card candidates) would each re-explode
      // the arrays under CTE inlining
      "pii_o" -> { (d: Dialect) => piiOccSql(d) }),
    body = { d =>
      val dom = domainRel("kind", PiiPatterns.map { case (k, _) => s"'$k'" })
      s"""WITH cnt AS (
         |  SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_matches,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
         |  FROM pii_o GROUP BY kind
         |),
         |cdist AS (
         |  SELECT DISTINCT ${d.reReplaceAll("m", "[- ]", "")} AS ds
         |  FROM pii_o WHERE kind = 'card'
         |),
         |cn AS (SELECT ds, length(ds) AS n FROM cdist
         |       WHERE length(ds) BETWEEN 13 AND 16),
         |cseq AS (SELECT ds, n, ${d.seqArray("1", "n")} AS ii FROM cn),
         |cpos AS (${d.explode("SELECT ds, n, ii FROM cseq", "ds, n", "ii", "i")}),
         |cl AS (
         |  -- Luhn: from the right, double every second digit, subtract
         |  -- 9 past 9, total divisible by 10 — all int64-exact
         |  SELECT ds,
         |    SUM(CASE WHEN (n - i) % 2 = 1
         |             THEN CASE WHEN 2 * dg > 9 THEN 2 * dg - 9 ELSE 2 * dg END
         |             ELSE dg END) % 10 AS r
         |  FROM (SELECT ds, n, i, CAST(substr(ds, i, 1) AS INT) AS dg FROM cpos)
         |  GROUP BY ds
         |),
         |vocc AS (
         |  SELECT kind FROM pii_o WHERE kind IN ('email', 'phone')
         |  UNION ALL
         |  SELECT kind FROM pii_o
         |  WHERE kind = 'ipv4' AND ${d.reCount("m", ValidIpv4)} > 0
         |  UNION ALL
         |  SELECT c.kind FROM (
         |    SELECT kind, ${d.reReplaceAll("m", "[- ]", "")} AS ds
         |    FROM pii_o WHERE kind = 'card'
         |  ) c JOIN cl ON cl.ds = c.ds AND cl.r = 0
         |),
         |vc AS (SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_valid
         |       FROM vocc GROUP BY kind),
         |dom AS ($dom)
         |SELECT dom.kind,
         |  CAST(COALESCE(c.n_matches, 0) AS BIGINT) AS n_matches,
         |  CAST(COALESCE(c.n_docs, 0) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(v.n_valid, 0) AS BIGINT) AS n_valid
         |FROM dom
         |LEFT JOIN cnt c ON c.kind = dom.kind
         |LEFT JOIN vc v ON v.kind = dom.kind
         |ORDER BY dom.kind""".stripMargin
    })

  /** Unbiased pass@k estimator (Chen et al. 2021, "Evaluating LLMs
    * Trained on Code", eq. 1) — the standard eval rollup for
    * sampled generations: per task (source plays the task, docs its
    * samples, the Gopher battery plays the checker), with n samples
    * and c passes, pass@k = 1 − C(n−c,k)/C(n,k). Computed as the
    * PRODUCT OF RATIOS Π (n−c−i)/(n−i), i < k — never a factorial:
    * each ratio is one correctly-rounded IEEE division and the
    * k-term product is a fixed sequence, so the estimate is
    * bit-identical across engines at ANY n (the C(n,k) form
    * overflows int64 past n ≈ 60). A zero factor (n−c < k) makes the
    * product exactly 0 → pass@k = 1; tasks with n < k emit NULL
    * (the estimator is undefined, not zero). One scan, one groupBy
    * on task — sample-cardinality nowhere. */
  def evalPassAtK(d: Dialect): String = {
    def prodK(k: Int): String = (0 until k).map { i =>
      s"(CAST(n - c - $i AS DOUBLE) / (n - $i))"
    }.mkString(" * ")
    s"""WITH g AS (SELECT doc_id, source, text, ${toks(d)} AS toks FROM documents),
       |m AS (
       |  SELECT doc_id, source, text,
       |    ${gopherCounts(d)}
       |  FROM g
       |),
       |t AS (
       |  SELECT source,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN $GopherPass THEN 1 ELSE 0 END) AS BIGINT) AS c
       |  FROM m GROUP BY source
       |)
       |SELECT source, n, c,
       |  ${r6("CAST(c AS DOUBLE) / n")} AS pass_at_1,
       |  CASE WHEN n < 4 THEN NULL
       |       ELSE ${r6(s"1.0e0 - ${prodK(4)}")} END AS pass_at_4
       |FROM t
       |ORDER BY source""".stripMargin
  }

  /** Gopher-style quality rule battery (Rae et al. 2021, "Scaling
    * Language Models", Appendix A1.1's MassiveWeb document filters) as
    * ONE narrow scan — the standard rule filter a curation pipeline
    * runs before any model-based scoring. Scale shape: scan →
    * codegen'd projection, no shuffle at all. Counters and rules in
    * [[gopherCounts]]/[[GopherRules]], shared with the funnel. */
  def gopherRules(d: Dialect): String =
    s"""WITH g AS (SELECT doc_id, text, ${toks(d)} AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    ${gopherCounts(d)}
       |  FROM g
       |)
       |SELECT doc_id, n_words,
       |  ${GopherRules.map { case (n, e) => s"$e AS $n" }.mkString(",\n  ")},
       |  $GopherPass AS gopher_pass
       |FROM m""".stripMargin

  /** Curation FUNNEL — the observability sibling of [[corpusFilter]]:
    * instead of emitting survivors, report per-stage attrition
    * (docs + tokens surviving langid → Gopher rules → quality →
    * exact dedup, cumulatively), the readout a pipeline owner watches
    * to see WHERE the corpus is being lost. Single-sourced gates
    * ([[langGuessCase]], [[gopherCounts]]/[[GopherPass]],
    * [[qualityFormula]], the md5 keep-first rule). One corpus scan:
    * each doc is assigned its DEEPEST passing stage, the 5-row stage
    * aggregate is spine-joined, and the cumulative "reached stage s"
    * counts are a descending window over that tiny table — never a
    * per-stage rescan. */
  def curationFunnel(d: Dialect): String = {
    val (en, id) = langHitExprs(d)
    val quality = qualityFormula(
      nWords = d.size("toks"),
      stopRatio = s"CAST(${stopHitsExpr(d)} AS DOUBLE) / ${d.size("toks")}",
      avgWlen = s"CAST(length(replace(text, ' ', '')) AS DOUBLE) / ${d.size("toks")}")
    s"""WITH g AS (SELECT doc_id, text, ${toks(d)} AS toks FROM documents),
       |scored AS (
       |  SELECT doc_id,
       |    ${langGuessCase(en, id)} AS lang_guess,
       |    $quality AS quality,
       |    ${gopherCounts(d)},
       |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM g
       |),
       |deep AS (
       |  SELECT n_words AS n_tok,
       |    CASE WHEN lang_guess = 'und' THEN 0
       |         WHEN NOT $GopherPass THEN 1
       |         WHEN quality < 4.0e-1 THEN 2
       |         WHEN rn <> 1 THEN 3
       |         ELSE 4 END AS deepest
       |  FROM scored
       |),
       |agg AS (
       |  SELECT deepest, CAST(COUNT(*) AS BIGINT) AS c,
       |    CAST(SUM(n_tok) AS BIGINT) AS tk
       |  FROM deep GROUP BY deepest
       |),
       |spine AS (${d.explode(s"SELECT ${d.seqArray("0", "4")} AS ss", "ss", "ss", "stage")}),
       |filled AS (
       |  SELECT sp.stage, COALESCE(a.c, 0) AS c, COALESCE(a.tk, 0) AS tk
       |  FROM (SELECT stage FROM spine) sp LEFT JOIN agg a ON sp.stage = a.deepest
       |),
       |cum AS (
       |  SELECT stage,
       |    CAST(SUM(c) OVER (ORDER BY stage DESC) AS BIGINT) AS n_docs,
       |    CAST(SUM(tk) OVER (ORDER BY stage DESC) AS BIGINT) AS n_tokens,
       |    CAST(SUM(c) OVER () AS BIGINT) AS n_raw
       |  FROM filled
       |)
       |SELECT CAST(stage AS BIGINT) AS stage,
       |  CASE stage WHEN 0 THEN 'raw' WHEN 1 THEN 'langid'
       |       WHEN 2 THEN 'gopher' WHEN 3 THEN 'quality'
       |       ELSE 'dedup' END AS reached,
       |  n_docs, n_tokens,
       |  ${r6("CAST(n_docs AS DOUBLE) / n_raw")} AS doc_share
       |FROM cum""".stripMargin
  }

  /** CCNet-style corpus bucketing (Wenzek et al. 2019): score every
    * document by its per-token bits under the corpus unigram LM (the
    * [[textUnigramLm]] arithmetic, off the same staged term-frequency
    * index) and split the corpus at the global terciles into
    * head / middle / tail — head is the most-LM-likely slice CCNet
    * feeds to training first. Per-token bits are the µ-quantized log2
    * ([[qlog2]] — [[textUnigramLm]]'s floor-log2 integer bits collapse
    * to ONE value on a near-uniform vocabulary and the terciles
    * degenerate, the exact failure mode dsirWeights hit), the per-doc
    * score is µ-bit int64 (integer floor division — exact), the two
    * thresholds are ONE 2-column aggregate row broadcast back over the
    * corpus, and an int-vs-double threshold compare is exact, so
    * bucket assignment is engine-identical. Scale shape: staged index
    * scan → doc groupBy → tiny aggregate → broadcast tag; no global
    * sort anywhere. */
  val ccnetBuckets: StagedOp = StagedOp(
    // the per-doc score table is read twice (threshold aggregate +
    // final tag) — two-consumer rule: staged, so the LM scoring pass
    // over the term-frequency index runs once, not per reference
    stages = textUnigramLm.stages :+ ("ccn_sc" -> { (d: Dialect) =>
      s"""WITH c AS (SELECT doc_id, tf,
         |    CAST(SUM(tf) OVER (PARTITION BY s) AS BIGINT) AS c FROM ulm_tf),
         |n AS (SELECT CAST(SUM(tf) AS BIGINT) AS nn FROM ulm_tf),
         |ds AS (
         |  SELECT doc_id,
         |    CAST(SUM(tf * (${qlog2("nn")} - ${qlog2("c")})) AS BIGINT) AS total_bits,
         |    CAST(SUM(tf) AS BIGINT) AS n_tokens
         |  FROM c CROSS JOIN n GROUP BY doc_id
         |)
         |SELECT doc_id, ${d.idiv("total_bits", "n_tokens")} AS q FROM ds""".stripMargin
    }),
    body = { d =>
      s"""WITH th AS (SELECT ${d.percentileCont("q", "3.3e-1")} AS t33,
         |              ${d.percentileCont("q", "6.7e-1")} AS t67 FROM ccn_sc)
         |SELECT doc_id, ${r6("CAST(q AS DOUBLE) / 1.0e6")} AS mean_bits,
         |  CASE WHEN q <= t33 THEN 'head'
         |       WHEN q <= t67 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM ccn_sc CROSS JOIN th""".stripMargin
    })

  /** Inter-filter reliability — Cohen's kappa between the RULE-based
    * judge (the Gopher battery) and the MODEL-based judge (CCNet
    * LM-score terciles; keep = head/middle, i.e. q ≤ t67): the 2×2
    * contingency, observed agreement p_o, chance agreement p_e from
    * the marginals, κ = (p_o − p_e)/(1 − p_e). This is the
    * calibration question a curation pipeline asks before chaining
    * filters: κ ≈ 0 means the model filter adds an independent signal,
    * κ ≈ 1 means it is redundant with the rules. Cells are exact int64
    * counts off ONE corpus scan (judge A) joined to the staged score
    * table (judge B); p_o/p_e/κ are fixed expression trees on those
    * exact ints — deterministic IEEE in both engines; κ is NULL when
    * p_e = 1 (both judges constant — division blow-up guarded like
    * idcg). */
  /** The paired-gate 2×2 contingency cells (Gopher rule vs CCNet
    * bottom-two-terciles, per doc) — ONE copy shared by
    * [[filterKappa]] (agreement) and [[filterMcnemar]] (paired
    * significance), so the two readouts can never disagree about
    * which gates they compare or how the cells are counted. */
  private[ops] def gateCellsCtes(d: Dialect): String =
    s"""g AS (SELECT doc_id, text, ${toks(d)} AS toks FROM documents),
       |m AS (
       |  SELECT doc_id,
       |    ${gopherCounts(d)}
       |  FROM g
       |),
       |ga AS (SELECT doc_id, CASE WHEN $GopherPass THEN 1 ELSE 0 END AS a FROM m),
       |th AS (SELECT ${d.percentileCont("q", "6.7e-1")} AS t67 FROM ccn_sc),
       |jb AS (
       |  SELECT doc_id, CASE WHEN q <= t67 THEN 1 ELSE 0 END AS b
       |  FROM ccn_sc CROSS JOIN th
       |),
       |j AS (SELECT ga.a, jb.b FROM ga JOIN jb ON ga.doc_id = jb.doc_id),
       |cells AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(a * b) AS BIGINT) AS n11,
       |    CAST(SUM(a * (1 - b)) AS BIGINT) AS n10,
       |    CAST(SUM((1 - a) * b) AS BIGINT) AS n01,
       |    CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS n00
       |  FROM j
       |)""".stripMargin

  val filterKappa: StagedOp = StagedOp(
    stages = ccnetBuckets.stages,
    body = { d =>
      s"""WITH ${gateCellsCtes(d)},
         |k AS (
         |  SELECT n, n11, n10, n01, n00,
         |    CAST(n11 + n00 AS DOUBLE) / n AS po,
         |    (CAST(n11 + n10 AS DOUBLE) * (n11 + n01)
         |      + CAST(n01 + n00 AS DOUBLE) * (n10 + n00))
         |      / (CAST(n AS DOUBLE) * n) AS pe
         |  FROM cells
         |)
         |SELECT n, n11, n10, n01, n00,
         |  ${r6("po")} AS observed_agreement,
         |  ${r6("pe")} AS chance_agreement,
         |  CASE WHEN pe >= 1.0e0 THEN NULL
         |       ELSE ${r6("(po - pe) / (1.0e0 - pe)")} END AS kappa
         |FROM k""".stripMargin
    })

  /** McNemar's paired test over the SAME two quality gates
    * [[filterKappa]] agrees on ([[gateCellsCtes]] — one copy of the
    * cell counting): does gate A pass docs gate B rejects
    * SIGNIFICANTLY more often than vice versa? The test reads only
    * the discordant cells — χ² = (max(|n10−n01|−1, 0))²/(n10+n01)
    * with continuity correction — which is exactly the question a
    * curation pipeline asks before swapping one filter for another
    * (κ says how often they agree; McNemar says whether their
    * DISAGREEMENT is directional or coin-flip noise). The
    * significance decision is integer-exact: num·10⁶ > 3841459·den
    * compares against the χ²₁ 95th percentile (3.841459, a baked
    * constant — math, not data) with no float in the verdict; the
    * reported chi2 is the 6dp-quantized ratio of two exact int64s.
    * One row; all inputs ride the staged CCNet chain. */
  val filterMcnemar: StagedOp = StagedOp(
    stages = ccnetBuckets.stages,
    body = { d =>
      s"""WITH ${gateCellsCtes(d)},
         |mc AS (
         |  SELECT n10, n01,
         |    -- int64 envelope, loud (the ewma rescale-wq pattern): the
         |    -- verdict multiplies num·10⁶ and 3841459·den, so the
         |    -- discordant GAP must stay ≤ 3,036,999 (√(2⁶³/10⁶)) and
         |    -- the discordant TOTAL ≤ 2,401,007,543,450 — beyond either,
         |    -- both engines would abort on overflow anyway (ANSI), but
         |    -- with this guard they abort with the fix in the message
         |    CASE WHEN GREATEST(ABS(n10 - n01) - 1, 0) > 3036999
         |         THEN CAST('mcnemar: discordant gap exceeds the int64 verdict envelope — compare in DECIMAL' AS BIGINT)
         |         ELSE GREATEST(ABS(n10 - n01) - 1, 0) * GREATEST(ABS(n10 - n01) - 1, 0) END AS num,
         |    CASE WHEN n10 + n01 > 2401007543450
         |         THEN CAST('mcnemar: discordant total exceeds the int64 verdict envelope — compare in DECIMAL' AS BIGINT)
         |         ELSE n10 + n01 END AS den
         |  FROM cells
         |)
         |SELECT n10 AS a_only, n01 AS b_only,
         |  CASE WHEN den = 0 THEN NULL
         |       ELSE ${r6("CAST(num AS DOUBLE) / den")} END AS chi2,
         |  CASE WHEN den = 0 THEN NULL
         |       WHEN num * 1000000 > 3841459 * den THEN 1 ELSE 0 END AS significant
         |FROM mc""".stripMargin
    })

  /** Tokenizer fertility by language: average subtokens per
    * whitespace token under the trained BPE merges ([[bpeMerges]] —
    * its final vocabulary table IS the encoder), grouped by the
    * [[textLangId]] language guess. The number a multilingual
    * pipeline watches per corpus slice: fertility creeping up on one
    * language means the learned merges are under-serving it. All
    * inputs are shared staged artifacts; the per-language rollup is
    * one broadcast-sized join + groupBy. */
  val tokenizerFertility: StagedOp = StagedOp(
    stages = bpeMerges.stages,
    body = { d =>
      val (en, id) = langHitExprs(d)
      // the per-doc encode is [[bpeEncode]]'s body nested verbatim —
      // ONE copy of the encoder semantics (its docstring's own rule);
      // a nested WITH inside a derived table parses in both engines
      s"""WITH enc AS (SELECT * FROM (
         |${bpeEncode.body(d)}
         |)),
         |lt AS (SELECT doc_id, ${toks(d)} AS toks FROM documents),
         |lg AS (SELECT doc_id, ${langGuessCase(en, id)} AS lang_guess FROM lt)
         |SELECT lg.lang_guess, COUNT(*) AS n_docs,
         |  CAST(SUM(enc.n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(enc.n_subtokens) AS BIGINT) AS n_subtokens,
         |  ${r6("CAST(SUM(enc.n_subtokens) AS DOUBLE) / CAST(SUM(enc.n_tokens) AS DOUBLE)")} AS fertility
         |FROM enc JOIN lg ON enc.doc_id = lg.doc_id
         |GROUP BY lg.lang_guess""".stripMargin
    })

  /** Mergeable fixed-bin histogram → interpolated quantile estimates
    * per event type — the constant-state quantile sketch pattern: the
    * (event_type, bin, cnt) table is the artifact shards emit, and
    * GROUP BY IS the merge (associative, any tree shape), unlike an
    * exact percentile whose state is the whole value multiset. 32
    * equi-width bins over the observed integer-cent range; bin
    * assignment, cumulative counts, and the p50/p95/p99 bin picks are
    * all int64-exact, and only the final midpoint estimate touches
    * doubles (identical IEEE sequence in both engines). Estimates are
    * within half a bin of truth by construction — the contract a
    * sketch consumer signs. */
  def histogramQuantiles(d: Dialect): String = {
    def est(bin: String): String =
      s"(mn + ($bin + 5.0e-1) * (mx - mn + 1) / 32.0e0) / 1.0e2"
    s"""WITH e AS (
       |  SELECT event_type, CAST(FLOOR(value * 100 + 5.0e-1) AS BIGINT) AS c FROM events
       |),
       |b AS (SELECT event_type, MIN(c) AS mn, MAX(c) AS mx FROM e GROUP BY event_type),
       |h AS (
       |  SELECT e.event_type,
       |    LEAST(31, ${d.idiv("(e.c - b.mn) * 32", "b.mx - b.mn + 1")}) AS bin,
       |    COUNT(*) AS cnt, MIN(b.mn) AS mn, MIN(b.mx) AS mx
       |  FROM e JOIN b ON e.event_type = b.event_type
       |  GROUP BY e.event_type, LEAST(31, ${d.idiv("(e.c - b.mn) * 32", "b.mx - b.mn + 1")})
       |),
       |cum AS (
       |  SELECT event_type, bin, cnt, mn, mx,
       |    CAST(SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cm,
       |    CAST(SUM(cnt) OVER (PARTITION BY event_type) AS BIGINT) AS tot
       |  FROM h
       |)
       |SELECT event_type, tot AS n,
       |  ${r6(est("MIN(CASE WHEN cm * 2 >= tot THEN bin END)"))} AS p50_est,
       |  ${r6(est("MIN(CASE WHEN cm * 20 >= tot * 19 THEN bin END)"))} AS p95_est,
       |  ${r6(est("MIN(CASE WHEN cm * 100 >= tot * 99 THEN bin END)"))} AS p99_est
       |FROM cum GROUP BY event_type, tot, mn, mx""".stripMargin
  }

  /** Banded hamming near-dup join over perceptual image hashes — the
    * simhash banding pattern applied to the aHash bit strings: each
    * 64-bit hash splits into 4 × 16-bit bands, candidates share at
    * least one exact band (equi-join, never all-pairs), and the exact
    * hamming distance verifies ≤ 6 over the bounded candidate set.
    * Like minhash/simhash banding this is recall-approximate (6 flips
    * CAN straddle all 4 bands); the guarantee is one-sided — every
    * emitted pair is exact-verified. Expects a `phash_tbl(doc_id,
    * phash)` relation (Spark: the [[graft.ops.Multimodal.aHash]]
    * output registered as a view; oracle: the same hash re-derived in
    * pure SQL). Scale shape: band explode is ×4 narrow, the join is
    * hash-equi on (band, key), and the exact hamming verify is ONE
    * native popcount expression per candidate pair
    * ([[Dialect.hamming64]], r15) — the former form exploded 64
    * positions per pair and re-aggregated them (a ×64 row blowup +
    * an extra hash aggregate just to count differing substr chars).
    * (A flat 64-term CASE projection was tried in r14 and MEASURED
    * SLOWER — 5.7 s vs 1.3 s steady: the giant expression lands in
    * both the Filter and the Project after CTE collapse and is
    * evaluated twice per row with no codegen CSE across the boundary.
    * The popcount expression has no such problem: it is ~8 codegen'd
    * calls, cheap even when evaluated twice.) The hamming gate sits
    * INSIDE the candidate join, before the DISTINCT's exchange (guide
    * §2.3 — filter before you shuffle): measured at sf0.1, 108 644
    * collision rows collapse to 89 520 distinct pairs of which only
    * 6 208 pass ≤ 6 — gating map-side shrinks the exchange ~13× by
    * rows and ~80× by bytes (3 int64s instead of 2 ids + two 64-char
    * strings). DISTINCT-after-filter equals filter-after-DISTINCT
    * because hamming is a function of the pair. That inner WHERE is
    * the only hamming gate; the body just reports `hm`. */
  def phashNear(d: Dialect): String =
    s"""WITH bnd AS (
       |  SELECT doc_id, phash, b, substr(phash, 1 + b * 16, 16) AS key
       |  FROM (${d.explode("SELECT doc_id, phash, " + d.seqArray("0", "3") +
                            " AS bs FROM phash_tbl", "doc_id, phash", "bs", "b")})
       |),
       |hm AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    CAST(${d.hamming64("x.phash", "y.phash")} AS BIGINT) AS hamming
       |  FROM bnd x JOIN bnd y
       |    ON x.b = y.b AND x.key = y.key AND x.doc_id < y.doc_id
       |  WHERE ${d.hamming64("x.phash", "y.phash")} <= 6
       |)
       |SELECT doc_a, doc_b, hamming FROM hm""".stripMargin

  /** Dedup-cluster quality eval: pairwise precision/recall/F1 of the
    * minhash cluster map's co-membership against the EXACT-duplicate
    * ground truth (same content hash in the two-snapshot corpus —
    * known by construction: every document appears twice). Pair
    * counts are closed-form (Σ C(n,2) per group — never an O(n²)
    * pair explode): true pairs per content hash, predicted pairs per
    * cluster, true positives per (cluster, hash) cell. A near-dup
    * edge joining two DISTINCT texts scores as a false positive under
    * this exact-text truth — that is the honest reading: the metric
    * measures how much beyond exact duplication the near-dup gate
    * reaches. Expects a `clusters(doc_id, cluster_id)` relation (the
    * [[splitLeakageSafe]] convention); integers throughout, r6'd
    * ratios at the end. */
  def dedupClusterEval(d: Dialect): String = {
    def c2(n: String): String = d.idiv(s"($n) * (($n) - 1)", "2")
    s"""WITH ${corpusCte(d)},
       |ch AS (SELECT doc_id, md5(text) AS h FROM corpus),
       |tp_h AS (
       |  SELECT CAST(SUM(${c2("n")}) AS BIGINT) AS true_pairs
       |  FROM (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM ch GROUP BY h)
       |),
       |pp AS (
       |  SELECT CAST(SUM(${c2("n")}) AS BIGINT) AS pred_pairs
       |  FROM (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n
       |        FROM clusters GROUP BY cluster_id)
       |),
       |tp AS (
       |  SELECT CAST(SUM(${c2("n")}) AS BIGINT) AS tp
       |  FROM (
       |    SELECT k.cluster_id, c.h, CAST(COUNT(*) AS BIGINT) AS n
       |    FROM clusters k JOIN ch c ON k.doc_id = c.doc_id
       |    GROUP BY k.cluster_id, c.h
       |  )
       |)
       |SELECT true_pairs, pred_pairs, tp,
       |  ${r6("CAST(tp AS DOUBLE) / pred_pairs")} AS precision_pairs,
       |  ${r6("CAST(tp AS DOUBLE) / true_pairs")} AS recall_pairs,
       |  ${r6("2.0e0 * tp / (pred_pairs + true_pairs)")} AS f1_pairs
       |FROM tp_h CROSS JOIN pp CROSS JOIN tp""".stripMargin
  }

  /** Newman MODULARITY of three partitions of the candidate-pair
    * graph — Q = Σ_c (e_c/m − (d_c/2m)²), the standard "is this
    * clustering better than chance" readout (Newman & Girvan 2004),
    * computed for (a) the dedup cluster map (its connected components
    * — every edge intra by construction, so Q_cc = 1 − Σd_c²/4m², the
    * ceiling any partition of this graph can reach), (b) the SOURCE
    * partition (how much duplicate structure aligns with provenance),
    * and (c) singletons (the floor, always ≤ 0) — three rows, one
    * graph pass each. Expects `clusters(doc_id, cluster_id)` (the
    * [[splitLeakageSafe]] convention) and the staged `mh_cand` pairs;
    * corpus ids are two-snapshot (doc_id·2 / ·2+1), so the source
    * label joins through ⌊doc_id/2⌋. All counts exact int64
    * (d_c ≤ 2m — squares are nowhere near the envelope at any
    * realistic pair count: Σd_c² wraps past m ≈ 1.5e9 edges); the
    * final ratio is the 3-op correctly-rounded IEEE sequence, r6'd.
    * Scale shape: degree/label joins are edge- and node-cardinality
    * equi-joins; nothing quadratic. */
  def clusterModularity(d: Dialect): String =
    s"""WITH e AS (SELECT doc_a AS a, doc_b AS b FROM mh_cand),
       |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e),
       |nodes AS (
       |  SELECT DISTINCT x AS doc_id
       |  FROM (SELECT a AS x FROM e UNION ALL SELECT b AS x FROM e)
       |),
       |lab AS (
       |  SELECT 'components' AS part, n.doc_id, CAST(k.cluster_id AS STRING) AS grp
       |  FROM nodes n JOIN clusters k ON k.doc_id = n.doc_id
       |  UNION ALL
       |  SELECT 'source', n.doc_id, dd.source
       |  FROM nodes n JOIN documents dd ON dd.doc_id = ${d.idiv("n.doc_id", "2")}
       |  UNION ALL
       |  SELECT 'singletons', doc_id, CAST(doc_id AS STRING) FROM nodes
       |),
       |intra AS (
       |  SELECT l1.part, CAST(COUNT(*) AS BIGINT) AS se
       |  FROM e
       |  JOIN lab l1 ON l1.doc_id = e.a
       |  JOIN lab l2 ON l2.doc_id = e.b AND l2.part = l1.part
       |  WHERE l1.grp = l2.grp
       |  GROUP BY l1.part
       |),
       |deg AS (
       |  SELECT x, CAST(COUNT(*) AS BIGINT) AS dg
       |  FROM (SELECT a AS x FROM e UNION ALL SELECT b AS x FROM e)
       |  GROUP BY x
       |),
       |dc AS (
       |  SELECT l.part, l.grp, CAST(SUM(dg.dg) AS BIGINT) AS dsum
       |  FROM deg dg JOIN lab l ON l.doc_id = dg.x
       |  GROUP BY l.part, l.grp
       |),
       |sdd AS (SELECT part, CAST(SUM(dsum * dsum) AS BIGINT) AS sdd FROM dc GROUP BY part),
       |parts AS (
       |  SELECT 'components' AS part UNION ALL SELECT 'source'
       |  UNION ALL SELECT 'singletons'
       |)
       |-- parts LEFT JOIN: a partition with zero intra edges (or an
       |-- empty graph) still emits its row (the absent-row convention)
       |SELECT p.part, m.m AS n_edges,
       |  CAST(COALESCE(i.se, 0) AS BIGINT) AS intra_edges,
       |  CASE WHEN m.m = 0 OR s.sdd IS NULL THEN NULL
       |       ELSE ${r6(
                 "(4.0e0 * m.m * COALESCE(i.se, 0) - s.sdd) / (4.0e0 * m.m * m.m)")}
       |  END AS modularity
       |FROM parts p CROSS JOIN m
       |LEFT JOIN intra i ON i.part = p.part
       |LEFT JOIN sdd s ON s.part = p.part""".stripMargin

  /** Leakage-safe corpus split: assign every near-dup CLUSTER — not
    * every document — to train/val/test by hashing its cluster
    * representative (singletons hash their own id), so duplicate
    * documents can never straddle a split boundary and leak eval
    * content into training. Expects a `clusters(doc_id, cluster_id)`
    * relation (the staged dedup cluster map; the oracle re-derives it
    * with the recursive-CTE closure). The audit column counts the
    * clusters that WOULD have straddled under the naive per-document
    * hash ([[corpusSplit]]'s rule) — the leakage this op exists to
    * prevent, measured on the same corpus. Scale shape: one broadcast
    * of nothing — a left join on doc_id, a hash projection, and two
    * group-bys; the 80/10/10 bucket split matches [[corpusSplit]]. */
  /** Quality × duplication cross-check — the corpus-insight readout
    * behind "dedup improves data quality" claims: the HIGH-quality
    * rate (score ≥ 0.6 — the corpus-median region, deliberately
    * stricter than the 0.4 release gate which passes ~99.7% of this
    * fixture and would carry no signal) among genuinely duplicated
    * docs (cluster containing a SECOND base document — snapshot
    * twins don't count, the threshold-sweep rule) against the unique
    * docs, with a pooled
    * two-proportion z (the [[abTest]] arithmetic: exact integer
    * counts, one fixed correctly-rounded IEEE sequence, NULL on a
    * degenerate pool). A strongly negative z says duplicates skew
    * low-quality (dedup doubles as a quality filter); ~0 says the
    * two axes are independent and must both run. Consumes the staged
    * cluster map through the `clusters` view (the splitLeakageSafe
    * wiring; oracle prepends the recursive-CTE closure). */
  def qualityVsDup(d: Dialect): String = {
    val quality = qualityFormula(
      nWords = d.size("toks"),
      stopRatio = s"CAST(${stopHitsExpr(d)} AS DOUBLE) / ${d.size("toks")}",
      avgWlen = s"CAST(length(replace(text, ' ', '')) AS DOUBLE) / ${d.size("toks")}")
    s"""WITH ${corpusCte(d)},
       |g AS (
       |  SELECT c.doc_id, COALESCE(k.cluster_id, c.doc_id) AS grp
       |  FROM corpus c LEFT JOIN clusters k ON c.doc_id = k.doc_id
       |),
       |gb AS (
       |  SELECT grp, COUNT(DISTINCT ${d.idiv("doc_id", "2")}) AS nb
       |  FROM g GROUP BY grp
       |),
       |qt AS (SELECT doc_id, text, ${toks(d)} AS toks FROM corpus),
       |q AS (
       |  SELECT doc_id,
       |    CASE WHEN $quality >= 6.0e-1 THEN 1 ELSE 0 END AS pass
       |  FROM qt
       |),
       |agg AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN gb.nb >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
       |    CAST(SUM(CASE WHEN gb.nb >= 2 THEN q.pass ELSE 0 END) AS BIGINT) AS x1,
       |    CAST(SUM(CASE WHEN gb.nb >= 2 THEN 0 ELSE 1 END) AS BIGINT) AS n2,
       |    CAST(SUM(CASE WHEN gb.nb >= 2 THEN 0 ELSE q.pass END) AS BIGINT) AS x2
       |  FROM g
       |  JOIN gb ON gb.grp = g.grp
       |  JOIN q ON q.doc_id = g.doc_id
       |)
       |SELECT n1 AS n_dup, n2 AS n_unique, x1 AS pass_dup, x2 AS pass_unique,
       |  CASE WHEN n1 = 0 THEN NULL ELSE ${r6("CAST(x1 AS DOUBLE) / n1")} END
       |    AS dup_pass_rate,
       |  CASE WHEN n2 = 0 THEN NULL ELSE ${r6("CAST(x2 AS DOUBLE) / n2")} END
       |    AS unique_pass_rate,
       |  CASE WHEN n1 = 0 OR n2 = 0 OR x1 + x2 = 0 OR x1 + x2 = n1 + n2 THEN NULL
       |       ELSE ${r6(
                 """(CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
                   | / sqrt((CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                   |        * (1.0e0 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                   |        * (1.0e0 / n1 + 1.0e0 / n2))""".stripMargin)}
       |  END AS z_score
       |FROM agg""".stripMargin
  }

  def splitLeakageSafe(d: Dialect): String = {
    def bucketOf(x: String): String =
      s"""CASE WHEN ${md5Bucket(x)} < 205 THEN 'train'
         |         WHEN ${md5Bucket(x)} < 230 THEN 'val'
         |         ELSE 'test' END""".stripMargin
    s"""WITH ${corpusCte(d)},
       |g AS (
       |  SELECT c.doc_id, COALESCE(k.cluster_id, c.doc_id) AS grp
       |  FROM corpus c LEFT JOIN clusters k ON c.doc_id = k.doc_id
       |)
       |SELECT doc_id, grp,
       |  ${bucketOf("CAST(grp AS STRING)")} AS split,
       |  ${bucketOf("CAST(doc_id AS STRING)")} AS naive_split
       |FROM g""".stripMargin
  }

  /** Per-duplicate-cluster SOURCE diversity — the provenance monitor a
    * dedup pipeline reads before deleting: a multi-doc cluster whose
    * members span many sources is syndication/boilerplate (safe to
    * collapse to one copy), one concentrated in a single source is a
    * crawler loop or a template farm (worth excluding wholesale).
    * Shannon entropy over member sources in the exact µ-bit arithmetic
    * of [[textEntropy]] (H = log2(n) − (Σ c·log2 c)/n; each c·log2 c
    * term quantized to int64 micro-bits BEFORE the order-independent
    * sum), computed off the staged cluster map (`clusters` view)
    * joined to the snapshot corpus — both snapshot copies inherit the
    * original's source. Multi-doc clusters only, biggest first,
    * top 20; at 100 TB this is one map-side-combinable rollup over the
    * cluster map plus a TakeOrdered. */
  def clusterSourceEntropy(d: Dialect): String =
    s"""WITH ${corpusCte(d, "source")},
       |m AS (
       |  SELECT k.cluster_id, c.source
       |  FROM clusters k JOIN corpus c ON k.doc_id = c.doc_id
       |),
       |cs AS (SELECT cluster_id, source, COUNT(*) AS c FROM m GROUP BY cluster_id, source),
       |agg AS (
       |  SELECT cluster_id, CAST(SUM(c) AS BIGINT) AS n,
       |    CAST(COUNT(*) AS BIGINT) AS n_sources,
       |    SUM(CAST(FLOOR(c * log2(CAST(c AS DOUBLE)) * 1.0e6 + 5.0e-1) AS BIGINT)) AS sq
       |  FROM cs GROUP BY cluster_id
       |)
       |SELECT cluster_id, n AS n_docs, n_sources,
       |  ${r6("log2(CAST(n AS DOUBLE)) - CAST(sq AS DOUBLE) / 1.0e6 / n")} AS source_entropy_bits
       |FROM agg
       |WHERE n >= 2
       |ORDER BY n DESC, cluster_id LIMIT 20""".stripMargin

  /** Temporal train/test split with a TIME-TRAVEL leakage audit — the
    * evaluation-hygiene sibling of the cluster-aware content split:
    * compares the two standard strategies over the event stream in
    * one query.
    *  - `per_user_holdout` (the recsys default: each user's LAST
    *    event is test) leaks future GLOBAL information — a user's
    *    held-out event can precede other users' training events, so a
    *    model with any cross-user signal trains on the future of its
    *    own test set. The audit COUNTS those events (test es <
    *    global train max).
    *  - `global_cutoff` (train = events AT-OR-BEFORE the
    *    80th-percentile timestamp, test strictly after) is
    *    leakage-free BY CONSTRUCTION, and the audit proving 0 here is
    *    the gate's self-check.
    * One user-sharded window for the holdout rank, one percentile
    * scalar for the cutoff, map-side-combinable counting aggregates;
    * each strategy scans its labeled events twice (once for the
    * broadcast single-row train-max, once for the counts) — the
    * two-pass shape that avoids a single-partition global window. */
  def splitTemporal(d: Dialect): String = {
    val es = d.epochSeconds("ts")
    def strat(name: String, part: String, from: String): String =
      s"""SELECT '$name' AS strategy,
         |  CAST(SUM(CASE WHEN $part = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         |  CAST(SUM(CASE WHEN $part = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
         |  CAST(SUM(CASE WHEN $part = 'test' AND es < mx THEN 1 ELSE 0 END) AS BIGINT) AS leaky_test_events
         |FROM $from CROSS JOIN (SELECT MAX(es) AS mx FROM $from WHERE $part = 'train')""".stripMargin
    s"""WITH e AS (SELECT user_id, event_id, $es AS es FROM events),
       |r AS (
       |  SELECT user_id, event_id, es,
       |    ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY es DESC, event_id DESC) AS rk
       |  FROM e
       |),
       |pu AS (SELECT es, CASE WHEN rk = 1 THEN 'test' ELSE 'train' END AS part FROM r),
       |cut AS (SELECT ${d.percentileCont("es", "8.0e-1")} AS c80 FROM e),
       |g AS (
       |  SELECT es, CASE WHEN es <= c80 THEN 'train' ELSE 'test' END AS part
       |  FROM e CROSS JOIN cut
       |)
       |${strat("per_user_holdout", "part", "pu")}
       |UNION ALL
       |${strat("global_cutoff", "part", "g")}""".stripMargin
  }

  /** The split report over a materialized `split_a` assignment (the
    * [[splitLeakageSafe]] output — two consumers: the straddle audit
    * and the per-split rollup; inlined, each reference would re-run
    * the corpus⋈clusters join). */
  def splitReport(d: Dialect): String =
    s"""WITH straddle AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS naive_straddling_groups
       |  FROM (SELECT grp FROM split_a GROUP BY grp HAVING COUNT(DISTINCT naive_split) > 1)
       |)
       |SELECT split, COUNT(*) AS n_docs,
       |  CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups,
       |  MIN(naive_straddling_groups) AS naive_straddling_groups
       |FROM split_a CROSS JOIN straddle
       |GROUP BY split""".stripMargin

  /** Cluster-safe K-fold assignment for [[splitKfoldReport]]: every
    * near-dup CLUSTER (singletons = their own id) hashes to one of
    * [[KfoldK]] folds, so duplicates can never straddle a CV fold
    * boundary — the cross-validation sibling of [[splitLeakageSafe]].
    * The naive per-document fold rides along for the straddle audit.
    * Same scale shape: a left join, a hash projection, group-bys. */
  def splitKfoldAssign(d: Dialect): String =
    s"""WITH ${corpusCte(d)},
       |g AS (
       |  SELECT c.doc_id, COALESCE(k.cluster_id, c.doc_id) AS grp
       |  FROM corpus c LEFT JOIN clusters k ON c.doc_id = k.doc_id
       |)
       |SELECT doc_id, grp,
       |  ${md5Bucket("CAST(grp AS STRING)")} % $KfoldK AS fold,
       |  ${md5Bucket("CAST(doc_id AS STRING)")} % $KfoldK AS naive_fold
       |FROM g""".stripMargin

  private[ops] val KfoldK = 5

  /** K-fold readout off the materialized assignment (`kfold_a` view):
    * per fold the doc/group counts and the train-side size (each fold
    * serves as validation once), plus two corpus scalars — the groups
    * the NAIVE per-doc hash would have split across folds (the
    * leakage this op prevents) and the max/min fold balance ratio.
    * Single-row scalars broadcast through cross joins. The fold
    * domain is the LITERAL 0..K−1 list, left-joined: a fold that
    * received zero docs still emits its row (n_docs = 0) and drives
    * the balance ratio to NULL — a GROUP BY over the assignment
    * would silently omit it and the MIN would read healthy, the
    * exact pathology this audit exists to flag. */
  def splitKfoldReport(d: Dialect): String = {
    val dom = domainRel("fold", (0 until KfoldK).map(_.toString))
    s"""WITH straddle AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS naive_straddling_groups
       |  FROM (SELECT grp FROM kfold_a GROUP BY grp HAVING COUNT(DISTINCT naive_fold) > 1)
       |),
       |dom AS ($dom),
       |f0 AS (
       |  SELECT fold, COUNT(*) AS n_docs,
       |    CAST(COUNT(DISTINCT grp) AS BIGINT) AS n_groups
       |  FROM kfold_a GROUP BY fold
       |),
       |f AS (
       |  SELECT dom.fold,
       |    CAST(COALESCE(f0.n_docs, 0) AS BIGINT) AS n_docs,
       |    CAST(COALESCE(f0.n_groups, 0) AS BIGINT) AS n_groups
       |  FROM dom LEFT JOIN f0 ON f0.fold = dom.fold
       |),
       |tot AS (
       |  SELECT CAST(SUM(n_docs) AS BIGINT) AS total,
       |    CAST(MAX(n_docs) AS BIGINT) AS mx, CAST(MIN(n_docs) AS BIGINT) AS mn
       |  FROM f
       |)
       |SELECT CAST(f.fold AS BIGINT) AS fold, f.n_docs, f.n_groups,
       |  t.total - f.n_docs AS train_docs,
       |  s.naive_straddling_groups,
       |  CASE WHEN t.mn = 0 THEN NULL
       |       ELSE ${r6("CAST(t.mx AS DOUBLE) / t.mn")} END AS balance_ratio
       |FROM f CROSS JOIN tot t CROSS JOIN straddle s
       |ORDER BY fold""".stripMargin
  }

  /** Runtime-filter (semi-join reduction) on a big⋈big join — the
    * 100 TB staple Spark's own runtime filters automate for simple
    * cases, expressed explicitly: the FILTERED orders slice folds its
    * join keys into ONE bloom value (bloom_filter_agg), and the
    * lineitem side is prefiltered with might_contain BEFORE the
    * shuffle join, so the exchange carries only probable matches
    * (slice selectivity + fpp of the fact table) instead of every
    * row. Bloom false positives are eliminated by the exact equi-join
    * that follows — the gate is result-invisible, which the oracle
    * proves by running the ungated exact form (the
    * contamination-bloom pattern applied to a fact⋈fact join).
    * Revenue stays in DECIMAL until the final cast. */
  def joinBloomGate(d: Dialect): String =
    s"""WITH ords AS (
       |  SELECT o_orderkey AS l_orderkey, o_orderpriority FROM orders
       |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
       |    AND year(o_orderdate) * 100 + month(o_orderdate) BETWEEN 199501 AND 199503
       |),
       |${d.bloomPrefilter("lgate", "lineitem", "ords", "l_orderkey")}
       |SELECT o.o_orderpriority, COUNT(*) AS n_items,
       |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
       |           * (CAST(1 AS DECIMAL(18,2)) - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
       |FROM lgate l JOIN ords o ON l.l_orderkey = o.l_orderkey
       |GROUP BY o.o_orderpriority""".stripMargin

  /** First principal component of the embedding matrix by POWER
    * ITERATION — distributed PCA with nothing but joins and groupBys:
    * center the µ-quantized matrix once (staged), then each iteration
    * is matvec s = Xv (corpus pass, 64-row broadcast join on pos) and
    * vecmat w = Xᵀs (corpus pass, join on vec_id), with s and w
    * rescaled between passes via exact int64 floor division
    * ([[floorDiv]] — dividend made an exact multiple first, so Spark
    * DIV ≡ DuckDB //). Three iterations from the all-ones start;
    * every sum is int64 with the headroom COMPUTED from the staged
    * envelope (`<p>_env`: cardinalities + matrix magnitude): the
    * rescale target is the largest T ≤ 1e6 with terms·mxcv·T ≤
    * 9.2e18 ([[pcaTargetCte]]), so a 100× scale-up in rows trades
    * per-round precision digits automatically instead of silently
    * wrapping (the old manual "drop a decade per 10× rows" rule,
    * now arithmetic). Each N-row intermediate is a
    * STAGE, not a CTE, because Spark inlines CTEs — the s table is
    * read by both its max and the vecmat, and as a CTE the corpus
    * pass would run twice per reference chain, compounding per round.
    * The iterative stages ARE the computation (pagerankIter rule:
    * never prewarmed). */
  /** The power-iteration stage chain over a centered matrix table
    * `cvTbl(vec_id, pos, cv)`: per round, matvec `<p>_s$r` then vecmat
    * `<p>_w$r` — THE one copy of the iteration, shared by the first
    * component ([[pcaPower]], prefix `pca`) and the deflated second
    * component ([[pcaDeflate]], prefix `pcb`). */
  /** Power-iteration round count, shared by the trainer and every
    * consumer of its final stage (`pca_w$PcaRounds`) — hardcoding the
    * stage name in a reader would silently pin it to a stale iterate
    * if the round count ever changed. */
  private[ops] val PcaRounds = 3

  private[ops] def powerIterStages(prefix: String, cvTbl: String, rounds: Int)
      : Seq[(String, Dialect => String)] =
    (s"${prefix}_env" -> { (_: Dialect) =>
      // the overflow envelope's inputs, ONE matrix pass staged up
      // front: row/column cardinalities and the matrix magnitude.
      // Every interior rescale derives its target from these instead
      // of a fixed 1e6 — the manual "drop a decade per 10× rows"
      // rule, computed (see pcaScaled)
      s"""SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vec,
         |  CAST(COUNT(DISTINCT pos) AS BIGINT) AS n_pos,
         |  GREATEST(COALESCE(CAST(MAX(ABS(cv)) AS BIGINT), 1), 1) AS mxcv
         |FROM $cvTbl""".stripMargin
    }) +: (1 to rounds).flatMap { r =>
      Seq(
        s"${prefix}_s$r" -> { (d: Dialect) =>
          val v =
            if (r == 1)
              // the all-ones start at the ENVELOPE target, not a fixed
              // 1e6 — the very first matvec must respect the same
              // headroom as every later round
              s"""${pcaTargetCte(d, s"${prefix}_env", "n_pos")},
                 |v AS (SELECT DISTINCT c.pos, t.tq AS vq
                 |      FROM $cvTbl c CROSS JOIN tgt t)""".stripMargin
            else
              s"""${pcaScaled(d, s"${prefix}_w${r - 1}", "pos", "w", "vq",
                              Some((s"${prefix}_env", "n_pos")))},
                 |v AS (SELECT pos, vq FROM sc)""".stripMargin
          s"""WITH $v
             |SELECT c.vec_id, CAST(SUM(c.cv * v.vq) AS BIGINT) AS sv
             |FROM $cvTbl c JOIN v ON c.pos = v.pos
             |GROUP BY c.vec_id""".stripMargin
        },
        s"${prefix}_w$r" -> { (d: Dialect) =>
          s"""WITH ${pcaScaled(d, s"${prefix}_s$r", "vec_id", "sv", "sn",
                               Some((s"${prefix}_env", "n_vec")))}
             |SELECT c.pos, CAST(SUM(c.cv * s.sn) AS BIGINT) AS w
             |FROM $cvTbl c JOIN sc s ON c.vec_id = s.vec_id
             |GROUP BY c.pos""".stripMargin
        })
    }

  /** The centered µ-quantized matrix — the input every PCA op shares
    * (trainer, projector, deflation, and the timed-alias iteration). */
  private[ops] val pcaMatrixStages: Seq[(String, Dialect => String)] = Seq(
    // (vec_id, pos, qv): the matrix in µ-units — ONE explode pass
    "pca_q" -> { (d: Dialect) =>
      s"""SELECT vec_id, pos, ${qvExpr("ev")} AS qv
         |FROM (${d.explodeWithPos("SELECT vec_id, embedding FROM embeddings",
                                   "vec_id", "embedding", "pos", "ev")})""".stripMargin
    },
    // centered matrix: per-pos floor-mean subtracted (floor keeps
    // the centering exact in int64; the constant sub-µ offset per
    // pos is irrelevant to the dominant direction)
    "pca_cv" -> { (d: Dialect) =>
      s"""WITH mu AS (
         |  SELECT pos, ${floorDiv(d)("CAST(SUM(qv) AS BIGINT)", "COUNT(*)")} AS mu
         |  FROM pca_q GROUP BY pos
         |)
         |SELECT q.vec_id, q.pos, q.qv - mu.mu AS cv
         |FROM pca_q q JOIN mu ON q.pos = mu.pos""".stripMargin
    })

  val pcaPower: StagedOp = StagedOp(
    stages = pcaMatrixStages ++ powerIterStages("pca", "pca_cv", PcaRounds),
    body = { d =>
      s"""WITH ${pcaScaled(d, s"pca_w$PcaRounds", "pos", "w", "vq")}
         |SELECT CAST(pos AS BIGINT) AS pos,
         |  ${r6("CAST(vq AS DOUBLE) / 1.0e6")} AS component
         |FROM sc""".stripMargin
    })

  /** The SAME power iteration under alias stage names (`pci_*`) — the
    * variant q_pca_power_iter times. The canonical `pca_*` chain has
    * THREE consumers (trainer output, projection read path, deflation
    * input) and is therefore prewarmed like every multi-consumer
    * artifact; but the iteration itself IS this query's computation,
    * so it re-runs the rounds under names no other query reads —
    * first-consumer billing stops depending on bench name order.
    * Identical int64 arithmetic on the same prewarmed centered matrix
    * → identical result to reading `pca_w3`, and the oracle proves
    * that every run. */
  val pcaPowerTimed: StagedOp = StagedOp(
    stages = pcaMatrixStages ++ powerIterStages("pci", "pca_cv", PcaRounds),
    body = { d =>
      s"""WITH ${pcaScaled(d, s"pci_w$PcaRounds", "pos", "w", "vq")}
         |SELECT CAST(pos AS BIGINT) AS pos,
         |  ${r6("CAST(vq AS DOUBLE) / 1.0e6")} AS component
         |FROM sc""".stripMargin
    })

  /** The PCA read path: project every (centered) vector onto the
    * learned first component ([[pcaPower]]'s staged iteration output)
    * and report its signed projection length plus its squared
    * alignment (cos² between the centered vector and the component) —
    * the residual outlier score an embedding-quality monitor tracks:
    * align2 → 1 means the vector is explained by the dominant
    * direction, → 0 an off-axis outlier. One pass over the staged
    * centered matrix joined with the broadcast 64-row component; all
    * sums are int64 (the pcaPower overflow bounds), and the only
    * float ops are the final sqrt/divisions on exact integer operands
    * — identical IEEE sequences in both engines. */
  val pcaProject: StagedOp = StagedOp(
    stages = pcaPower.stages,
    body = { d =>
      // ENVELOPE-target rescale, not the fixed 1e6: this vq feeds the
      // int64 projection sums below (Σ cv·vq over n_pos terms), which
      // would silently wrap in Spark at the matrix magnitudes the
      // adaptive envelope exists for. proj/align2 are RATIOS of t and
      // √nv2, so the vq scale cancels — at test magnitudes the clamp
      // makes this byte-identical to the fixed target
      s"""WITH ${pcaScaled(d, s"pca_w$PcaRounds", "pos", "w", "vq",
                           Some(("pca_env", "n_pos")))},
         |vs AS (SELECT CAST(SUM(vq * vq) AS BIGINT) AS nv2 FROM sc),
         |p AS (
         |  SELECT c.vec_id,
         |    CAST(SUM(c.cv * v.vq) AS BIGINT) AS t,
         |    CAST(SUM(c.cv * c.cv) AS BIGINT) AS ss
         |  FROM pca_cv c JOIN sc v ON c.pos = v.pos
         |  GROUP BY c.vec_id
         |)
         |SELECT vec_id,
         |  ${r6("CAST(t AS DOUBLE) / 1.0e6 / sqrt(CAST(nv2 AS DOUBLE)) ")} AS proj,
         |  CASE WHEN ss = 0 THEN NULL
         |       ELSE ${r6("CAST(t AS DOUBLE) * CAST(t AS DOUBLE) / (CAST(ss AS DOUBLE) * CAST(nv2 AS DOUBLE))")}
         |  END AS align2
         |FROM p CROSS JOIN vs""".stripMargin
    })

  /** SECOND principal component by DEFLATION: subtract each vector's
    * projection onto the learned first component from the centered
    * matrix (rank-one update, one staged pass), then run the same
    * power iteration on the deflated matrix — Hotelling deflation,
    * the standard route to top-k components one at a time. The
    * projection coefficient t·vqₚ/nv2 is computed in doubles (the
    * int64 product would overflow; doubles on exact integer operands
    * round identically in both engines) and half-up re-quantized to
    * µ-units, so the deflated matrix is int64 again and every
    * iteration sum stays exact. Orthogonality to component 1 is not
    * assumed — the micro-oracle asserts it (|cos| ≈ 0) against an
    * independent implementation. */
  val pcaDeflate: StagedOp = StagedOp(
    stages = (pcaPower.stages :+ ("pcb_cv" -> { (d: Dialect) =>
      // envelope-target rescale — the same silent-wrap reasoning as
      // pcaProject's body; the rank-one coefficient t·vq/nv2 is
      // scale-invariant in vq
      s"""WITH ${pcaScaled(d, s"pca_w$PcaRounds", "pos", "w", "vq",
                           Some(("pca_env", "n_pos")))},
         |vs AS (SELECT CAST(SUM(vq * vq) AS BIGINT) AS nv2 FROM sc),
         |t AS (
         |  SELECT c.vec_id, CAST(SUM(c.cv * v.vq) AS BIGINT) AS t
         |  FROM pca_cv c JOIN sc v ON c.pos = v.pos
         |  GROUP BY c.vec_id
         |)
         |SELECT c.vec_id, c.pos,
         |  c.cv - CAST(FLOOR(CAST(t.t AS DOUBLE) * CAST(v.vq AS DOUBLE)
         |                    / CAST(vs.nv2 AS DOUBLE) + 5.0e-1) AS BIGINT) AS cv
         |FROM pca_cv c
         |JOIN t ON c.vec_id = t.vec_id
         |JOIN sc v ON c.pos = v.pos
         |CROSS JOIN vs""".stripMargin
    })) ++ powerIterStages("pcb", "pcb_cv", PcaRounds),
    body = { d =>
      s"""WITH ${pcaScaled(d, s"pcb_w$PcaRounds", "pos", "w", "vq")}
         |SELECT CAST(pos AS BIGINT) AS pos,
         |  ${r6("CAST(vq AS DOUBLE) / 1.0e6")} AS component2
         |FROM sc""".stripMargin
    })

  /** The deflate chain's PREP only — the staged deflated matrix
    * (`pcb_cv`) and its overflow envelope (`pcb_env`), WITHOUT the
    * six per-round s/w stages: the Spark execution path
    * ([[graft.ops.PcaLoop.deflateComponent2]]) runs the rounds
    * driver-side with literal rescale divisors, so only the
    * multiply-referenced matrix-sized artifacts need parquet. The
    * full [[pcaDeflate]] stays the oracle rendering (and the staged
    * Spark twin the micro-oracle compares the loop against). */
  lazy val pcaDeflatePrep: StagedOp = StagedOp(
    stages = pcaDeflate.stages.filter { case (n, _) =>
      !(n.startsWith("pcb_s") || n.startsWith("pcb_w") || n == "pcb_env") },
    body = { _ => "SELECT COUNT(*) AS n FROM pcb_cv" })

  /** JAMES-STEIN shrinkage of per-source mean quality — the
    * winner's-curse correction a data-valuation readout needs before
    * ranking sources by observed mean: with k ≥ 4 noisy group means,
    * shrinking each toward the grand mean by c = max(0, 1 −
    * (k−3)·v̄/S) (v̄ = mean sampling variance of the group means, S =
    * Σ(x̄ᵢ−m)²) strictly dominates the raw means in total squared
    * error (Stein), so the top-ranked source stops being the
    * luckiest small one. Cross-engine exactness follows the
    * repo-wide parity rule: every cross-row SUM is int64 — per-doc
    * quality µ-quantized before the group sums; the between-group
    * spread as Σ(k·x̄q − Σx̄q)² = k²·S (each term an exact int64 under
    * the loud guard); the per-source sampling variance µ²-quantized
    * before its k-row sum — and the remaining scalar arithmetic is
    * single divisions on one row. c and the shrunk means are
    * 6dp-quantized. k ≤ 3 ⇒ c = 1 (no shrinkage is defined); S = 0 ⇒
    * c = 0 (identical means shrink completely — the limit of the
    * positive-part estimator). */
  /** Per-source quality-gate pass rates with WILSON 95% score
    * intervals — the release-gating readout that raw rates cannot
    * give: a 3-doc source at 100% and a 30k-doc source at 62% need
    * different treatment, and the Wilson interval (unlike the normal
    * approximation) stays inside [0,1] and behaves at the small-n /
    * extreme-p̂ corners a per-source report actually hits. The gate is
    * the SAME scored predicate [[corpusFilter]] ships (lang ≠ und AND
    * quality ≥ 0.4 — scores from the ONE [[scoredCtes]] copy), so
    * this CI is exactly about the shipped filter. z = 1.96 and
    * z² = 3.8416 are exact decimal literals (the transcendental-
    * pinning rule — no engine libm); all remaining arithmetic is the
    * same +·−·/·√ expression tree over exact int64 counts, so both
    * engines produce bit-identical doubles. Shape: one corpus scoring
    * pass + a source-grain aggregate — the per-source counts are the
    * whole state. */
  def qualityWilson(d: Dialect): String =
    s"""WITH ${scoredCtes(d, "documents")},
       |g AS (
       |  SELECT dd.source,
       |    CAST(COUNT(*) AS BIGINT) AS n,
       |    CAST(SUM(CASE WHEN s.lang_guess <> 'und' AND s.quality >= 4.0e-1
       |                  THEN 1 ELSE 0 END) AS BIGINT) AS k
       |  FROM scored s JOIN documents dd ON s.doc_id = dd.doc_id
       |  GROUP BY dd.source
       |),
       |w AS (
       |  SELECT source, n, k,
       |    CAST(k AS DOUBLE) / n AS p,
       |    1.0e0 + 3.8416e0 / n AS den
       |  FROM g
       |)
       |SELECT source, n AS n_docs, k AS n_pass,
       |  ${r6("p")} AS pass_rate,
       |  ${r6("(p + 3.8416e0 / (2 * n)) / den - (1.96e0 / den) * SQRT(p * (1.0e0 - p) / n + 3.8416e0 / (4.0e0 * n * n))")} AS wilson_lo,
       |  ${r6("(p + 3.8416e0 / (2 * n)) / den + (1.96e0 / den) * SQRT(p * (1.0e0 - p) / n + 3.8416e0 / (4.0e0 * n * n))")} AS wilson_hi
       |FROM w ORDER BY source""".stripMargin

  /** PARTIAL correlation of quality vs near-dup propensity CONTROLLING
    * for length — the follow-up question [[qualityVsDup]]'s raw
    * correlation leaves open: short docs score low quality AND shingle
    * into fewer, more collision-prone sets, so a raw quality↔dup
    * correlation may be pure length confounding. r_xy·z =
    * (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)) over x = quality
    * (quantized to 1e4 — bounds n·x² at 10⁹ docs inside int64),
    * y = candidate-pair degree in the staged minhash band index,
    * z = n_chars. All ten sufficient statistics are exact int64 sums
    * with loud envelope guards (the overflow rule); the three pairwise
    * correlations and the partial are one shared double expression
    * tree over those exact stats — bit-identical across engines.
    * NULLs where any variance term degenerates (constant column) —
    * never a fake 0. Scale shape: one scoring pass + one degree
    * aggregate over the staged index joined at doc grain, collapsed
    * map-side to ten numbers. */
  val qualityPartialCorr: StagedOp = StagedOp(
    stages = dedupMinhash.stages,
    body = { d =>
      // covariance terms n·Sab − Sa·Sb in DOUBLE off the exact int64
      // stats (the int64 product n·Sab can wrap; the double tree is
      // deterministic because the inputs are exact and the expression
      // is shared verbatim)
      def cv(a: String, b: String) =
        s"(CAST(n AS DOUBLE) * s_$a$b - CAST(s_$a AS DOUBLE) * s_$b)"
      val (cxx, cyy, czz) = (cv("x", "x"), cv("y", "y"), cv("z", "z"))
      val (cxy, cxz, cyz) = (cv("x", "y"), cv("x", "z"), cv("y", "z"))
      s"""WITH ${scoredCtes(d, "documents")},
         |-- mh_cand carries TWO-SNAPSHOT corpus ids (2d / 2d+1):
         |-- fold both snapshots of a doc back to the original id
         |-- before joining the scored (original-grain) table — a raw
         |-- join would match original id d against corpus id d, i.e.
         |-- doc ⌊d/2⌋'s first snapshot (mixed id spaces). Every doc
         |-- with ≥1 shingle carries its own twin pair (+2 degree for
         |-- all, a constant shift correlation is invariant to).
         |deg AS (
         |  SELECT ${d.idiv("doc_id", "2")} AS doc_id,
         |    CAST(COUNT(*) AS BIGINT) AS dg FROM (
         |    SELECT doc_a AS doc_id FROM mh_cand
         |    UNION ALL
         |    SELECT doc_b AS doc_id FROM mh_cand
         |  ) e GROUP BY ${d.idiv("doc_id", "2")}
         |),
         |v AS (
         |  SELECT
         |    CAST(FLOOR(s.quality * 1.0e4 + 5.0e-1) AS BIGINT) AS x,
         |    CASE WHEN COALESCE(g.dg, 0) > 30000
         |         THEN CAST('partial_corr: degree exceeds the int64 envelope' AS BIGINT)
         |         ELSE COALESCE(g.dg, 0) END AS y,
         |    CASE WHEN dd.n_chars > 30000
         |         THEN CAST('partial_corr: n_chars exceeds the int64 envelope' AS BIGINT)
         |         ELSE dd.n_chars END AS z
         |  FROM scored s
         |  JOIN documents dd ON s.doc_id = dd.doc_id
         |  LEFT JOIN deg g ON s.doc_id = g.doc_id
         |),
         |st AS (
         |  SELECT
         |    CASE WHEN COUNT(*) > 9000000
         |      THEN CAST('partial_corr: moment sums exceed the int64 envelope' AS BIGINT)
         |      ELSE CAST(COUNT(*) AS BIGINT) END AS n,
         |    CAST(SUM(x) AS BIGINT) AS s_x, CAST(SUM(y) AS BIGINT) AS s_y,
         |    CAST(SUM(z) AS BIGINT) AS s_z,
         |    CAST(SUM(x * x) AS BIGINT) AS s_xx, CAST(SUM(y * y) AS BIGINT) AS s_yy,
         |    CAST(SUM(z * z) AS BIGINT) AS s_zz,
         |    CAST(SUM(x * y) AS BIGINT) AS s_xy, CAST(SUM(x * z) AS BIGINT) AS s_xz,
         |    CAST(SUM(y * z) AS BIGINT) AS s_yz
         |  FROM v
         |),
         |r AS (
         |  SELECT n,
         |    CASE WHEN $cxx <= 0 OR $cyy <= 0 THEN NULL
         |         ELSE $cxy / SQRT($cxx * $cyy) END AS rxy,
         |    CASE WHEN $cxx <= 0 OR $czz <= 0 THEN NULL
         |         ELSE $cxz / SQRT($cxx * $czz) END AS rxz,
         |    CASE WHEN $cyy <= 0 OR $czz <= 0 THEN NULL
         |         ELSE $cyz / SQRT($cyy * $czz) END AS ryz
         |  FROM st
         |)
         |SELECT n AS n_docs,
         |  ${r6("rxy")} AS r_quality_dup,
         |  ${r6("rxz")} AS r_quality_len,
         |  ${r6("ryz")} AS r_dup_len,
         |  CASE WHEN rxy IS NULL OR rxz IS NULL OR ryz IS NULL THEN NULL
         |       WHEN (1.0e0 - rxz * rxz) * (1.0e0 - ryz * ryz) <= 0 THEN NULL
         |       ELSE ${r6("(rxy - rxz * ryz) / SQRT((1.0e0 - rxz * rxz) * (1.0e0 - ryz * ryz))")}
         |  END AS r_partial
         |FROM r""".stripMargin
    })

  def jsShrinkage(d: Dialect): String =
    s"""WITH ${scoredCtes(d, "documents")},
       |sq AS (
       |  SELECT dd.source, ${qvExpr("s.quality")} AS q
       |  FROM scored s JOIN documents dd ON s.doc_id = dd.doc_id
       |),
       |g AS (
       |  SELECT source,
       |    CASE WHEN COUNT(*) > 9000000
       |      THEN CAST('js-shrinkage: q2 sum exceeds the int64 envelope — rescale' AS BIGINT)
       |      ELSE CAST(COUNT(*) AS BIGINT) END AS n,
       |    CAST(SUM(q) AS BIGINT) AS sq1,
       |    CAST(SUM(q * q) AS BIGINT) AS sq2
       |  FROM sq GROUP BY source
       |),
       |st AS (
       |  SELECT source, n,
       |    CAST(FLOOR(CAST(sq1 AS DOUBLE) / n + 5.0e-1) AS BIGINT) AS xbq,
       |    CASE WHEN n < 2 THEN 0
       |         ELSE CAST(FLOOR(
       |           (CAST(n AS DOUBLE) * sq2 - CAST(sq1 AS DOUBLE) * sq1)
       |             / (CAST(n AS DOUBLE) * (n - 1) * n) + 5.0e-1) AS BIGINT)
       |    END AS vmq
       |  FROM g
       |),
       |gl AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS k,
       |    CAST(SUM(xbq) AS BIGINT) AS sxb,
       |    CAST(SUM(vmq) AS BIGINT) AS svm
       |  FROM st
       |),
       |dev AS (
       |  -- the bound is per-term but sized for the k-term SUM:
       |  -- |term| ≤ √(9e18/k) keeps Σterm² ≤ 9e18 exactly when every
       |  -- term passes (a flat 3e9 per-term cap would let the SUM
       |  -- wrap from ~2100 wide-spread sources without any single
       |  -- term tripping)
       |  SELECT CAST(SUM(
       |    CASE WHEN ABS(CAST(gl.k AS DOUBLE) * st.xbq - gl.sxb) > SQRT(9.0e18 / gl.k)
       |      THEN CAST('js-shrinkage: spread term exceeds the int64 envelope' AS BIGINT)
       |      ELSE (gl.k * st.xbq - gl.sxb) * (gl.k * st.xbq - gl.sxb) END
       |  ) AS BIGINT) AS ss2
       |  FROM st CROSS JOIN gl
       |),
       |cf AS (
       |  SELECT gl.k, gl.sxb,
       |    CASE WHEN gl.k <= 3 THEN 1.0e0
       |         WHEN dev.ss2 = 0 THEN 0.0e0
       |         ELSE GREATEST(0.0e0, 1.0e0 -
       |           (gl.k - 3) * (CAST(gl.svm AS DOUBLE) / gl.k)
       |             / (CAST(dev.ss2 AS DOUBLE) / gl.k / gl.k))
       |    END AS c
       |  FROM gl CROSS JOIN dev
       |)
       |SELECT st.source, st.n,
       |  ${r6("CAST(st.xbq AS DOUBLE) / 1.0e6")} AS mean_q,
       |  ${r6("(CAST(cf.sxb AS DOUBLE) / cf.k + cf.c * (st.xbq - CAST(cf.sxb AS DOUBLE) / cf.k)) / 1.0e6")} AS js_mean_q,
       |  ${r6("cf.c")} AS shrink_c
       |FROM st CROSS JOIN cf""".stripMargin

  /** The adaptive rescale target: the largest T ≤ 1e6 with
    * terms · mxcv · T ≤ 9.2e18 (int64 headroom), so the NEXT stage's
    * sum of `terms` products of a ≤ mxcv matrix entry and a ≤ T
    * rescaled component can never wrap — Spark wraps int64 silently
    * where DuckDB raises, so an overflow here would be a silent wrong
    * answer, not a crash. Division twice (9.2e18 ÷ mxcv ÷ terms)
    * keeps every intermediate in range at ANY cardinality; at the
    * test scales the clamp at 1e6 makes this the identity of the old
    * fixed target. Floor-of-floor is ≤ the true quotient, so the
    * bound errs conservative. */
  private[ops] def pcaTargetCte(d: Dialect, envTbl: String, termsCol: String): String =
    s"""tgt AS (SELECT GREATEST(1, LEAST(1000000,
       |  ${d.idiv(d.idiv("9200000000000000000", "mxcv"), termsCol)})) AS tq
       |  FROM $envTbl)""".stripMargin

  /** Rescale a (key, col) table's int64 column to ≤ the envelope
    * target (≤1e6 µ-units): divisor is ceil(max|x| / target),
    * computed and applied in pure int64 — THE one copy of the
    * power-iteration rescale, shared by [[pcaPower]]'s iterations and
    * [[pcaProject]]'s read path so the projection cannot drift from
    * the trainer's scaling. `env = Some((envTbl, termsCol))` derives
    * the target from the staged envelope ([[pcaTargetCte]] — interior
    * iteration rescales, whose output feeds another int64 sum); None
    * keeps the fixed 1e6 — ONLY for final component outputs, whose
    * µ-unit scale is the published contract and whose values feed
    * nothing but the /1e6 double conversion; every rescale whose
    * output enters another int64 sum must pass the envelope. Emits a
    * CTE chain ending in sc(key, out). */
  private[ops] def pcaScaled(d: Dialect, tbl: String, key: String, col: String, out: String,
                        env: Option[(String, String)] = None): String = {
    val tgt = env match {
      case Some((envTbl, termsCol)) => pcaTargetCte(d, envTbl, termsCol)
      case None => "tgt AS (SELECT CAST(1000000 AS BIGINT) AS tq)"
    }
    s"""mxt AS (SELECT GREATEST(COALESCE(CAST(MAX(ABS($col)) AS BIGINT), 1), 1) AS mx
       |        FROM $tbl),
       |$tgt,
       |dvt AS (SELECT 1 + ${d.idiv("mx - 1", "tq")} AS dm FROM mxt CROSS JOIN tgt),
       |sc AS (SELECT $key, ${floorDiv(d)(col, "dm")} AS $out
       |       FROM $tbl CROSS JOIN dvt)""".stripMargin
  }
}
