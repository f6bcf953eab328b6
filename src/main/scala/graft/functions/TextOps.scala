package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * shingling, language-ID heuristics, quality scoring, fingerprinting.
  *
  * All pure Column expressions — codegen-friendly, no UDFs — so they run
  * inside whole-stage codegen over billions of documents. Deliberately
  * integer-arithmetic-first (ratios appear only in final scores) so
  * results are engine-portable and exactly reproducible.
  */
object TextOps {

  /** Whitespace tokens (single-space separated corpora). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles: ["a b c", "b c d", ...]. Documents shorter
    * than n words yield an empty shingle set. Delegates to the native
    * codegen [[graft.expressions.Shingles]] — the earlier
    * transform/element_at HOF encoding re-evaluated the text SPLIT per
    * element (interpreted), O(tokens²) per document; identical
    * semantics (split-on-single-space, L−n+1 windows). */
  def shingles(text: Column, n: Int = 3): Column =
    graft.expressions.Shingles.shingles(text, n)

  /** Count of a literal token's occurrences, via length arithmetic —
    * O(len) with zero allocation, safe inside codegen. */
  def tokenOccurrences(text: Column, token: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val needle = s" $token "
    // Overlap-free for space-delimited tokens: count by length difference.
    ((length(padded) - length(regexp_replace(padded, needle, " "))) /
      lit(needle.length - 1)).cast("long")
  }

  /** N-gram-heuristic language ID: integer-ratio votes over marker
    * stopwords per language. Thresholds are in integer arithmetic
    * (marker_count * 20 > token_count ⇔ ratio > 5%). */
  def langIdGuess(text: Column): Column = {
    val nTok = size(tokens(text)).cast("long")
    val nThe = tokenOccurrences(text, "the")
    val nA = tokenOccurrences(text, "a")
    when(nThe * 20 > nTok, lit("en"))
      .when(nA * 20 > nTok, lit("en_article"))
      .otherwise(lit("und"))
  }

  /** HTML → text, raw: tags stripped, script/style/comments skipped,
    * entities decoded, block tags break lines — the crawl-ingest
    * pre-stage ([[graft.expressions.HtmlText]], one codegen'd pass). */
  def htmlToText(html: Column): Column =
    graft.expressions.HtmlText.html_text(html)

  /** HTML → MAIN content: [[htmlToText]] plus the per-line boilerplate
    * filter — a line survives with ≥ `minWords` words and ≤
    * `maxLinkDensity` anchor-text share (nav/footer/link-farm lines
    * are short and almost-all-anchor; Kohlschütter et al. 2010). */
  def htmlMainContent(html: Column, minWords: Int = 3,
                      maxLinkDensity: Double = 0.5): Column =
    graft.expressions.HtmlText.html_text(html, minWords, maxLinkDensity)

  /** Quality signals: char length, token count, mean token length,
    * stopword ratio, non-alpha ratio. */
  def nChars(text: Column): Column = length(text).cast("long")
  def nTokens(text: Column): Column = size(tokens(text)).cast("long")

  def meanTokenLen(text: Column): Column =
    (length(regexp_replace(text, " ", "")).cast("double") / nTokens(text))

  /** Default stopword list — ONE definition shared by the Column API
    * defaults and the SQL `text_stats` registration, so a defaulted
    * SQL call can never count different stop hits than the Column
    * path. */
  val DefaultStops: Seq[String] = Seq("the", "a", "of", "and")

  def stopwordRatio(text: Column, stops: Seq[String] = DefaultStops): Column =
    (stops.map(tokenOccurrences(text, _)).reduce(_ + _).cast("double") / nTokens(text))

  def nonAlnumRatio(text: Column): Column =
    ((length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", ""))).cast("double") /
      length(text))

  /** One-pass counter struct(n_char, n_tok, stop_hits, non_alnum)
    * backing the quality signals — value-identical to the regex
    * formulations above at a fraction of the scan cost (see
    * [[graft.expressions.TextStats]]). */
  def textStats(text: Column,
                stops: Seq[String] = DefaultStops): Column =
    graft.expressions.TextStats.textStats(text, stops)

  /** Composite quality score in [0,1]. Deliberately NOT rounded: the
    * arithmetic is scalar per-row IEEE ops, so any engine evaluating the
    * same expression tree gets bit-identical doubles, whereas round()
    * semantics differ across engines at exact half-boundaries. */
  def qualityScore(text: Column): Column =
    least(lit(1.0), nTokens(text).cast("double") / 100) * lit(0.5) +
      least(lit(1.0), stopwordRatio(text) * 5) * lit(0.3) +
      (lit(1.0) - least(lit(1.0), nonAlnumRatio(text) * 10)) * lit(0.2)

  /** Hash bucket → train/valid/test label (80/10/10). The single
    * Spark-side definition of the split thresholds — q72 and q82 must
    * agree on what the labels mean. */
  def splitLabel(pct: Column): Column =
    when(pct < 80, lit("train")).when(pct < 90, lit("valid"))
      .otherwise(lit("test"))

  /** BPE-ish token count: runs of letters, runs of digits, single other
    * non-space chars — a cheap, deterministic proxy for subword count. */
  def bpeishCount(text: Column): Column =
    regexp_count(text, lit("[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]")).cast("long")

  /** Canonical content fingerprint: md5 over sorted distinct tokens
    * (OpenRefine-style key-collision fingerprinting). */
  def fingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  // ---- Gopher-style repetition signals ---------------------------------
  // The duplicate-n-gram family of quality filters (Rae et al. 2021 §A1.1,
  // carried into RefinedWeb/FineWeb pipelines): high repetition marks
  // boilerplate and degenerate text. All per-row array arithmetic —
  // no explode, no shuffle; a corpus scan stays one codegen stage.

  /** Fraction of tokens that repeat an earlier token. */
  def dupWordFrac(text: Column): Column = {
    val w = tokens(text)
    when(size(w) > 0,
      (size(w) - size(array_distinct(w))).cast("double") / size(w))
      .otherwise(lit(0.0))
  }

  /** Fraction of word n-grams that are repeats. */
  def dupNgramFrac(text: Column, n: Int = 2): Column = {
    val g = shingles(text, n)
    when(size(g) > 0,
      (size(g) - size(array_distinct(g))).cast("double") / size(g))
      .otherwise(lit(0.0))
  }

  /** The Gopher document-quality counters (Rae et al. 2021 §A1.1) as
    * ONE codegen byte-walk per row — struct(n_words, word_chars,
    * alpha_words, n_lines, bullet_lines, ellipsis_lines, hash_chars,
    * ellipsis_runs, stop_present); see
    * [[graft.expressions.GopherStats]]. The rule arithmetic composes
    * over these fields in ordinary Columns ([[gopherKeep]]). */
  def gopherStats(text: Column): Column =
    graft.expressions.GopherStats.gopher_stats(text)

  /** Gopher's keep decision (1/0) from a [[gopherStats]] struct — the
    * published thresholds as defaults: word count in [minWords,
    * maxWords], mean word length in [3, 10], '#' and "..." per-word
    * ratios ≤ 0.1, ≤90% bullet lines, ≤30% ellipsis-ended lines, ≥80%
    * words with an alphabetic char, ≥2 of the 8 stop words present.
    * Boundary semantics follow the paper exactly: Rae et al. REMOVE on
    * strictly-greater ratios (strictly-less for alpha), so a document
    * sitting ON a threshold is KEPT — every comparison here is
    * inclusive on the keep side (review-found: strict comparisons
    * silently rejected boundary values the cited rule set admits).
    * Pure per-row integer/double arithmetic over the struct — the
    * whole gate (counters + decision) is a single codegen'd scan. */
  def gopherKeep(st: Column, minWords: Long = 50L,
                 maxWords: Long = 100000L): Column = {
    val w = st.getField("n_words").cast("double")
    val lines = st.getField("n_lines").cast("double")
    (st.getField("n_words") >= minWords &&
      st.getField("n_words") <= maxWords &&
      st.getField("word_chars").cast("double") / w >= 3.0 &&
      st.getField("word_chars").cast("double") / w <= 10.0 &&
      st.getField("hash_chars").cast("double") / w <= 0.1 &&
      st.getField("ellipsis_runs").cast("double") / w <= 0.1 &&
      st.getField("bullet_lines").cast("double") / lines <= 0.9 &&
      st.getField("ellipsis_lines").cast("double") / lines <= 0.3 &&
      st.getField("alpha_words").cast("double") / w >= 0.8 &&
      st.getField("stop_present") >= 2L).cast("int")
  }

  /** Per-domain curation rollup — the operational loop FineWeb /
    * RefinedWeb teams actually run: curation decisions are triaged per
    * SOURCE/DOMAIN, not per document, so the per-doc gate signals the
    * engine already computes (the Gopher counters, exact-dup hashes,
    * char mass) aggregate to one row per key with keep rates, per-rule
    * violation counts and dup rates. The reference analog is the A5
    * health-counts pattern (per-key status rollups,
    * pipelines/rj_smtr/constants.py:244-330) applied to the crawl.
    *
    * `rawText` feeds the dup-rate hash (dedup is about the text as
    * ingested); `gopherText` feeds the rule counters (callers may
    * inject synthetic line structure — q139's oracle tail); `chars`
    * is the char-mass column (a stored n_chars, or length(text)).
    *
    * Scale shape: ONE scan — every per-doc signal is scan-local
    * codegen (the gopher byte-walk + md5) — and one partial-agg
    * shuffle keyed by `keyCols` collapsing to a |domains×langs|-row
    * frame; the countDistinct dup rate adds the standard two-phase
    * distinct expansion keyed (key, hash). Rule-violation flags use
    * the keep-side-inclusive boundary semantics of [[gopherKeep]]
    * (violation = the REMOVE side, strictly past the threshold). */
  def domainRollup(df: DataFrame, keyCols: Seq[String], rawText: Column,
                   gopherText: Column, chars: Column,
                   minWords: Long = 50L, maxWords: Long = 100000L)
      : DataFrame = {
    require(keyCols.nonEmpty, "domainRollup needs at least one key column")
    val st = gopherStats(gopherText)
    val w = st.getField("n_words").cast("double")
    val lines = st.getField("n_lines").cast("double")
    def flag(c: Column) = when(c, 1L).otherwise(0L)
    val wordLen = st.getField("word_chars").cast("double") / w
    val perDoc = df.select(keyCols.map(col) ++ Seq(
      md5(rawText).as("__dr_h"),
      chars.as("__dr_chars"),
      st.getField("n_words").as("__dr_words"),
      gopherKeep(st, minWords, maxWords).cast("long").as("__dr_keep"),
      flag(st.getField("n_words") < minWords ||
        st.getField("n_words") > maxWords).as("__dr_v_words"),
      flag(wordLen < 3.0 || wordLen > 10.0).as("__dr_v_wordlen"),
      flag(st.getField("hash_chars").cast("double") / w > 0.1 ||
        st.getField("ellipsis_runs").cast("double") / w > 0.1)
        .as("__dr_v_symbol"),
      flag(st.getField("bullet_lines").cast("double") / lines > 0.9 ||
        st.getField("ellipsis_lines").cast("double") / lines > 0.3)
        .as("__dr_v_lines"),
      flag(st.getField("alpha_words").cast("double") / w < 0.8)
        .as("__dr_v_alpha"),
      flag(st.getField("stop_present") < 2L).as("__dr_v_stop")): _*)
    perDoc.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__dr_words")).as("total_words"),
        // round only the AGG outputs (summation-order noise); the
        // per-doc flags above are exact comparisons
        round(sum(col("__dr_keep")).cast("double") / count(lit(1)), 4)
          .as("keep_rate"),
        sum(col("__dr_v_words")).as("n_v_words"),
        sum(col("__dr_v_wordlen")).as("n_v_wordlen"),
        sum(col("__dr_v_symbol")).as("n_v_symbol"),
        sum(col("__dr_v_lines")).as("n_v_lines"),
        sum(col("__dr_v_alpha")).as("n_v_alpha"),
        sum(col("__dr_v_stop")).as("n_v_stop"),
        round(lit(1.0) - countDistinct(col("__dr_h")).cast("double") /
          count(lit(1)), 4).as("dup_rate"),
        // exact long sum / one division — order-free (the q100 rule)
        (sum(col("__dr_chars")).cast("double") / count(lit(1)))
          .as("mean_chars"))
  }

  /** C4's LINE-STRUCTURE policy (Raffel et al. 2020 §2.2 — the third
    * leg of the C4 family beside the word blocklist [[dropByLexicon]]
    * and the line dedup [[lineDedup]]): keep only lines that end in a
    * terminal punctuation mark, carry ≥ 3 words, and do not mention
    * javascript; then drop pages with fewer than 5 sentences, any
    * curly brace (code), or "lorem ipsum". Returns (idCol, other
    * cols…, n_lines, n_kept_lines, n_sentences, keep, text_clean) —
    * text_clean is the kept lines rejoined, so the op is a REWRITE
    * plus a page gate, like the paper's.
    *
    * Scale shape: pure per-row Column arithmetic — the line array is
    * per-doc-small and every lambda touches only its own element (no
    * outer-capture re-evaluation), so the policy is one scan with
    * zero exchanges. Sentence count = terminal marks in the KEPT
    * text (the paper's sentence splitting approximated engine-
    * portably; the oracle mirrors it exactly). */
  def c4LineClean(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    Seq("n_lines", "n_kept_lines", "n_sentences", "keep", "text_clean")
      .foreach { c =>
        require(!df.columns.contains(c),
          s"$c is reserved by c4LineClean; drop or rename the input column")
      }
    val lines = split(col(textCol), "\n")
    val kept = filter(lines, l =>
      trim(l).rlike("[.!?\"]$") &&
        size(split(trim(l), " ")) >= 3 &&
        !lower(l).contains("javascript"))
    val joined = array_join(kept, "\n")
    val nSent = (length(joined) -
      length(regexp_replace(joined, "[.!?]", ""))).cast("long")
    df.select(col(idCol) +: df.columns.filterNot(c =>
        c == idCol || c == textCol).map(col).toSeq ++: Seq(
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept_lines"),
      nSent.as("n_sentences"),
      (nSent >= 5 && !col(textCol).contains("{") &&
        !lower(col(textCol)).contains("lorem ipsum")).cast("int").as("keep"),
      joined.as("text_clean")): _*)
  }

  /** Evaluate a kernel-stats keep gate with ONE kernel evaluation per
    * row (r17, probe-found): `keep(stats)` predicates reference the
    * stats value once per rule — 13 times for [[repetitionKeep]] — and
    * in a FILTER each reference re-evaluates the kernel: the pushed
    * condition is split into per-rule conjuncts that whole-stage
    * codegen evaluates independently (no cross-conjunct subexpression
    * elimination, unlike Project/HashAggregate — probe-confirmed by
    * wall time), and projecting the struct first does not help because
    * PushPredicateThroughNonJoin inlines the alias straight back into
    * the pushed condition. Binding the value as a lambda VARIABLE
    * (`transform` over a one-element array) forces a single
    * evaluation — no optimizer rule expands a lambda variable. The
    * HOF itself is interpreted, but its per-row cost is a few dozen
    * arithmetic nodes — orders below even one extra kernel pass.
    * Probe-measured on the repetition gate at sf0.1: 6.8 s → see
    * OPTIMIZATION_r17.md. */
  def gateOnce(stats: Column, keep: Column => Column): Column =
    element_at(transform(array(stats), keep), 1)

  /** The Gopher REPETITION filter counters (Rae et al. 2021 §A1.1's
    * other half — [[gopherStats]]/[[gopherKeep]] carry the quality
    * rules): thirteen fractions from ONE kernel pass per row
    * ([[graft.expressions.RepetitionStats]] — the split happens once,
    * nine hash passes reuse it; a HOF encoding would re-split per
    * lambda element). See the expression's Scaladoc for the pinned
    * semantics (beyond-first duplicates, lex-smallest top-gram ties,
    * coverage-mask dup n-grams). */
  def repetitionStats(text: Column): Column =
    graft.expressions.RepetitionStats.repetition_stats(text)

  /** Gopher's repetition keep decision (1/0) — the published §A1.1
    * thresholds, rejection on STRICTLY greater (the [[gopherKeep]]
    * boundary convention): duplicate line/paragraph fractions ≤ 0.30,
    * their char fractions ≤ 0.20, top 2/3/4-gram char fractions ≤
    * 0.20/0.18/0.16, duplicated 5..10-gram char fractions ≤
    * 0.15/0.14/0.13/0.12/0.11/0.10. */
  def repetitionKeep(st: Column): Column =
    (st.getField("dup_line_frac") <= 0.30 &&
      st.getField("dup_para_frac") <= 0.30 &&
      st.getField("dup_line_char_frac") <= 0.20 &&
      st.getField("dup_para_char_frac") <= 0.20 &&
      st.getField("top2_char_frac") <= 0.20 &&
      st.getField("top3_char_frac") <= 0.18 &&
      st.getField("top4_char_frac") <= 0.16 &&
      st.getField("dup5_char_frac") <= 0.15 &&
      st.getField("dup6_char_frac") <= 0.14 &&
      st.getField("dup7_char_frac") <= 0.13 &&
      st.getField("dup8_char_frac") <= 0.12 &&
      st.getField("dup9_char_frac") <= 0.11 &&
      st.getField("dup10_char_frac") <= 0.10).cast("int")

  /** The Stack / StarCoder code-corpus preprocessing counters
    * (Kocetkov et al. 2022 §2.2; Allal et al. 2023 §4.2) as ONE
    * codegen byte-walk per row — struct(n_chars, n_lines, line_chars,
    * max_line_chars, alnum_chars, xml_head); see
    * [[graft.expressions.CodeStats]]. The rule arithmetic composes
    * over these fields in ordinary Columns ([[stackCodeKeep]]). */
  def codeStats(text: Column): Column =
    graft.expressions.CodeStats.code_stats(text)

  /** The Stack's keep decision (1/0) from a [[codeStats]] struct — the
    * published thresholds: average line length ≤ 100, maximum line
    * length ≤ 1000, alphanumeric character fraction ≥ 0.25, and no
    * XML declaration in the first 100 characters. Removal is on the
    * STRICTLY-past side (the [[gopherKeep]] boundary convention — a
    * file sitting ON a threshold is kept), and every comparison is
    * INTEGER arithmetic (line_chars ≤ 100·n_lines, 4·alnum_chars ≥
    * n_chars), so two engines can never disagree on a ratio's
    * rounding. Alphanumeric = ASCII [a-zA-Z0-9] over code points —
    * pinned here and mirrored by the q148 oracle's regexp. */
  def stackCodeKeep(st: Column): Column =
    (st.getField("line_chars") <= st.getField("n_lines") * 100L &&
      st.getField("max_line_chars") <= 1000L &&
      st.getField("alnum_chars") * 4L >= st.getField("n_chars") &&
      st.getField("xml_head") === 0L).cast("int")

  /** License ids The Stack / StarCoder treat as permissive (Kocetkov
    * et al. 2022 §2.3: the release keeps permissively-licensed files
    * only). Lowercased SPDX ids. */
  val PermissiveLicenses: Seq[String] =
    Seq("mit", "apache-2.0", "bsd-2-clause", "bsd-3-clause", "isc",
      "unlicense", "0bsd", "cc0-1.0")

  /** Detect a source file's license from its TEXT — the file-level half
    * of The Stack's license filter (Kocetkov et al. 2022 §2.3; their
    * repo-level half reads forge metadata, a connector concern). Two
    * published marker classes, machine-declared beating prose:
    *  1. an SPDX-License-Identifier tag (the SPDX spec's in-file
    *     declaration) — its id verbatim, lowercased;
    *  2. else the license's distinctive opening phrase (the
    *     fingerprints ScanCode/go-license-detector key on): MIT's
    *     "permission is hereby granted, free of charge", Apache-2.0's
    *     "apache license, version 2.0", the BSD clause stem with the
    *     "neither the name" 3-clause discriminator, GPL-2/3, MPL-2.0,
    *     ISC; else 'none'.
    * Pure Column logic (lower + contains + regexp_extract + a when
    * chain): scan-local, codegen'd, zero exchanges — the q148 contract.
    * Matching is case-insensitive over the whole text; real corpora
    * carry the notice in the header comment, and a false hit from
    * quoted license text elsewhere is the same over-trigger the
    * published detectors accept. */
  /** SPDX tag capture: a license id, optionally continued by the SPDX
    * spec's CASE-SENSITIVE uppercase operators (OR / AND / WITH) into a
    * full license EXPRESSION — `MIT OR GPL-2.0-only` resolves as a
    * whole instead of silently truncating to its first id. Operators
    * stay uppercase-only on purpose: prose after a tag ("MIT and the
    * following...") must not be swallowed into the expression. Parens
    * ride along in the atom class and are stripped after capture (the
    * keep policy below is parenthesization-insensitive). */
  private val SpdxExprPattern =
    "SPDX-License-Identifier:[ \\t]*([A-Za-z0-9.+\\-()]+" +
      "(?:[ \\t]+(?:OR|AND|WITH)[ \\t]+[A-Za-z0-9.+\\-()]+)*)"

  def licenseDetect(text: Column): Column = {
    val lo = lower(text)
    val spdx = trim(regexp_replace(regexp_replace(
      lower(regexp_extract(text, SpdxExprPattern, 1)),
      "[()]", " "), "\\s+", " "))
    when(spdx =!= "", spdx)
      .when(lo.contains("permission is hereby granted, free of charge"),
        lit("mit"))
      .when(lo.contains("apache license, version 2.0") ||
        lo.contains("apache license version 2.0"), lit("apache-2.0"))
      .when(lo.contains("redistribution and use in source and binary forms"),
        when(lo.contains("neither the name"), lit("bsd-3-clause"))
          .otherwise(lit("bsd-2-clause")))
      .when(lo.contains("gnu general public license") &&
        lo.contains("version 3"), lit("gpl-3.0"))
      .when(lo.contains("gnu general public license") &&
        lo.contains("version 2"), lit("gpl-2.0"))
      .when(lo.contains("mozilla public license, v. 2.0") ||
        lo.contains("mozilla public license version 2.0"), lit("mpl-2.0"))
      .when(lo.contains("permission to use, copy, modify, and/or distribute"),
        lit("isc"))
      .otherwise(lit("none"))
  }

  /** The Stack's keep decision over [[licenseDetect]]: permissive ids
    * pass, everything else — copyleft, unknown tags, AND unlicensed
    * ('none') — is excluded from the permissive release.
    *
    * Dual-license SPDX EXPRESSIONS resolve instead of truncating
    * (Kocetkov et al. 2022 §2.3's permissive policy applied to the
    * SPDX operator semantics): `WITH <exception>` is dropped (the
    * exception rides its license's verdict — `Apache-2.0 WITH
    * LLVM-exception` keeps iff apache-2.0 keeps); an expression
    * containing OR keeps iff ANY named license is permissive (the
    * consumer may elect that side); an AND-only expression keeps iff
    * ALL are (every obligation binds). Mixed parenthesized forms use
    * the same any/all approximation — conservative in the AND-only
    * direction, eager on OR, matching a permissive-release gate's
    * intent without a boolean-expression parser in the scan. Pure
    * Column logic, scan-local, zero exchanges. */
  def licenseKeep(license: Column): Column = {
    val norm = trim(regexp_replace(regexp_replace(license,
      "\\bwith\\s+[a-z0-9.+\\-]+", " "), "\\s+", " "))
    val raw = split(norm, " ")
    val hasOr = array_contains(raw, "or")
    val toks = filter(raw, t => t =!= "" && t =!= "or" && t =!= "and")
    val permLit = typedLit(PermissiveLicenses)
    val anyPerm = exists(toks, t => array_contains(permLit, t))
    val allPerm = forall(toks, t => array_contains(permLit, t))
    when(size(toks) === 0, lit(false))
      .when(hasOr, anyPerm)
      .otherwise(allPerm)
      .cast("int")
  }

  /** The repo-level half of The Stack's license filter (Kocetkov et
    * al. 2022 §2.3): most source files carry NO in-file notice — the
    * license lives in the repo root's LICENSE/COPYING blob and files
    * inherit it. Detects from the license files' CONTENT through
    * [[licenseDetect]] (basename match case-insensitive, optional
    * extension: LICENSE, LICENSE.md, COPYING.txt, LICENCE-MIT, ...).
    * Multiple detections per repo (LICENSE + COPYING) resolve to the
    * lexicographically smallest non-'none' id — deterministic across
    * engines. Output: (repoCol, repo_license); repos with no detected
    * license are absent (their files inherit 'none'). One shuffle on
    * the repo key over the license-file subset only. */
  def repoLicenseTable(files: org.apache.spark.sql.DataFrame,
                       repoCol: String, pathCol: String,
                       textCol: String): org.apache.spark.sql.DataFrame = {
    val base = lower(element_at(split(col(pathCol), "/"), -1))
    files.filter(base.rlike("^(license|licence|copying)([.-][a-z0-9.\\-]*)?$"))
      .select(col(repoCol), licenseDetect(col(textCol)).as("__lic"))
      .filter(col("__lic") =!= "none")
      .groupBy(col(repoCol)).agg(min(col("__lic")).as("repo_license"))
  }

  /** File-effective license: in-file evidence (an SPDX tag or a header
    * phrase, [[licenseDetect]]) OVERRIDES; otherwise the file inherits
    * the repo's license from `repoLic` ([[repoLicenseTable]]) or
    * 'none'. Adds `license` and `inherited` (int: 1 = the license came
    * from the repo table). The join is hinted broadcast by default —
    * the J1 state-join shape, right for a |repos|-bounded table; at
    * forge scale (tens of millions of repos) pass `broadcastRepo =
    * false` to let it shuffle on the repo key, which both sides
    * already carry. */
  def licenseInherit(files: org.apache.spark.sql.DataFrame,
                     repoLic: org.apache.spark.sql.DataFrame,
                     repoCol: String, textCol: String,
                     broadcastRepo: Boolean = true)
      : org.apache.spark.sql.DataFrame = {
    val inFile = licenseDetect(col(textCol))
    val rl = if (broadcastRepo) broadcast(repoLic) else repoLic
    files.join(rl, Seq(repoCol), "left")
      .withColumn("license",
        when(inFile =!= "none", inFile)
          .otherwise(coalesce(col("repo_license"), lit("none"))))
      .withColumn("inherited",
        (inFile === "none" && col("repo_license").isNotNull).cast("int"))
      .drop("repo_license")
  }

  /** Share of all word n-grams taken by the single most frequent one —
    * native one-pass hash count ([[graft.expressions.TopNgramFrac]],
    * O(tokens) per row; the earlier array_distinct × filter HOF was
    * O(distinct × tokens) interpreted). coalesce preserves the HOF
    * null-text behavior (0.0). */
  def topNgramFrac(text: Column, n: Int = 2): Column =
    coalesce(graft.expressions.TopNgramFrac.top_ngram_frac(text, n),
      lit(0.0))

  /** Fixed-size token chunks with overlap — the context-window splitter
    * every training pipeline runs before tokenization: chunk i covers
    * tokens [i·(chunk−overlap), i·(chunk−overlap)+chunk). Chunk count is
    * ⌈(n−overlap)/step⌉ (≥1), NOT ⌈n/step⌉: a trailing start inside the
    * previous chunk's overlap region would emit a chunk that is a strict
    * SUBSET of its predecessor — silently duplicated training data.
    * Pure per-row array arithmetic (no explode here — callers posexplode
    * the result), so chunking 100 TB stays inside the scan. */
  def chunkTexts(text: Column, chunkTokens: Int, overlap: Int): Column =
    graft.expressions.ChunkTexts.chunk_texts(text, chunkTokens, overlap)

  /** Deterministic [0,100) bucket from a salted md5 of the id — the
    * stable sample/split primitive: the same document lands in the same
    * bucket on any engine, cluster size, or run (the reproducibility
    * property `rand()`-based sampling lacks). 60-bit prefix keeps the
    * value inside a signed long on every engine. */
  def hashBucket(id: Column, salt: String = "split"): Column =
    pmod(hashDraw(id, salt), lit(100L))

  /** The raw salted 60-bit draw behind [[hashBucket]]/[[hashFrac]] and
    * the per-source cap ranking (q106/q107) — ONE definition so every
    * consumer ranks/buckets by the identical value. */
  def hashDraw(id: Column, salt: String): Column =
    graft.expressions.HexPrefixToLong.hex_prefix_to_long(
      md5(concat(lit(salt + "|"), id.cast("string"))), 15)

  /** [[hashBucket]] at fine granularity, as a uniform double in [0,1) —
    * the acceptance-test primitive for fractional sampling rates. The
    * modulus stays < 2^53 so the long→double conversion is exact and
    * every engine computes the identical fraction. */
  def hashFrac(id: Column, salt: String, buckets: Long = 1000000L): Column = {
    require(buckets > 0 && buckets < (1L << 53), s"buckets $buckets not exact in double")
    pmod(hashDraw(id, salt), lit(buckets))
      .cast("double") / lit(buckets.toDouble)
  }

  /** Deterministic EXACT-K-per-stratum sample — the fixed-size eval
    * subset carve ("500 eval docs per language"): within each stratum,
    * rows rank by the salted [[hashDraw]] (ties to the smaller id) and
    * the K smallest keep. Unlike the Bernoulli gate ([[hashBucket]] <
    * rate, q72's in_sample), output size is EXACT per stratum — and
    * stays exact as the corpus grows (a rate would need retuning).
    *
    * Skew-safe at corpus scale: a naive per-stratum window puts a
    * billion-row language through ONE task, so the rank runs in two
    * levels — rows first top-K within (stratum, salt-of-id) across
    * `salts` parallel groups, then the ≤ K·salts survivors top-K within
    * the stratum. Every global top-K member wins its salt group too, so
    * the composition is EXACTLY the single window's answer (the oracle
    * recomputes it with one window; spec-pinned as a plan choice). */
  def stratifiedTake(df: DataFrame, strataCols: Seq[String], idCol: String,
                     k: Int, salt: String, salts: Int = 32): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    require(salts >= 1, s"salts must be >= 1: $salts")
    Seq("__st_rk1", "__st_rk2").foreach { c =>
      require(!df.columns.contains(c),
        s"$c is reserved by stratifiedTake; drop or rename the input column")
    }
    val draw = hashDraw(col(idCol), salt)
    val W = org.apache.spark.sql.expressions.Window
    val w1 = W.partitionBy((strataCols.map(col) :+
        pmod(hashDraw(col(idCol), salt + "#shard"), lit(salts.toLong))): _*)
      .orderBy(draw, col(idCol))
    val w2 = W.partitionBy(strataCols.map(col): _*)
      .orderBy(draw, col(idCol))
    df.withColumn("__st_rk1", row_number().over(w1))
      .filter(col("__st_rk1") <= k)
      .withColumn("__st_rk2", row_number().over(w2))
      .filter(col("__st_rk2") <= k)
      .drop("__st_rk1", "__st_rk2")
  }

  /** C4-style LINE-level corpus dedup (Raffel et al. 2020 §2.2 — "we
    * discarded all but one of any three-sentence span occurring more
    * than once"): the corpus is segmented into LINES, every line keeps
    * exactly its first corpus-wide occurrence (minimum (doc, position)),
    * later occurrences are removed WHOLESALE, and documents are
    * reassembled from their surviving lines. Distinct from q113's
    * overlapping-window masking in all three choices: disjoint units,
    * whole-unit removal, document reassembly.
    *
    * The line unit is `lineTokens` consecutive whitespace tokens
    * ([[chunkTexts]] with zero overlap — single-space corpora carry no
    * newlines; a newline-delimited corpus would split first and feed
    * one line per row into the same keeper machinery).
    *
    * Scale shape — EXACTLY the q113 argument: corpus text NEVER
    * crosses an exchange. The segment stream projects to (id, idx,
    * hash, priority) before anything shuffles; the keeper is a
    * primitive-buffer `min(priority)` HashAggregate with map-side
    * partial (a viral boilerplate line collapses per task — no per-key
    * buffer, no sort); what ships back to documents is the DROPPED
    * offsets, a minority at realistic dup density (AQE broadcasts
    * them, q113's `starts` shape), and each document rebuilds
    * SCAN-SIDE from its own chunk array. Two text scans total (segment
    * + rebuild), zero text bytes shuffled — an earlier formulation
    * shipped kept-line text through the keeper shuffle, corpus-sized
    * bytes for a diverse corpus. Priority encodes (doc, segment) as
    * one bigint, the q113 encoding with the same scan-side raise_error
    * guard; identical md5 ⇒ identical line is the q50/q113
    * content-hash contract.
    *
    * Output: (idCol, text_dedup, n_lines, n_kept); a document whose
    * every line lost reassembles to the empty string, not a dropped
    * row. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                lineTokens: Int = 10): DataFrame =
    lineRebuild(df,
      lineDropped(lineSegments(df, idCol, textCol, lineTokens), None),
      idCol, textCol, lineTokens)

  /** Bloom filter over a corpus's distinct line-segment hashes — the
    * build half of [[lineScrubBloom]]. Sized from the OBSERVED distinct
    * cardinality (the q91 lesson: a fixed size under a growing corpus
    * saturates toward fpp ≈ 1 in silence); None when the corpus has no
    * segments. The blob is n·log₂(1/fpp)/ln2 BITS — a 10⁹-line seen-set
    * at fpp 0.01 is ~1.2 GB as a filter vs tens of GB as a table, and
    * it broadcasts into the scan instead of joining. */
  def lineBloomFilter(df: DataFrame, idCol: String, textCol: String,
                      lineTokens: Int = 10,
                      fpp: Double = 0.01): Option[Array[Byte]] = {
    val rhs = lineSegments(df, idCol, textCol, lineTokens)
      .select(col("__ld_h")).distinct()
    rhs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = rhs.count()
      if (n <= 0L) None
      else graft.functions.BloomOps.buildFilter(rhs, col("__ld_h"), n, fpp)
    } finally rhs.unpersist(blocking = false)
  }

  /** Dolma's Bloom-filter line/paragraph dedup (Soldaini et al. 2024 —
    * their exact dedup keeps the seen-set AS a Bloom filter): scrub
    * every segment whose hash HITS the prior-corpus filter, rebuild the
    * text. The cross-run trade vs [[graft.lake.CorpusDedup.scrubLines]]'
    * exact seen-table: no false NEGATIVES ever (a committed line always
    * hits — the guarantee dedup needs), while false positives drop
    * novel lines at ≤ fpp (the accepted Dolma trade; q154 measures it
    * against the exact recompute). The filter is a broadcast plan
    * literal, so the gate is a codegen scan predicate — the seen-set
    * never joins, never shuffles. Output: (idCol, text_dedup, n_lines,
    * n_kept), [[lineDedup]]'s contract. */
  def lineScrubBloom(df: DataFrame, idCol: String, textCol: String,
                     filter: Array[Byte], lineTokens: Int = 10): DataFrame = {
    val segs = lineSegments(df, idCol, textCol, lineTokens)
    val dropped = segs
      .filter(graft.functions.BloomOps.mightContain(filter, col("__ld_h")))
      .select(col(idCol), col("__ld_idx")).distinct()
    lineRebuild(df, dropped, idCol, textCol, lineTokens)
  }

  /** The segment stream behind [[lineDedup]] (and the cross-run line
    * scrub, `lake.CorpusDedup.scrubLines`): one row per disjoint
    * `lineTokens`-token segment, carrying the segment hash and the
    * (doc, idx) priority bigint. Ids must be NON-NEGATIVE INTEGRAL
    * (the q113 priority-encoding contract: doc·2²¹ + idx is
    * lexicographic only then) — enforced, because a string id would
    * cast to a null priority and silently break min_by ordering. */
  private[graft] def lineSegments(df: DataFrame, idCol: String,
                                  textCol: String, lineTokens: Int): DataFrame = {
    require(lineTokens > 0, s"lineTokens must be positive: $lineTokens")
    require(Seq("byte", "short", "int", "long", "integer", "bigint",
        "smallint", "tinyint")
        .contains(df.schema(idCol).dataType.typeName),
      s"lineDedup needs a non-negative integral $idCol " +
        s"(got ${df.schema(idCol).dataType.typeName}): the keep-first " +
        "priority encodes (id, idx) as one bigint")
    Seq("__ld_idx", "__ld_seg", "__ld_h", "__ld_prio", "__ld_kept").foreach { c =>
      require(!df.columns.contains(c),
        s"$c is reserved by lineDedup; drop or rename the input column")
    }
    df.select(col(idCol),
        posexplode(chunkTexts(col(textCol), lineTokens, 0))
          .as(Seq("__ld_idx", "__ld_seg")))
      .withColumn("__ld_idx",
        when(col("__ld_idx") < lit(1L << 21), col("__ld_idx"))
          .otherwise(raise_error(concat(lit("lineDedup: doc "),
            col(idCol).cast("string"),
            lit(s" has >= 2^21 lines of $lineTokens tokens; the "),
            lit("priority encoding would break lexicographic order")))))
      .withColumn("__ld_h", md5(col("__ld_seg")))
      .withColumn("__ld_prio",
        when(col(idCol) >= 0 && col(idCol) < lit(1L << 42),
          col(idCol).cast("long") * lit(1L << 21) + col("__ld_idx"))
          .otherwise(raise_error(concat(lit("lineDedup: "), lit(idCol),
            lit(" outside [0, 2^42) breaks the keep-first priority "),
            lit("encoding (id*2^21 + idx must not overflow a long)")))))
      // the segment TEXT stays behind: downstream shuffles carry only
      // (id, idx, hash, priority) — text never crosses an exchange
      .drop("__ld_seg")
  }

  /** Segments that LOSE — non-first occurrences, plus (for the
    * cross-run gates) any segment whose hash sits in `history` — as
    * (idCol, __ld_idx) offset pairs. The keeper is a primitive-buffer
    * min(priority) HashAggregate with map-side partial merge, so a
    * viral line collapses per task before its shuffle. The seen-lines
    * commit paths keep `history` unique by `__ld_h` within a TTL
    * window, but a caller scrubbing over a WIDER window than the
    * commit TTL could see a re-recorded hash twice — the output
    * dedups (id, idx) so multiplicity can never double-count a
    * segment into `n_kept`. */
  private[graft] def lineDropped(segs: DataFrame, history: Option[DataFrame],
                                 idCol: String = "doc_id"): DataFrame = {
    val keepers = segs.groupBy(col("__ld_h"))
      .agg(min(col("__ld_prio")).as("__ld_keep"))
    val marked = segs.join(keepers, Seq("__ld_h"))
    val flagged = history match {
      case Some(hw) => marked.join(
        hw.select(col("__ld_h"), lit(1).as("__ld_hist")), Seq("__ld_h"), "left")
      case None => marked.withColumn("__ld_hist", lit(null).cast("int"))
    }
    flagged
      .filter(col("__ld_prio") =!= col("__ld_keep") || col("__ld_hist").isNotNull)
      .select(col(idCol), col("__ld_idx"))
      .dropDuplicates(idCol, "__ld_idx")
  }

  /** Rebuild documents SCAN-SIDE from their own chunk arrays minus the
    * dropped offsets. At realistic dup density the per-doc dropped
    * summary covers a minority of documents, so AQE broadcasts it
    * (q113's `starts` shape) and document text never shuffles; an
    * untouched doc passes through byte-identical. A doc whose every
    * line lost reassembles to the empty string, not a dropped row.
    *
    * The mask is the fused two-pointer kernel
    * [[graft.expressions.ChunkRebuild]] — O(chunks + drops) per
    * touched doc, value-identical to the HOF encoding it replaced
    * (spec-pinned; the retired shape is kept as [[lineRebuildHof]] for
    * the parity spec). The r11 probe concern:
    * the HOF's `array_contains` inside `filter` is O(dropped × chunks)
    * per touched doc, which a boilerplate-heavy corpus (majority
    * touched, long drop lists) turns into the scan's hot loop. */
  private[graft] def lineRebuild(df: DataFrame, dropped: DataFrame,
                                 idCol: String, textCol: String,
                                 lineTokens: Int): DataFrame =
    lineRebuildWith(df, dropped, idCol, textCol, lineTokens,
      (chunks, drops) =>
        graft.expressions.ChunkRebuild.chunk_rebuild(chunks, drops))

  /** The retired HOF mask (parity twin of [[lineRebuild]]). */
  private[graft] def lineRebuildHof(df: DataFrame, dropped: DataFrame,
                                    idCol: String, textCol: String,
                                    lineTokens: Int): DataFrame =
    lineRebuildWith(df, dropped, idCol, textCol, lineTokens,
      (chunks, drops) => concat_ws(" ",
        filter(chunks, (_, i) => !array_contains(drops, i))))

  private def lineRebuildWith(df: DataFrame, dropped: DataFrame,
                              idCol: String, textCol: String,
                              lineTokens: Int,
                              mask: (Column, Column) => Column): DataFrame = {
    val perDoc = dropped.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__ld_idx"))).as("__ld_drop_idxs"),
        count(lit(1)).as("__ld_n_dropped"))
    df.select(col(idCol),
        chunkTexts(col(textCol), lineTokens, 0).as("__ld_chunks"),
        col(textCol).as("__ld_text"))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        when(col("__ld_drop_idxs").isNull, col("__ld_text"))
          // the mask runs only over TOUCHED docs' chunk arrays (the
          // q113 mask position)
          .otherwise(mask(col("__ld_chunks"), col("__ld_drop_idxs")))
          .as("text_dedup"),
        size(col("__ld_chunks")).cast("long").as("n_lines"),
        (size(col("__ld_chunks")) -
          coalesce(col("__ld_n_dropped"), lit(0L))).cast("long").as("n_kept"))
  }

  // ---- benchmark decontamination (span removal) ------------------------

  /** Colliding shingle start offsets per document: the 0-based word
    * index j of every `n`-gram of `df` that appears in `testShingles`
    * (a frame with one column `sh`). The only frame that ever shuffles
    * is (id, j) — 12 bytes per collision; clean documents never leave
    * their scan. `testShingles` should be the DISTINCT test-set shingle
    * frame; at benchmark-suite scale it broadcast-joins. */
  private def decontamHits(df: DataFrame, idCol: String,
                           textCol: String, testShingles: DataFrame,
                           n: Int, margin: Int): DataFrame =
    df
      // the word count rides the pre-join frame only so the removal
      // span can clamp SCAN-SIDE — post-join rows are (id, lo, hi),
      // and clamped spans let every downstream consumer do plain
      // interval arithmetic with no reference back to the text.
      // Materialized BELOW the explode: selected beside posexplode it
      // lands in the Project above the Generate and re-splits the text
      // once per SHINGLE — O(words²) per doc (measured: +14 s on the
      // 30k-word skew doc)
      .select(col(idCol), col(textCol),
        (size(split(col(textCol), " ")) - 1).as("__dc_last"))
      .select(col(idCol), col("__dc_last"),
        posexplode(shingles(col(textCol), n)).as(Seq("__dc_j", "__dc_sh")))
      .join(testShingles.select(col("sh").as("__dc_sh")),
        Seq("__dc_sh"), "left_semi")
      .select(col(idCol),
        greatest(col("__dc_j") - margin, lit(0)).as("__dc_lo"),
        least(col("__dc_j") + (n - 1) + margin, col("__dc_last"))
          .as("__dc_hi"))

  /** Per-hit removal spans [max(j−margin, 0), j+n−1+margin] merged into
    * SORTED DISJOINT intervals per document — the classic interval
    * merge as a window: running max of span ends over the lo-ordered
    * preceding rows starts a new group exactly when a span clears the
    * covered prefix. O(spans log spans) per doc, fully distributed
    * (the window and the two groupBys share the id hash partitioning).
    * Disjointness is what makes the rebuild's gap walk linear — the
    * per-row `exists` over RAW span lists it replaced was
    * O(words × spans), quadratic on a pathologically contaminated long
    * document (boilerplate test text repeated through a 100k-word doc),
    * the exact skew shape the dedup family defends against
    * (judge-found, r15). Output: (idCol, __dc_spans) — only docs with
    * ≥1 collision appear. */
  private[graft] def decontamSpans(hits: DataFrame, idCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(idCol)).orderBy(col("__dc_lo"), col("__dc_hi"))
    val prevMax = max(col("__dc_hi"))
      .over(w.rowsBetween(Window.unboundedPreceding, -1))
    hits
      // a span STARTS a merged interval iff it clears the covered
      // prefix (running max of ends over lo-ordered preceding rows);
      // adjacent spans (lo == prevMax+1) merge too — coverage is
      // contiguous, and fewer intervals is strictly cheaper downstream
      .withColumn("__dc_pm", prevMax)
      .withColumn("__dc_fm", max(col("__dc_hi"))
        .over(Window.partitionBy(col(idCol))))
      .filter(col("__dc_pm").isNull || col("__dc_lo") > col("__dc_pm") + 1)
      // a merged interval's END is the covered-prefix max at the NEXT
      // interval's start row (running max is monotone, so that prefix
      // max IS this interval's end), or the doc's global max for the
      // last one. lead() over the filtered group-start rows reuses the
      // first window's partitioning AND sort — the whole merge plus
      // the collect below costs the hits frame ONE exchange, same as
      // the naive groupBy it replaced.
      .withColumn("__dc_hi",
        coalesce(lead(col("__dc_pm"), 1).over(w), col("__dc_fm")))
      .groupBy(col(idCol))
      // group-start rows arrive lo-sorted within the id's partition, so
      // collect_list is already ordered; array_sort is a cheap guard
      .agg(array_sort(collect_list(
        struct(col("__dc_lo").as("lo"), col("__dc_hi").as("hi"))))
        .as("__dc_spans"))
  }

  /** GPT-3 appendix-C decontamination by SPAN REMOVAL: every word
    * covered by a colliding `n`-gram ± `margin` words is removed and
    * the document rebuilt (Brown et al. 2020; the detect/prefilter
    * siblings are q85/q91). Output: (idCol, n_removed, text_clean),
    * one row per input doc — clean docs pass through byte-identical as
    * null-span rows.
    *
    * Scale shape: collisions shuffle as (id, j) pairs, never text; the
    * rebuild walks the COMPLEMENT of the merged disjoint intervals —
    * `slice` per gap, `flatten`, one pass — O(words + spans) per doc
    * where the raw-span `exists` filter was O(words × spans). */
  def decontamScrub(df: DataFrame, idCol: String, textCol: String,
                    testShingles: DataFrame, n: Int = 3,
                    margin: Int = 2): DataFrame = {
    require(n >= 1 && margin >= 0, s"bad shingle/margin: n=$n margin=$margin")
    Seq("__dc_j", "__dc_sh", "__dc_lo", "__dc_hi", "__dc_last",
        "__dc_pm", "__dc_fm", "__dc_spans").foreach { c =>
      require(!df.columns.contains(c),
        s"$c is reserved by decontamScrub; drop or rename the input column")
    }
    val spans = decontamSpans(
      decontamHits(df, idCol, textCol, testShingles, n, margin), idCol)
    // HOF-lambda discipline (the Shingles/ChunkRebuild lesson): nothing
    // row-expensive may sit INSIDE a lambda body — Catalyst re-evaluates
    // it per element, and `split(text)` inside `transform` turned the
    // first cut of this rebuild O(words × spans) per doc (measured: the
    // 30%-contaminated skew doc alone cost ~20 s). The lambdas below
    // touch only the tiny merged-span structs; the word array appears
    // once, as a direct argument of the fused two-pointer kernel.
    val nRemoved = aggregate(col("__dc_spans"), lit(0L),
      (acc, sp) => acc + sp.getField("hi") - sp.getField("lo") + 1)
    // spans are sorted and disjoint, so the concatenated sequences are
    // the ascending covered-index list chunk_rebuild requires
    val dropIdxs = flatten(transform(col("__dc_spans"),
      sp => sequence(sp.getField("lo"), sp.getField("hi"))))
    df.join(spans, Seq(idCol), "left")
      .select(col(idCol) +: df.columns.filterNot(c =>
          c == idCol || c == textCol).map(col).toSeq :+
        when(col("__dc_spans").isNull, lit(0L))
          .otherwise(nRemoved).as("n_removed") :+
        when(col("__dc_spans").isNull, col(textCol))
          .otherwise(graft.expressions.ChunkRebuild.chunk_rebuild(
            split(col(textCol), " "), dropIdxs)).as("text_clean"): _*)
  }

  /** Zero-shuffle twin of [[decontamScrub]] for test sets that fit a
    * plan reference (benchmark suites are MBs against a 100 TB corpus —
    * the common case): the whole scrub fuses into ONE per-row kernel
    * ([[graft.expressions.DecontamScrub]] — set probe, ±1 diff-array
    * coverage, single-pass rebuild), so clean AND contaminated docs
    * alike never leave their scan and the plan has zero exchanges.
    * Value-identical to the distributed path (property-pinned). Same
    * output schema: (idCol, other cols…, n_removed, text_clean). */
  def decontamScrubBroadcast(df: DataFrame, idCol: String, textCol: String,
                             testShingles: Iterable[String], n: Int = 3,
                             margin: Int = 2): DataFrame = {
    // sorted entries: a deterministic plan reference, so replays and
    // A/B comparisons see byte-identical plans
    val set = new graft.expressions.DecontamSet(
      testShingles.toArray.distinct.sorted)
    val st = graft.expressions.DecontamScrub.scrub(col(textCol), set, n, margin)
    df.select(col(idCol) +: df.columns.filterNot(c =>
        c == idCol || c == textCol).map(col).toSeq :+
      st.getField("n_removed").as("n_removed") :+
      st.getField("text_clean").as("text_clean"): _*)
  }

  /** Temperature-scaled mixture weights over sources — the multilingual
    * sampling rule of mBERT/XLM-R (Conneau et al. 2020 §3.1): sample
    * source s with probability ∝ p_s^τ where p_s is its share of the
    * corpus token mass. τ < 1 flattens the mixture (upsamples the
    * tail), τ = 1 is natural proportions, τ = 0 uniform. Output per
    * source: mass, its natural share `p`, the temperature-scaled
    * sampling weight `w` (normalized to sum 1), and `boost` = w/p —
    * the rate multiplier a Bernoulli gate ([[hashFrac]] < base · boost)
    * applies per source.
    *
    * Exactness: τ = 0.5 (the default) computes through `sqrt`, which
    * IEEE 754 requires to be CORRECTLY rounded in every engine — so the
    * weights are bit-portable; other τ go through `pow` (faithful to
    * ≤ 1 ulp, not bit-pinned). Scale shape: one partial-agg shuffle
    * keyed by source to a vocabulary-sized frame; both normalizers join
    * back as broadcast single-row frames — the corpus is scanned once
    * and nothing corpus-sized shuffles. */
  def temperatureWeights(df: DataFrame, srcCol: String, massCol: Column,
                         tau: Double = 0.5): DataFrame = {
    require(tau >= 0.0, s"tau must be non-negative: $tau")
    def powTau(c: Column): Column =
      if (tau == 0.5) sqrt(c) else pow(c, lit(tau))
    val bySrc = df.groupBy(col(srcCol)).agg(sum(massCol).as("mass"))
    val tot = bySrc.agg(sum(col("mass")).as("__tw_tot"))
    val withP = bySrc.join(broadcast(tot))
      .withColumn("p", col("mass").cast("double") / col("__tw_tot"))
      .withColumn("__tw_pw", powTau(col("p")))
    val z = withP.agg(sum(col("__tw_pw")).as("__tw_z"))
    withP.join(broadcast(z))
      .select(col(srcCol), col("mass"),
        col("p"),
        (col("__tw_pw") / col("__tw_z")).as("w"),
        (col("__tw_pw") / col("__tw_z") / col("p")).as("boost"))
  }

  /** Distinct-n diversity (Li et al. 2016): per group, the ratio of
    * unique n-grams to total n-grams at n = 1 and n = 2 — the standard
    * corpus-diversity report line (low distinct-2 marks template/
    * boilerplate-heavy sources). Exact counts (the dataset-card
    * contract), not sketches: two wordcount-shaped aggregations —
    * count-distinct shuffles the (group, gram) pairs once, partial
    * aggs collapse repeats map-side. `d2` is null for a group with no
    * bigrams (every document shorter than two tokens). */
  def ngramDiversity(df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val uni = df.select(col(groupCol), explode(tokens(col(textCol))).as("g"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_uni"), countDistinct(col("g")).as("u_uni"))
    val bi = df.select(col(groupCol), explode(shingles(col(textCol), 2)).as("g"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_bi"), countDistinct(col("g")).as("u_bi"))
    uni.join(bi, Seq(groupCol), "left")
      .select(col(groupCol), col("n_uni"), col("u_uni"),
        round(col("u_uni").cast("double") / col("n_uni"), 4).as("d1"),
        coalesce(col("n_bi"), lit(0L)).as("n_bi"),
        coalesce(col("u_bi"), lit(0L)).as("u_bi"),
        round(col("u_bi").cast("double") / col("n_bi"), 4).as("d2"))
  }

  /** Zipf slope per group — the least-squares slope of ln(freq) on
    * ln(rank) over the top `topN` tokens (rank by count desc, token asc
    * for a deterministic tie-break). Natural text sits near −1
    * (Zipf's law); a flat or cliffed curve flags synthetic/templated
    * sources, so this is a one-row-per-source corpus QA signal.
    *
    * Scale shape: the wordcount agg is the only corpus-sized shuffle
    * (map-side combine to the vocabulary); the rank window runs over
    * the VOCABULARY frame, per group — bounded by vocabulary size, not
    * corpus size — and the regression is a closed-form aggregate
    * ((nΣxy − ΣxΣy)/(nΣx² − (Σx)²)) over ≤ topN rows per group. The
    * identical arithmetic runs in the oracle (no engine regr_slope,
    * whose internals could differ). Slope is null for a group with
    * fewer than two distinct tokens. */
  def zipfSlope(df: DataFrame, groupCol: String, textCol: String,
                topN: Int = 1000): DataFrame =
    // ONE regression definition: the histogram form is the daily-tick
    // instrument (DriftOps reads stored counts), this is its from-text
    // convenience — q127's oracle pins the shared arithmetic
    graft.functions.DriftOps.zipfSlopeFromCounts(
      df.select(col(groupCol), explode(tokens(col(textCol))).as("tok"))
        .groupBy(col(groupCol), col("tok")).agg(count(lit(1)).as("cnt")),
      groupCol, "tok", "cnt", topN)

  /** PII patterns for training-data scrubbing. Deliberately RE2-safe
    * (char classes + bounded alternation only — NO lookarounds, which
    * RE2 lacks, and NO `\b`, whose word set is Unicode in java.util.regex
    * but ASCII in RE2 — a latent engine divergence) so the identical
    * pattern runs in Spark (java.util.regex) and the DuckDB oracle (RE2).
    *
    * Boundaries are explicit ASCII character classes, CAPTURED and
    * REINSERTED by the replacement (`$1<IP>$6`), so no neighbor character
    * is eaten. The IP anchors additionally exclude '.', which rejects a
    * 4-octet PREFIX of a longer dotted run ("1.2.3.4.5") outright — the
    * limitation the old `\b` form documented is gone.
    *
    * Because an anchor CONSUMES one neighbor character during matching, a
    * single pass can miss the second of two PII items separated by exactly
    * one character ("1.2.3.4 5.6.7.8": the first match consumes the
    * separating space). Every consumer therefore applies anchored patterns
    * TWICE — pass one reinserts the anchor character, so pass two sees it.
    * Two passes always suffice: after pass one, every missed item borders
    * reinserted text rather than a consumed match. */
  private val Octet = "(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  // Groups: 1 = left anchor, 2 = the IP, 3/4/5 = octet internals, 6 = right anchor.
  val Ipv4Pattern =
    s"(^|[^0-9A-Za-z_.])($Octet(\\.$Octet){3})([^0-9A-Za-z_.]|$$)"
  val Ipv4Replacement = "$1<IP>$6"
  // Groups: 1 = the phone, 2 = right anchor ('+' needs no left anchor).
  val PhonePattern = "(\\+\\d{2}[ -]?\\d{2}[ -]?\\d{4,5}[ -]?\\d{4})([^0-9A-Za-z_]|$)"
  val PhoneReplacement = "<PHONE>$2"

  private def replaceTwice(c: Column, pattern: String, repl: String): Column =
    regexp_replace(regexp_replace(c, pattern, repl), pattern, repl)

  /** Redact emails/IPv4s/phone numbers to typed placeholders — the
    * standard pretraining PII scrub, one codegen regexp chain per row
    * (phones first: an intl phone contains digit runs an IP rule could
    * otherwise bite into; anchored kinds run two passes, see above). */
  def redactPii(text: Column): Column =
    replaceTwice(
      regexp_replace(
        replaceTwice(text, PhonePattern, PhoneReplacement),
        EmailPattern, "<EMAIL>"),
      Ipv4Pattern, Ipv4Replacement)

  /** Count of PII hits per kind, for scrub audits. Counts follow the
    * SAME sequential semantics as [[redactPii]] (phones on raw text,
    * emails on the phone-redacted text, IPs after both; anchored kinds
    * sum their two passes), so the audit always equals the number of
    * replacements actually made — counting every pattern on the raw text
    * would over-report when matches overlap (e.g. "1.2.3.4@x.co" is one
    * email, zero IP redactions). */
  def piiCounts(text: Column): (Column, Column, Column) = {
    def hits(c: Column, p: String) = size(regexp_extract_all(c, lit(p), lit(0)))
    val phone1 = regexp_replace(text, PhonePattern, PhoneReplacement)
    val afterPhone = regexp_replace(phone1, PhonePattern, PhoneReplacement)
    val afterEmail = regexp_replace(afterPhone, EmailPattern, "<EMAIL>")
    val ip1 = regexp_replace(afterEmail, Ipv4Pattern, Ipv4Replacement)
    (hits(afterPhone, EmailPattern),
      hits(afterEmail, Ipv4Pattern) + hits(ip1, Ipv4Pattern),
      hits(text, PhonePattern) + hits(phone1, PhonePattern))
  }

  /** One lexicon entry (word OR multi-word phrase), normalized the way
    * the text side is: lowercase, non-alphanumeric runs to one space,
    * space-padded so containment on the padded normalized text IS a
    * word-boundary match ("ass" never fires inside "class"). */
  private def lexiconEntry(e: String): Option[String] = {
    // Locale.ROOT: a Turkish-locale driver JVM lowercases "BIG" to
    // "bıg" (dotless ı) under the default-locale toLowerCase, and the
    // entry silently never matches Spark's locale-independent lower()
    // on the text side (review-found)
    val n = e.toLowerCase(java.util.Locale.ROOT)
      .replaceAll("[^a-z0-9]+", " ").trim
    if (n.isEmpty) None else Some(s" $n ")
  }

  /** C4's word-lexicon gate: how many DISTINCT lexicon entries (words
    * or phrases, boundary-exact, case-insensitive) a document contains
    * — `=== 0` is the survival predicate ([[dropByLexicon]]), the
    * count is the scrub audit. Normalization is builtin codegen
    * (lower + one regexp_replace); matching is a single Aho–Corasick
    * pass ([[graft.expressions.MultiPatternCount]]) — O(length) per
    * row however large the lexicon, where a regex alternation or a
    * contains-OR pays O(entries × length). Scan-local, zero
    * exchanges. */
  def lexiconHits(text: Column, lexicon: Seq[String]): Column = {
    val entries = lexicon.flatMap(lexiconEntry).distinct
    require(entries.nonEmpty, "lexicon is empty after normalization")
    val norm = concat(lit(" "),
      regexp_replace(lower(text), "[^a-z0-9]+", " "), lit(" "))
    graft.expressions.MultiPatternCount.multi_pattern_count(norm, entries)
  }

  /** Drop documents containing ANY lexicon entry — the C4 policy. */
  def dropByLexicon(df: DataFrame, textCol: String,
                    lexicon: Seq[String]): DataFrame =
    df.filter(lexiconHits(col(textCol), lexicon) === 0)
}
