package graft.queries

import graft.Tables
import graft.expressions.GopherStats
import graft.functions.{Bpe, BpeVocab, DedupOps, TextOps, TripletOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Training-data pipeline operators over `documents` / `embeddings`:
  * deduplication (exact, MinHash+LSH, SimHash, Jaccard), text analysis
  * (language-ID, quality, token counting, fingerprinting) and similarity
  * search (brute-force cosine, LSH-bucketed, IVF centroids). */
object TrainingData {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  /** The BPE vocabulary the token-denominated queries (q110–q112) use: a
    * 48-merge PREFIX of the committed default — the fixture corpus has a
    * 31-word vocabulary, so the full merge list memorizes every word
    * into one token and the queries would degenerate to word counting.
    * A prefix is itself a valid BPE vocabulary (training is sequential). */
  private lazy val bpeVocab48 = BpeVocab.default.take(48)

  /** Shared oracle CTE: the q130/q131 quality classifier recomputed
    * end-to-end in SQL — train (add-1 NB log-odds over 1024 hashed
    * unigram+bigram buckets, class prior over docs) and score (per-doc
    * Σ c·llr + prior, rounded 4 dp). Mirrors
    * [[graft.functions.QualityClassifier]]: the bucket hash is q104's
    * md5-hex-15 idiom, grams follow split-on-single-space with L−n+1
    * windows. Yields `clf_scored(doc_id, score)`. */
  private val clfScoredCte =
    """clfw AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS w
      |  FROM documents),
      |clfg AS (
      |  SELECT doc_id, source, unnest(w) AS g FROM clfw
      |  UNION ALL
      |  SELECT doc_id, source,
      |    unnest(list_transform(range(1, greatest(len(w), 1)),
      |      i -> w[i] || ' ' || w[i+1])) AS g
      |  FROM clfw),
      |clff AS (
      |  SELECT doc_id, source,
      |    CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 1024 AS b
      |  FROM clfg),
      |clfm AS (SELECT b,
      |    SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS ct,
      |    SUM(CASE WHEN source IN ('src0','src1') THEN 0 ELSE 1 END) AS cr
      |  FROM clff GROUP BY b),
      |clft AS (SELECT SUM(ct) AS nt, SUM(cr) AS nr FROM clfm),
      |clfd AS (SELECT
      |    SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS dt,
      |    SUM(CASE WHEN source IN ('src0','src1') THEN 0 ELSE 1 END) AS dr
      |  FROM documents),
      |clfwts AS (SELECT b,
      |    ln((ct + 1) / CAST(nt + 1024 AS DOUBLE)) -
      |    ln((cr + 1) / CAST(nr + 1024 AS DOUBLE)) AS llr
      |  FROM clfm, clft),
      |clfdoc AS (SELECT doc_id, b, COUNT(*) AS c FROM clff GROUP BY 1, 2),
      |clf_scored AS (
      |  SELECT doc_id,
      |    round(ln(CAST(dt AS DOUBLE)) - ln(CAST(dr AS DOUBLE)) +
      |      SUM(c * llr), 4) AS score
      |  FROM clfdoc JOIN clfwts USING (b), clfd
      |  GROUP BY doc_id, dt, dr)""".stripMargin

  /** Shared oracle CTE: 8-hash MinHash signature over 3-word shingles.
    * Each lane is the top 60 bits of md5(seed|shingle) as BIGINT —
    * mirrors DedupOps.h64 (fixed-width hex ⇒ numeric min == lex min). */
  private val sigCte = {
    val lanes = (0 to 7).map(i =>
      s"min(CAST(('0x' || substr(md5($i || '|' || shingle), 1, 15)) AS BIGINT)) AS h$i")
      .mkString(", ")
    s"""sh AS (
       |  SELECT DISTINCT doc_id,
       |    unnest(list_transform(range(1, greatest(len(words)-1, 1)),
       |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS shingle
       |  FROM (SELECT doc_id, string_split(text, ' ') AS words FROM documents)),
       |sig AS (
       |  SELECT doc_id, $lanes
       |  FROM sh GROUP BY doc_id)""".stripMargin
  }

  /** Shared oracle CTE set for the BPE queries (q110–q112): an
    * INDEPENDENT from-scratch BPE in SQL, checked against the Scala
    * encoder token-for-token. `san` = ASCII-sanitized docs, `docw` =
    * doc→word stream, `enc` = each distinct word as a 0x1F-separator-
    * encoded symbol string, `bpe` = the recursive greedy merge loop,
    * `term` = terminal states with token counts (= half the separator
    * count). The ordered merge-list literal is built from the SAME
    * committed merges resource the Spark expression loads, so there is
    * one source of truth for the vocabulary. Words whose best applicable
    * merge is NULL leave the recursion; `term` re-identifies them by the
    * same emptiness test. */
  /** Shared sanitize + pretokenize head of every tokenizer oracle (the
    * q110 shape): `san(doc_id, lang, t)` ASCII-projected text,
    * `docw(doc_id, w)` pretokens WITH multiplicity. */
  private val sanDocwCte: String =
    """san AS (SELECT doc_id, lang,
      |        regexp_replace(text, '[^ -~]', '', 'g') AS t FROM documents),
      |docw AS (SELECT doc_id,
      |  unnest(regexp_extract_all(t, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]')) AS w
      |  FROM san)""".stripMargin

  /** Independent unigram-LM Viterbi in SQL: enumerate EVERY vocabulary
    * segmentation of each distinct word as a recursive path walk
    * (pos strictly advances so it terminates; word lengths are bounded,
    * so the path count stays small), then keep the max-log-likelihood
    * path, fewest-pieces on ties — exactly the (ll, ntok) part of the
    * Spark Viterbi's tie rule, and the only part that can affect a
    * COUNT (equal-ll equal-count ties are count-invariant). The piece
    * logprobs interpolate from the SAME committed vocab resource the
    * Spark side loads, as shortest-repr decimal literals — both
    * engines parse them to bit-identical doubles, and both accumulate
    * a path's ll left-to-right, so comparisons agree bit-for-bit.
    * Yields `ubest(w, ntok)`; expects `docw`. */
  private lazy val unigramCte: String = {
    def sq(s: String) = "'" + s.replace("'", "''") + "'"
    val vs = graft.functions.UnigramVocab.default.pieces
      .map { case (p, lp) => s"(${sq(p)}, $lp)" }.mkString(", ")
    s"""uv(piece, lp) AS (SELECT piece, CAST(lp AS DOUBLE)
       |  FROM (VALUES $vs) t(piece, lp)),
       |uwords AS (SELECT DISTINCT w FROM docw),
       |paths AS (
       |  SELECT w, 0 AS pos, CAST(0 AS DOUBLE) AS ll, 0 AS ntok FROM uwords
       |  UNION ALL
       |  SELECT p.w, p.pos + length(v.piece), p.ll + v.lp, p.ntok + 1
       |  FROM paths p JOIN uv v
       |    ON substr(p.w, p.pos + 1, length(v.piece)) = v.piece
       |  WHERE p.pos < length(p.w)),
       |ubest AS (
       |  SELECT w, ntok FROM (
       |    SELECT w, ntok,
       |      row_number() OVER (PARTITION BY w ORDER BY ll DESC, ntok ASC)
       |        AS rn
       |    FROM paths WHERE pos = length(w)) WHERE rn = 1)""".stripMargin
  }

  /** Independent WordPiece greedy MaxMatch in SQL: every (word,
    * position, piece) match materializes as a plain join (role fixed
    * by position: head pieces at 0, "##" continuations after), the
    * greedy choice is max(next-position) per (word, position) —
    * computed OUTSIDE the recursion as an ordinary aggregate, which is
    * what makes a greedy walk expressible in a recursive CTE — and the
    * walk just follows that function. A word whose walk dead-ends
    * before its last character never reaches pos = length(w) and
    * COALESCEs to 1: the whole-word [UNK] rule the Spark kernel pins.
    * Piece literals come from the SAME committed vocab resource the
    * Spark expression loads. Yields `wbest(w, ntok)`; expects `docw`. */
  private lazy val wordpieceCte: String = {
    def sq(s: String) = "'" + s.replace("'", "''") + "'"
    val vs = graft.functions.WordPieceVocab.default.pieces
      .filterNot(_ == graft.functions.WordPieceVocab.Unk)
      .map(p => s"(${sq(p)})").mkString(", ")
    s"""wpv(piece) AS (SELECT piece FROM (VALUES $vs) t(piece)),
       |wpr AS (SELECT piece,
       |    CASE WHEN piece LIKE '##%' THEN substr(piece, 3) ELSE piece END
       |      AS raw,
       |    (piece LIKE '##%') AS cont FROM wpv),
       |wwords AS (SELECT DISTINCT w FROM docw),
       |wm AS (
       |  SELECT b.w, b.pos, b.pos + length(r.raw) AS np
       |  FROM (SELECT w, unnest(range(0, length(w))) AS pos FROM wwords) b
       |  JOIN wpr r
       |    ON substr(b.w, b.pos + 1, length(r.raw)) = r.raw
       |   AND ((b.pos = 0) = (NOT r.cont))),
       |wg AS (SELECT w, pos, max(np) AS np FROM wm GROUP BY w, pos),
       |wwalk AS (
       |  SELECT w, 0 AS pos, 0 AS ntok FROM wwords
       |  UNION ALL
       |  SELECT k.w, g.np, k.ntok + 1
       |  FROM wwalk k JOIN wg g ON g.w = k.w AND g.pos = k.pos
       |  WHERE k.pos < length(k.w)),
       |wbest AS (
       |  SELECT w, COALESCE(max(CASE WHEN pos = length(w) THEN ntok END), 1)
       |    AS ntok
       |  FROM wwalk GROUP BY w)""".stripMargin
  }

  /** q153's injected license headers, one per detector branch
    * (doc_id % 10 selects): SPDX tag, MIT, Apache-2.0, BSD-3, BSD-2,
    * GPL-3, GPL-2, MPL-2.0, ISC, none. Shared verbatim with the oracle
    * so both engines inject identical text. */
  private[queries] val licenseHeaders: Seq[String] = Seq(
    "// SPDX-License-Identifier: MIT ",
    "/* Permission is hereby granted, free of charge, to any person " +
      "obtaining a copy of this software */ ",
    "// Licensed under the Apache License, Version 2.0 (the License) ",
    "/* Redistribution and use in source and binary forms, with or " +
      "without modification, are permitted. Neither the name of the " +
      "project may be used to endorse derived products. */ ",
    "/* Redistribution and use in source and binary forms, with or " +
      "without modification, are permitted. */ ",
    "// This program is free software under the GNU General Public " +
      "License, version 3 or later. ",
    "// This program is free software under the GNU General Public " +
      "License, version 2 of the License. ",
    "/* This Source Code Form is subject to the terms of the Mozilla " +
      "Public License, v. 2.0. */ ",
    "// Permission to use, copy, modify, and/or distribute this " +
      "software for any purpose is hereby granted. ",
    "")

  /** q155's in-file SPDX EXPRESSION headers (doc_id % 7 selects), one
    * per dual-licensing resolution branch: OR with a permissive side
    * (keep), OR all-copyleft (reject), AND all-permissive (keep), AND
    * with a copyleft conjunct (reject), WITH exception (keep — rides
    * the license), parenthesized mixed (keep via the any/all policy),
    * unknown LicenseRef (reject). Shared verbatim with the oracle.
    * Operators uppercase per the SPDX spec — the detector is
    * deliberately case-sensitive on them so tag-adjacent prose is
    * never swallowed. */
  private[queries] val spdxExprHeaders: Seq[String] = Seq(
    "// SPDX-License-Identifier: MIT OR GPL-2.0-only ",
    "// SPDX-License-Identifier: GPL-2.0-only OR GPL-3.0-only ",
    "// SPDX-License-Identifier: Apache-2.0 AND MIT ",
    "// SPDX-License-Identifier: Apache-2.0 AND GPL-3.0-only ",
    "// SPDX-License-Identifier: Apache-2.0 WITH LLVM-exception ",
    "// SPDX-License-Identifier: (MIT OR Apache-2.0) AND ISC ",
    "// SPDX-License-Identifier: LicenseRef-custom-internal ")

  /** DuckDB mirror of [[graft.functions.TextOps.licenseDetect]] — the
    * SPDX EXPRESSION capture (uppercase operators, paren strip,
    * whitespace normalize) then the phrase chain — parameterized on the
    * raw/lowercased text column names so the q155 oracle resolves
    * exactly the strings the engine does. */
  private def licenseDetectSql(t: String, lt: String): String = {
    val pat = "SPDX-License-Identifier:[ \\t]*([A-Za-z0-9.+\\-()]+" +
      "(?:[ \\t]+(?:OR|AND|WITH)[ \\t]+[A-Za-z0-9.+\\-()]+)*)"
    s"""CASE
      WHEN regexp_extract($t, '$pat', 1) <> ''
        THEN trim(regexp_replace(regexp_replace(
          lower(regexp_extract($t, '$pat', 1)), '[()]', ' ', 'g'),
          '\\s+', ' ', 'g'))
      WHEN contains($lt, 'permission is hereby granted, free of charge')
        THEN 'mit'
      WHEN contains($lt, 'apache license, version 2.0')
        OR contains($lt, 'apache license version 2.0') THEN 'apache-2.0'
      WHEN contains($lt, 'redistribution and use in source and binary forms')
        THEN CASE WHEN contains($lt, 'neither the name')
          THEN 'bsd-3-clause' ELSE 'bsd-2-clause' END
      WHEN contains($lt, 'gnu general public license')
        AND contains($lt, 'version 3') THEN 'gpl-3.0'
      WHEN contains($lt, 'gnu general public license')
        AND contains($lt, 'version 2') THEN 'gpl-2.0'
      WHEN contains($lt, 'mozilla public license, v. 2.0')
        OR contains($lt, 'mozilla public license version 2.0')
        THEN 'mpl-2.0'
      WHEN contains($lt, 'permission to use, copy, modify, and/or distribute')
        THEN 'isc'
      ELSE 'none' END"""
  }

  /** Shared q151/q152 ICP ordering in SQL: the greedy visited-set walk
    * is made expressible in a recursive CTE by precomputing each node's
    * ORDERED neighbor list as a struct list (aggregation OUTSIDE the
    * recursion), so the recursive step is pure scalar list ops —
    * first-unvisited = list_filter(nl, unvisited)[1]. Same trick for
    * the centroid chain over labels. Yields `icpord(vec_id, label,
    * label_rank, pos, prev_sim, global_pos)`. */
  private lazy val icpOrderCte: String =
    s"""pairs AS (
       |  SELECT a.label, a.vec_id AS u, b.vec_id AS v,
       |    ${duckCos("a", "b")} AS s
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id <> b.vec_id),
       |nbrs AS (
       |  SELECT label, u, list({'v': v, 's': s} ORDER BY s DESC, v) AS nl
       |  FROM pairs GROUP BY label, u),
       |starts AS (SELECT label, min(vec_id) AS v0 FROM embeddings
       |           GROUP BY label),
       |walk(label, cur, pos, prev_sim, visited) AS (
       |  SELECT label, v0, 0, CAST(NULL AS DOUBLE), [v0] FROM starts
       |  UNION ALL
       |  SELECT w.label,
       |    list_filter(n.nl, x -> NOT list_contains(w.visited, x.v))[1].v,
       |    w.pos + 1,
       |    list_filter(n.nl, x -> NOT list_contains(w.visited, x.v))[1].s,
       |    list_append(w.visited,
       |      list_filter(n.nl, x -> NOT list_contains(w.visited, x.v))[1].v)
       |  FROM walk w JOIN nbrs n ON n.label = w.label AND n.u = w.cur
       |  WHERE len(list_filter(n.nl,
       |    x -> NOT list_contains(w.visited, x.v))) > 0),
       |icents AS (
       |  SELECT label, dim, round(avg(CAST(x AS DOUBLE)), 4) AS c
       |  FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
       |    unnest(embedding) AS x FROM embeddings)
       |  GROUP BY label, dim),
       |cpairs AS (
       |  SELECT a.label AS u, b.label AS v,
       |    round(sum(a.c * b.c) /
       |      (sqrt(sum(a.c * a.c)) * sqrt(sum(b.c * b.c))), 4) AS s
       |  FROM icents a JOIN icents b ON a.dim = b.dim AND a.label <> b.label
       |  GROUP BY a.label, b.label),
       |cnbrs AS (SELECT u, list({'v': v, 's': s} ORDER BY s DESC, v) AS nl
       |          FROM cpairs GROUP BY u),
       |cwalk(cur, rnk, visited) AS (
       |  SELECT min(label), 0, [min(label)] FROM embeddings
       |  UNION ALL
       |  SELECT list_filter(n.nl, x -> NOT list_contains(w.visited, x.v))[1].v,
       |    w.rnk + 1,
       |    list_append(w.visited,
       |      list_filter(n.nl, x -> NOT list_contains(w.visited, x.v))[1].v)
       |  FROM cwalk w JOIN cnbrs n ON n.u = w.cur
       |  WHERE len(list_filter(n.nl,
       |    x -> NOT list_contains(w.visited, x.v))) > 0),
       |isizes AS (SELECT label, count(*) AS m FROM embeddings GROUP BY label),
       |ioffs AS (
       |  SELECT c.cur AS label, c.rnk,
       |    CAST(COALESCE(sum(s.m) OVER (ORDER BY c.rnk
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS off
       |  FROM cwalk c JOIN isizes s ON s.label = c.cur),
       |icpord AS (
       |  SELECT CAST(w.cur AS BIGINT) AS vec_id,
       |    CAST(w.label AS BIGINT) AS label,
       |    o.rnk AS label_rank, w.pos, w.prev_sim,
       |    CAST(o.off + w.pos AS BIGINT) AS global_pos
       |  FROM walk w JOIN ioffs o ON o.label = w.label)""".stripMargin

  private lazy val bpeCte: String = {
    val sep = "\u001f"
    def sq(s: String) = "'" + s.replace("'", "''") + "'"
    val ml = bpeVocab48.merges.map { case (a, b) =>
      s"{'p': ${sq(sep + a + sep + sep + b + sep)}, 'm': ${sq(sep + a + b + sep)}}"
    }.mkString("[", ", ", "]")
    s"""$sanDocwCte,
       |ml(l) AS (SELECT $ml),
       |words AS (SELECT DISTINCT w FROM docw),
       |enc AS (SELECT w, chr(31) || array_to_string(
       |    list_transform(range(1, length(w)+1), i -> w[i]), chr(31)||chr(31)) ||
       |    chr(31) AS s FROM words),
       |bpe AS (
       |  SELECT w, s FROM enc
       |  UNION ALL
       |  SELECT w, replace(s, best.p, best.m) AS s
       |  FROM (SELECT w, s, list_filter(ml.l, x -> contains(s, x.p))[1] AS best
       |        FROM bpe, ml)
       |  WHERE best IS NOT NULL),
       |term AS (
       |  SELECT w, (length(s) - length(replace(s, chr(31), ''))) // 2 AS n
       |  FROM bpe, ml WHERE len(list_filter(ml.l, x -> contains(s, x.p))) = 0)""".stripMargin
  }

  /** Shared oracle CTE: 16-bit SimHash fingerprints (mirrors
    * DedupOps.simhash16 — per-hex-digit ±1 votes over md5(token)). */
  private val simhashCte = {
    val votes = (1 to 16).map(j =>
      s"CASE WHEN sum(CASE WHEN substr(md5(w), $j, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END")
      .mkString(" || ")
    s"""stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
       |  FROM documents),
       |sim AS (
       |  SELECT doc_id, $votes AS simhash
       |  FROM stok GROUP BY doc_id)""".stripMargin
  }

  /** q136's fixed test lexicon (a word + a phrase + a word, all present
    * in the synthetic corpus vocabulary so both branches of the gate
    * fire) — ONE definition feeds the Spark side and the oracle. */
  private val q136Lexicon = Seq("slow", "big table", "vector")

  private val bandsCte =
    """bands AS (
      |  SELECT doc_id, 0 AS band_idx, md5(h0 || '|' || h1) AS band_key FROM sig
      |  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sig
      |  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sig
      |  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sig),
      |pairs AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b USING (band_idx, band_key)
      |  WHERE a.doc_id < b.doc_id)""".stripMargin

  /** Shared q137/q139 oracle CTE: the Gopher per-doc counters over the
    * tail-injected text (mirrors `gopherTail` + the GopherStats
    * byte-walk). Yields relation `s(doc_id, n_words, word_chars,
    * alpha_words, n_lines, bullet_lines, ellipsis_lines, hash_chars,
    * ell_runs, stop_present)`. */
  private val gopherDocCte: String = {
    val stopSum = GopherStats.Stops
      .map(w => s"(CASE WHEN list_contains(words, '$w') THEN 1 ELSE 0 END)")
      .mkString(" + ")
    s"""inj AS (
       |  SELECT doc_id, text ||
       |    CASE CAST(doc_id % 3 AS INT)
       |      WHEN 0 THEN chr(10) || '- first bullet point' || chr(10) ||
       |        '- second bullet point' || chr(10) ||
       |        'that should have been it with the rest'
       |      WHEN 1 THEN chr(10) || 'a trailing thought...' || chr(10) ||
       |        '#tag line with more...' || chr(10) || 'the end of it...'
       |      ELSE chr(10) || 'that line will have the words' || chr(10) ||
       |        'with a plain closing'
       |    END AS t
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(t, '[ \n]'), w -> w <> '') AS words,
       |    string_split(t, chr(10)) AS lines,
       |    len(t) - len(replace(t, '#', '')) AS hash_chars,
       |    (len(t) - len(replace(t, '...', ''))) // 3 AS ell_runs
       |  FROM inj),
       |s AS (
       |  SELECT doc_id,
       |    len(words) AS n_words,
       |    list_sum(list_transform(words, w -> len(w))) AS word_chars,
       |    len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS alpha_words,
       |    len(lines) AS n_lines,
       |    len(list_filter(lines, l -> ltrim(l, ' ') LIKE '-%'
       |      OR ltrim(l, ' ') LIKE '*%')) AS bullet_lines,
       |    len(list_filter(lines, l -> rtrim(l, ' ') LIKE '%...')) AS ellipsis_lines,
       |    hash_chars, ell_runs,
       |    ($stopSum) AS stop_present
       |  FROM c)""".stripMargin
  }

  /** The Gopher keep decision over `s`'s columns (0/1) — shared by the
    * q137 gate and q139's keep-rate aggregation. */
  private val gopherKeepSql: String =
    """CASE WHEN n_words BETWEEN 50 AND 100000
      |    AND CAST(word_chars AS DOUBLE) / n_words >= 3.0
      |    AND CAST(word_chars AS DOUBLE) / n_words <= 10.0
      |    AND CAST(hash_chars AS DOUBLE) / n_words <= 0.1
      |    AND CAST(ell_runs AS DOUBLE) / n_words <= 0.1
      |    AND CAST(bullet_lines AS DOUBLE) / n_lines <= 0.9
      |    AND CAST(ellipsis_lines AS DOUBLE) / n_lines <= 0.3
      |    AND CAST(alpha_words AS DOUBLE) / n_words >= 0.8
      |    AND stop_present >= 2 THEN 1 ELSE 0 END""".stripMargin

  /** The 80/90 train/test DOC split — the single source of the split
    * constants for the whole decontamination family (q85/q91 member-
    * ship, q138's scrub): a drifting copy would semi-join a train side
    * against a test set from a DIFFERENT partition (review-found). */
  private def contaminationSplit(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
      .withColumn("pct", TextOps.hashBucket(col("doc_id")))
    (docs.filter(col("pct") < 80), docs.filter(col("pct") >= 90))
  }

  /** Shared q85/q91 inputs: (train (doc_id, sh) stream, distinct test
    * shingle set) over q72's hash-bucket split — ONE definition so the
    * plain and bloom-prefiltered decontamination paths can never drift. */
  private def contaminationInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val (train, test) = contaminationSplit(s, dir)
    val trainSh = train
      .select(col("doc_id"), explode(TextOps.shingles(col("text"), 3)).as("sh"))
    val testSh = test
      .select(explode(TextOps.shingles(col("text"), 3)).as("sh")).distinct()
    (trainSh, testSh)
  }

  private def hitCounts(hits: DataFrame): DataFrame =
    hits.groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("n_hit_shingles"))
      .orderBy(col("doc_id"))

  /** One oracle for q85 AND q91 (results must be identical by design). */
  private val contaminationOracle: String =
    """WITH b AS (
      |  SELECT doc_id, string_split(text, ' ') AS words,
      |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
      |      1, 15)) AS BIGINT) % 100 AS pct
      |  FROM documents),
      |tr AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(words)-1, 1)),
      |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
      |  FROM b WHERE pct < 80),
      |te AS (
      |  SELECT DISTINCT
      |    unnest(list_transform(range(1, greatest(len(words)-1, 1)),
      |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
      |  FROM b WHERE pct >= 90)
      |SELECT doc_id, COUNT(DISTINCT sh) AS n_hit_shingles
      |FROM tr WHERE sh IN (SELECT sh FROM te)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def duckDot(a: String, b: String): String =
    s"list_sum(list_transform(range(1,65), i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))"

  private def duckNorm(a: String): String =
    s"sqrt(list_sum(list_transform(range(1,65), i -> CAST($a.embedding[i] AS DOUBLE) * CAST($a.embedding[i] AS DOUBLE))))"

  private def duckCos(a: String, b: String): String =
    s"round(${duckDot(a, b)} / (${duckNorm(a)} * ${duckNorm(b)}), 4)"

  /** Shared q97/q103 cluster frame: exact cosine pairs at the q67
    * threshold → transitive closure → (vec_id, cluster), singletons
    * keeping their own id. ONE definition so the cluster ids q103
    * selects keepers from can never drift from the ones q97 reports. */
  private def semanticClusters(s: SparkSession, dir: String): DataFrame = {
    val pairs = defs("q67_vector_neardup_exact")(s, dir)
      .select(col("id_a"), col("id_b"))
    val cc = DedupOps.connectedComponents(pairs)
    t(s, dir, "embeddings").select(col("vec_id"))
      .join(cc.withColumnRenamed("node", "vec_id"), Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("comp"), col("vec_id")).as("cluster"))
  }

  /** Shared q69/q105/q116 verified text near-dup clusters: MinHash →
    * LSH candidates → exact Jaccard ≥ 0.8 → connected components →
    * (doc_id, cluster_id) with singletons as their own cluster — ONE
    * definition (mirroring the shared `textClusterCte` oracle body) so
    * the three consumers can never drift onto different clusterings. */
  private def textNearDupClusters(docs: DataFrame): DataFrame = {
    val verified = DedupOps.jaccardForPairs(docs, "doc_id", "text",
        DedupOps.lshCandidatePairs(docs, "doc_id", "text"))
      .filter(col("jaccard") >= 0.8)
    val comps = DedupOps.connectedComponents(verified)
      .withColumnRenamed("node", "doc_id")
    docs.select(col("doc_id")).join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
  }

  /** Shared q142/q143 calibration frame: the q130 classifier's 4-dp
    * scores rolled into a (source, score) TOKEN-MASS value histogram
    * (q102's trick — the corpus scans once into a bounded frame) with
    * per-source descending cumulative mass and totals. ONE definition
    * so the reported calibration (q142) and the gate that applies it
    * (q143) can never disagree about where a threshold sits. */
  /** The q130/q142/q143 classifier fit — factored so q143 trains ONCE
    * (calibrating and gating with different models would be a silent
    * nonsense; training twice is also a whole extra corpus pass). */
  private def calibrationModel(s: SparkSession, dir: String)
      : graft.functions.QualityClassifier.Model =
    graft.functions.QualityClassifier.train(t(s, dir, "documents"), "text",
      col("source").isin("src0", "src1"))

  private def calibrationFrame(s: SparkSession, dir: String,
      model: graft.functions.QualityClassifier.Model): DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val docs = t(s, dir, "documents")
    val scored = docs.select(col("source"),
      round(model.scoreCol(col("text")), 4).as("score"),
      size(split(col("text"), " ")).cast("long").as("n_tok"))
    scored.groupBy(col("source"), col("score"))
      .agg(sum(col("n_tok")).as("mass"))
      .withColumn("cum", sum(col("mass")).over(
        W.partitionBy(col("source")).orderBy(col("score").desc)
          .rowsBetween(W.unboundedPreceding, W.currentRow)))
      .withColumn("total", sum(col("mass")).over(
        W.partitionBy(col("source"))))
  }

  /** q137/q139 shared line-rule variance tail, INJECTED
    * deterministically from doc_id (the q93 PII pattern: the flat
    * synthetic corpus has no newlines/bullets/ellipses, so the Gopher
    * line rules would be vacuous on it). Tails chosen so every rule
    * FIRES somewhere and some docs still pass: %3==0/2 carry ≥2
    * stopwords (pass iff the natural word count clears 50); %3==1 is
    * ellipsis-heavy (3/4 lines) and is correctly rejected by the <30%
    * ellipsis-line rule. ONE definition (mirrored by the shared oracle
    * CTE) so the gate query and the domain rollup can never score the
    * same document under different texts. */
  private val gopherTail =
    when(pmod(col("doc_id"), lit(3)) === 0,
      lit("\n- first bullet point\n- second bullet point\nthat should have been it with the rest"))
    .when(pmod(col("doc_id"), lit(3)) === 1,
      lit("\na trailing thought...\n#tag line with more...\nthe end of it..."))
    .otherwise(lit("\nthat line will have the words\nwith a plain closing"))

  /** q145's repetition-variance tail (the q137 pattern, its own const:
    * the flat synthetic corpus has no repeated lines/paragraphs/long
    * n-grams, so the repetition rules would be vacuous). Branch %4:
    * 0 = three identical LINES (dup-line rules fire); 1 = a duplicated
    * PARAGRAPH (para rules, plus the empty-line dup the \n\n split
    * implies); 2 = a "big table"×5 run (top-2-gram rule, with doc
    * LENGTH deciding keep — short docs reject, long ones absorb it);
    * 3 = a plain clean tail. Mirrored verbatim by the oracle CASE. */
  private val repetitionTail =
    when(pmod(col("doc_id"), lit(4)) === 0,
      lit("\nrepeat line alpha beta\nrepeat line alpha beta\nrepeat line alpha beta"))
    .when(pmod(col("doc_id"), lit(4)) === 1,
      lit("\n\nshared paragraph content words\n\nshared paragraph content words"))
    .when(pmod(col("doc_id"), lit(4)) === 2,
      lit(" big table big table big table big table big table"))
    .otherwise(lit(" and a plain trailing remark"))

  /** q147's line-structure variance tail (the q137/q145 pattern): the
    * flat corpus has no newlines or punctuation, so the C4 line rules
    * would be vacuous. Branch %5: 0 = five proper sentences plus one
    * too-short line (page KEEPS, short line drops); 1 = a javascript
    * line plus one sentence (line drops, page under 5 sentences);
    * 2 = a curly-brace code line (page marker drop); 3 = lorem-ipsum
    * filler (page marker drop, case-insensitive); 4 = plain
    * unpunctuated tail (no kept lines). Mirrored by the oracle CASE. */
  private val c4Tail =
    when(pmod(col("doc_id"), lit(5)) === 0,
      lit("\nFirst full sentence arrives right now.\nShort line.\n" +
        "The second sentence is also here.\nA third sentence follows " +
        "the second one.\nThe fourth sentence looks quite healthy.\n" +
        "Finally the fifth sentence closes it."))
    .when(pmod(col("doc_id"), lit(5)) === 1,
      lit("\nJavascript must be enabled to continue.\n" +
        "Only one proper sentence remains here."))
    .when(pmod(col("doc_id"), lit(5)) === 2,
      lit("\ncode block follows { now }\nA sentence after the brace appears."))
    .when(pmod(col("doc_id"), lit(5)) === 3,
      lit("\nLorem ipsum dolor sit amet tonight.\n" +
        "The page copies filler text sadly."))
    .otherwise(lit(" plain trailing words without punctuation"))

  /** q148's code-shape variance tail (the q137/q145/q147 pattern): the
    * flat prose corpus has no newlines, so The Stack's line-length and
    * XML rules would be vacuous. A 40-char prefix of the real text
    * keeps corpus variance in every counter; branch %5 then exercises
    * exactly one rule each: 0 = short alphanumeric code lines (KEEP);
    * 1 = one 1002-char line amid enough short lines that only the
    * max-line rule fires; 2 = three 160-char lines (only the average
    * rule fires); 3 = two 90-char punctuation-only lines (only the
    * alnum rule fires); 4 = an XML declaration at char position ≤ 100
    * (only the XML rule fires). Mirrored by the oracle CASE. */
  private val stackTail =
    when(pmod(col("doc_id"), lit(5)) === 0,
      lit("\nint main() { return 0; }\nlet x = 42;\nprintln(done)"))
    .when(pmod(col("doc_id"), lit(5)) === 1,
      concat(lit("\n"), repeat(lit("a1"), 501), repeat(lit("\nsh rt ln"), 10)))
    .when(pmod(col("doc_id"), lit(5)) === 2,
      repeat(concat(lit("\n"), repeat(lit("ab c"), 40)), 3))
    .when(pmod(col("doc_id"), lit(5)) === 3,
      repeat(concat(lit("\n"), repeat(lit("-= "), 30)), 2))
    .otherwise(lit("\n<?xml version=\"1.0\"?>\nAnd a short alnum line here"))

  /** q101/q107 language-share targets — ONE definition so the composed
    * recipe can never drift from the standalone resampler. The oracles
    * enumerate the same five langs explicitly with NO ELSE branch: an
    * unknown lang draws NULL weight and drops in BOTH engines. */
  private val mixWeights = typedLit(Map(
    "en" -> 0.30, "de" -> 0.20, "es" -> 0.20, "fr" -> 0.15, "zh" -> 0.15))

  /** Shared q69/q105 oracle CTE body (follows `$sigCte, $bandsCte`):
    * exact Jaccard over the LSH pairs → edges → recursive closure.
    * Yields relation `comp(doc_id, cluster)` for verified text
    * near-dup clusters. */
  private def textClusterCte: String =
    """tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
      |  FROM documents),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
      |inter AS (
      |  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
      |  FROM pairs p
      |  JOIN tok ta ON ta.doc_id = p.id_a
      |  JOIN tok tb ON tb.doc_id = p.id_b AND tb.token = ta.token
      |  GROUP BY p.id_a, p.id_b),
      |jac AS (
      |  SELECT p.id_a, p.id_b,
      |    CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
      |      (sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS jaccard
      |  FROM pairs p
      |  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
      |  JOIN sizes sa ON sa.doc_id = p.id_a
      |  JOIN sizes sb ON sb.doc_id = p.id_b),
      |edges AS (
      |  SELECT id_a AS a, id_b AS b FROM jac WHERE jaccard >= 0.8
      |  UNION SELECT id_b, id_a FROM jac WHERE jaccard >= 0.8),
      |reach(a, b) AS (
      |  SELECT a, b FROM edges
      |  UNION
      |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
      |comp AS (
      |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM reach GROUP BY a)""".stripMargin

  /** Shared q55/q105 oracle expression for the composite quality
    * score — ONE definition so the survivor ranking can never drift
    * from the reported signal. */
  private def qualitySql: String =
    s"least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 100) * 0.5 + " +
      s"least(1.0, (CAST(${occ("the")} + ${occ("a")} + ${occ("of")} + ${occ("and")} AS DOUBLE) " +
      s"/ len(string_split(text, ' '))) * 5) * 0.3 + " +
      "(1.0 - least(1.0, (CAST(length(text) - " +
      "length(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) " +
      "/ length(text)) * 10)) * 0.2"

  /** Shared q97/q103 oracle CTE body: pairs → edges → recursive reach
    * → per-node min label. Yields relation `cl(vec_id, cluster)`. */
  private def clusterCte: String =
    s"""pairs AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM embeddings a JOIN embeddings b
       |    ON a.label = b.label AND a.vec_id < b.vec_id
       |  WHERE ${duckCos("a", "b")} >= 0.35),
       |edges AS (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT src AS id, dst AS r FROM edges
       |  UNION
       |  SELECT reach.id, edges.dst FROM reach
       |  JOIN edges ON reach.r = edges.src),
       |comp AS (
       |  SELECT id, LEAST(MIN(r), id) AS cluster FROM reach GROUP BY id),
       |cl AS (
       |  SELECT e.vec_id, COALESCE(c.cluster, e.vec_id) AS cluster
       |  FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id)""".stripMargin

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: survivor + multiplicity per content hash.
    "q50_exact_dedup" -> ((s, dir) => {
      DedupOps.exact(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("content_hash"))
    }),
    // MinHash signatures (8 hashes, 3-word shingles).
    "q51_minhash_sig" -> ((s, dir) => {
      DedupOps.minhashSignature(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // LSH banding → candidate near-dup pairs (equi-join, no O(n²)).
    "q52_lsh_pairs" -> ((s, dir) => {
      DedupOps.lshCandidatePairs(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("id_a"), col("id_b"))
    }),
    // C4's word-LEXICON gate: distinct-entry hit count + survival flag
    // per doc. Normalization is builtin codegen; matching is ONE
    // Aho-Corasick pass (expressions.MultiPatternCount) — O(length)
    // per row however large the lexicon (a regex alternation or a
    // contains-OR pays O(entries x length)). Scan-local, zero
    // exchanges; phrase entries get word-boundary semantics from the
    // space-padded normalized text. (ScaleProbe read scan x2.0 here:
    // that is the trailing ORDER BY's range-partitioning SAMPLE pass —
    // oracle-comparison infrastructure, required on every query. The
    // operator itself, TextOps.dropByLexicon, is a sort-free single
    // pass; shuffle stays sublinear, 0.04 MiB at sf0.1.)
    "q136_lexicon_gate" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.lexiconHits(col("text"), q136Lexicon)
            .cast("long").as("lex_hits"))
        .withColumn("survives", (col("lex_hits") === 0L).cast("int"))
        .orderBy(col("doc_id"))
    }),
    // Decontamination by SPAN REMOVAL (GPT-3 appendix C / the
    // open-pretraining practice): q85 DETECTS eval-contaminated train
    // docs; this SCRUBS them — every 3-gram colliding with the test
    // set is cut together with a ±2-word margin, and the doc survives
    // with the overlap removed instead of being dropped whole. Shape:
    // posexplode(shingles) → semi-join the (distinct, broadcastable)
    // test set → per-doc span list (tiny: collisions per doc) joined
    // back by doc_id → ONE per-row rebuild filtering words against
    // the span array. Only collision candidates ever shuffle — clean
    // docs pass through the join as null-span rows and keep their
    // text untouched.
    "q138_decontam_scrub" -> ((s, dir) => {
      // 0-based shingle index j covers words j..j+2; margin 2 → remove
      // word indices in [j-2, j+4] (inclusive, clamped at 0). The
      // shared TextOps.decontamScrub merges the per-hit spans to
      // sorted disjoint intervals and rebuilds through the gap slices
      // (O(words + spans); the raw-span exists filter it replaced was
      // O(words × spans) — quadratic under pathological contamination)
      val (_, testSh) = contaminationInputs(s, dir)
      val train = contaminationSplit(s, dir)._1
        .select(col("doc_id"), col("text"))
      TextOps.decontamScrub(train, "doc_id", "text", testSh,
          n = 3, margin = 2)
        .orderBy(col("doc_id"))
    }),
    // The Gopher document-quality rules (Rae et al. 2021 §A1.1 — the
    // gate MassiveText/RefinedWeb/FineWeb curation carries): counters
    // from ONE codegen byte-walk (expressions.GopherStats — the
    // composable form pays a split + interpreted lambda HOF per rule,
    // per row), rule arithmetic in plain Columns, keep = the published
    // conjunction. Line-rule variance is INJECTED deterministically
    // from doc_id (the q93 PII pattern: the flat synthetic corpus has
    // no newlines/bullets/ellipses, so the rules would be vacuous on
    // it) — the SAME CASE tail is built into the oracle. Zero
    // exchanges but the output sort: gating 100 TB is one scan.
    "q137_gopher_rules" -> ((s, dir) => {
      val st = TextOps.gopherStats(concat(col("text"), gopherTail))
      val w = st.getField("n_words").cast("double")
      val lines = st.getField("n_lines").cast("double")
      t(s, dir, "documents").select(col("doc_id"),
          st.getField("n_words").as("n_words"),
          (st.getField("word_chars").cast("double") / w).as("mean_word_len"),
          (st.getField("bullet_lines").cast("double") / lines).as("bullet_frac"),
          (st.getField("ellipsis_lines").cast("double") / lines).as("ellipsis_frac"),
          (st.getField("alpha_words").cast("double") / w).as("alpha_frac"),
          st.getField("stop_present").as("stop_present"),
          TextOps.gopherKeep(st).as("keep"))
        .orderBy(col("doc_id"))
    }),
    // Per-domain curation rollup (TextOps.domainRollup — the
    // FineWeb/RefinedWeb operational loop: curation teams triage
    // domains, not documents): keep rates, per-rule Gopher violation
    // counts, exact-dup rates and char mass per (source, lang), from
    // the SAME per-doc signals q137/q100/q109 compute — one scan, one
    // partial-agg shuffle to a |sources×langs|-row frame. The gopher
    // counters run over the q137 tail-injected text (shared
    // `gopherTail` — the two queries can never score a doc under
    // different texts); the dup hash runs over the RAW text.
    "q139_domain_rollup" -> ((s, dir) => {
      TextOps.domainRollup(t(s, dir, "documents"),
          Seq("source", "lang"), col("text"),
          concat(col("text"), gopherTail), col("n_chars"))
        .orderBy(col("source"), col("lang"))
    }),
    // The Gopher REPETITION rule set (Rae et al. 2021 §A1.1's other
    // half — q137 carries the quality rules): thirteen published
    // fractions + the keep conjunction from ONE kernel pass per row
    // (expressions.RepetitionStats; coverage-mask dup n-grams and
    // lex-smallest top-gram ties pinned there and mirrored by the
    // oracle). Repetition variance is INJECTED deterministically
    // (repetitionTail — the corpus is flat) so every rule family fires
    // somewhere and doc length decides marginal keeps. Zero exchanges
    // but the output sort: gating 100 TB on repetition is one scan,
    // same as q137.
    "q145_gopher_repetition" -> ((s, dir) => {
      val st = TextOps.repetitionStats(concat(col("text"), repetitionTail))
      t(s, dir, "documents").select(col("doc_id") +:
          graft.expressions.RepetitionStats.Schema.fieldNames.toSeq.map(f =>
            st.getField(f).as(f)) :+
          TextOps.repetitionKeep(st).as("keep"): _*)
        .orderBy(col("doc_id"))
    }),
    // C4's line-structure policy (Raffel et al. 2020 §2.2 — the third
    // C4 leg beside the q136 word blocklist and the q124 line dedup):
    // terminal-punctuation + ≥3-word + no-javascript line filter, then
    // the <5-sentences / curly-brace / lorem-ipsum page gate, as one
    // zero-exchange scan (TextOps.c4LineClean). Line variance injected
    // deterministically (c4Tail — the flat corpus has neither newlines
    // nor punctuation); each tail branch exercises one rule.
    "q147_c4_line_policy" -> ((s, dir) => {
      TextOps.c4LineClean(
          t(s, dir, "documents")
            .select(col("doc_id"),
              concat(col("text"), c4Tail).as("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // The Stack / StarCoder code-corpus preprocessing filter (Kocetkov
    // et al. 2022 §2.2; Allal et al. 2023 §4.2 — the published rule
    // set every code-pretraining pipeline applies first): average line
    // length ≤ 100, max line length ≤ 1000, alphanumeric char fraction
    // ≥ 0.25, no XML declaration in the first 100 chars. Counters from
    // ONE codegen byte-walk (expressions.CodeStats); the keep decision
    // is pure INTEGER Column arithmetic (TextOps.stackCodeKeep), so
    // engines cannot disagree on ratio rounding. Code-shape variance
    // injected deterministically (stackTail — each branch fires exactly
    // one rule). Zero exchanges but the output sort: gating a multi-TB
    // code corpus is one scan, the q137 shape.
    "q148_stack_code_filter" -> ((s, dir) => {
      val st = TextOps.codeStats(
        concat(substring(col("text"), 1, 40), stackTail))
      t(s, dir, "documents").select(col("doc_id") +:
          graft.expressions.CodeStats.schema.fieldNames.toSeq.map(f =>
            st.getField(f).as(f)) :+
          TextOps.stackCodeKeep(st).as("keep"): _*)
        .orderBy(col("doc_id"))
    }),
    // The Stack's LICENSE gate (Kocetkov et al. 2022 §2.3 —
    // TextOps.licenseDetect/licenseKeep): detect the in-file license
    // from an SPDX tag (machine declaration wins) or the license's
    // distinctive opening phrase, keep permissive only. Fixture docs
    // carry no licenses, so a rotating header (doc_id % 10: SPDX tag,
    // the eight phrase fingerprints, bare) is injected — q93's PII
    // recipe — exercising every branch incl. the BSD 2-vs-3-clause
    // discriminator and the copyleft/none rejections. Pure Column
    // logic, scan-local, zero exchanges.
    "q153_license_filter" -> ((s, dir) => {
      val injected = concat(
        element_at(typedLit(TrainingData.licenseHeaders),
          (col("doc_id") % 10).cast("int") + 1),
        col("text"))
      val lic = TextOps.licenseDetect(injected)
      t(s, dir, "documents").select(col("doc_id"), lic.as("license"),
          TextOps.licenseKeep(lic).as("keep"))
        .orderBy(col("doc_id"))
    }),
    // The Stack's REPO-level license gate (Kocetkov et al. 2022 §2.3
    // proper — TextOps.repoLicenseTable/licenseInherit): most source
    // files carry no in-file notice; the license lives in the repo
    // root's LICENSE blob and files INHERIT it, in-file evidence
    // overriding. Fixture repos are synthesized from doc_id: repo =
    // doc_id % 37; doc_id < 37 is that repo's LICENSE file carrying a
    // rotating q153 header (index 9 is empty → three repos stay
    // unlicensed); every other file with doc_id % 11 == 3 carries an
    // in-file SPDX EXPRESSION override (spdxExprHeaders — OR/AND/WITH/
    // parens/LicenseRef, exercising the dual-licensing resolution in
    // licenseKeep); the rest inherit. The inherit join is the J1
    // broadcast shape over the |repos|-bounded license table.
    "q155_repo_license" -> ((s, dir) => {
      val isLic = col("doc_id") < 37
      val hdr = when(isLic, element_at(
          typedLit(TrainingData.licenseHeaders),
          (col("doc_id") % 10).cast("int") + 1))
        .when(col("doc_id") % 11 === 3, element_at(
          typedLit(TrainingData.spdxExprHeaders),
          (col("doc_id") % 7).cast("int") + 1))
        .otherwise(lit(""))
      val files = t(s, dir, "documents").select(
        col("doc_id"), (col("doc_id") % 37).cast("int").as("repo"),
        when(isLic, lit("LICENSE"))
          .otherwise(concat(lit("src/f"), col("doc_id"), lit(".py")))
          .as("path"),
        concat(hdr, col("text")).as("text"))
      val repoLic = TextOps.repoLicenseTable(files, "repo", "path", "text")
      TextOps.licenseInherit(files, repoLic, "repo", "text")
        .select(col("doc_id"), col("repo"), col("license"),
          col("inherited"), TextOps.licenseKeep(col("license")).as("keep"))
        .orderBy(col("doc_id"))
    }),
    // Dolma's Bloom-filter line dedup, MEASURED (Soldaini et al. 2024;
    // TextOps.lineBloomFilter/lineScrubBloom): the prior half of the
    // corpus (even doc_ids) commits its line hashes as a Bloom filter,
    // the current half (odd) gates against it. Self-checking, the
    // q128/q114 verdict pattern: DuckDB recomputes n_lines and the
    // EXACT seen count per doc; no_false_neg pins the bloom guarantee
    // (every truly-seen line hit — per-doc, computed from the exact
    // recompute), fp_in_bound pins the corpus false-positive rate on
    // novel lines at ≤ 2×fpp (deterministic for a fixed corpus). The
    // filter is a broadcast literal: the gate itself never shuffles.
    "q154_bloom_line_scrub" -> ((s, dir) => {
      import org.apache.spark.sql.DataFrame
      val docs = t(s, dir, "documents")
      val prior = docs.filter(col("doc_id") % 2 === 0)
      val cur = docs.filter(col("doc_id") % 2 === 1)
      val filter = TextOps.lineBloomFilter(prior, "doc_id", "text").get
      val segs = TextOps.lineSegments(cur, "doc_id", "text", 10)
        .withColumn("__hit", graft.functions.BloomOps
          .mightContain(filter, col("__ld_h")).cast("int"))
      val priorH = TextOps.lineSegments(prior, "doc_id", "text", 10)
        .select(col("__ld_h")).distinct().withColumn("__exact", lit(1))
      val per = segs.join(priorH, Seq("__ld_h"), "left")
        .withColumn("__exact", coalesce(col("__exact"), lit(0)))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_lines"),
          sum(col("__exact")).as("n_seen"),
          sum(when(col("__exact") === 1 && col("__hit") === 0, 1L)
            .otherwise(0L)).as("__missed"),
          sum(when(col("__exact") === 0 && col("__hit") === 1, 1L)
            .otherwise(0L)).as("__fp"),
          sum(lit(1L) - col("__exact")).as("__novel"))
      val bound = per.agg(
        (sum(col("__fp")).cast("double") /
          greatest(sum(col("__novel")).cast("double"), lit(1.0)))
          .as("__rate"))
        .select((col("__rate") <= 0.02).cast("int").as("fp_in_bound"))
      per.crossJoin(broadcast(bound))
        .select(col("doc_id"), col("n_lines"), col("n_seen"),
          (col("__missed") === 0L).cast("int").as("no_false_neg"),
          col("fp_in_bound"))
        .orderBy(col("doc_id"))
    }),
    // WordPiece tokenization (Schuster & Nakajima 2012 — the BERT
    // family; functions/WordPiece.scala): q110/q140's shape for the
    // THIRD tokenizer family. Greedy longest-match-first over the
    // committed 128-piece likelihood-trained vocabulary (merges score
    // count(xy)/(count(x)·count(y)) — TokenizerTrain), one codegen
    // scan with the per-task word cache; un-matchable words collapse
    // to ONE [UNK] token (the published whole-word rule). Oracle: an
    // independent greedy walk in DuckDB — matches as a join, the
    // greedy choice as max(next-pos) outside the recursion.
    "q149_wordpiece_tokens" -> ((s, dir) => {
      val san = Bpe.sanitizeAscii(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          size(Bpe.pieces(san)).cast("long").as("n_pieces"),
          graft.functions.WordPiece.wordpieceTokenCount(san).as("n_wp"))
        .orderBy(col("doc_id"))
    }),
    // Unigram-LM tokenization (Kudo 2018 — the SentencePiece family;
    // functions/Unigram.scala): q110's shape for the SECOND tokenizer
    // family. Viterbi segmentation over the committed 80-piece
    // max-len-4 vocabulary (trained by tools/TokenizerTrain — EM with
    // forward-backward expected counts over the word-count aggregate,
    // like every trainer in this engine), one codegen scan with the
    // per-task word cache. Oracle: an independent path-enumeration
    // Viterbi in DuckDB over the same vocab literals. The piece-length
    // cap keeps segmentation non-trivial on the fixture corpus — the
    // q110 48-merge-prefix rationale.
    "q140_unigram_tokens" -> ((s, dir) => {
      val san = Bpe.sanitizeAscii(col("text"))
      t(s, dir, "documents").select(col("doc_id"),
          size(Bpe.pieces(san)).cast("long").as("n_pieces"),
          graft.functions.Unigram.unigramTokenCount(san).as("n_uni"))
        .orderBy(col("doc_id"))
    }),
    // q111's corpus quantiles under the unigram denomination — the
    // third of the q110/q111/q129 metric family parameterized over
    // tokenizer. Same value-histogram plan (the corpus contributes one
    // partial-agg shuffle of distinct counts; the quantile walk runs
    // over the bounded histogram frame).
    "q144_unigram_quantiles" -> ((s, dir) => {
      import s.implicits._
      val hist = t(s, dir, "documents")
        .select(graft.functions.Unigram.unigramTokenCount(
          Bpe.sanitizeAscii(col("text"))).as("n_uni"))
        .groupBy(col("n_uni")).agg(count(lit(1)).as("cnt"))
      val cum = hist.withColumn("cum",
        sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_uni"))
          .rowsBetween(Long.MinValue, 0)))
        .crossJoin(hist.agg(sum(col("cnt")).as("total")))
      cum.crossJoin(Seq(0.25, 0.5, 0.75, 0.9).toDF("q"))
        .filter(col("cum") >= ceil(col("q") * col("total")))
        .groupBy(col("q")).agg(min(col("n_uni")).as("value"))
        .orderBy(col("q"))
    }),
    // EXACT expected token count under subword regularization at
    // α = 0.3 — the deterministic closed form of the sampler's
    // fertility cost (E[|seg|] over P^α by one log-space DP per word;
    // samples can only estimate this number, so the sampler family's
    // distribution gets an exact oracle here: an independent
    // path-enumeration expectation in DuckDB over the same vocab
    // literals). 4-dp round absorbs the association-order ulps between
    // the DP and the enumeration (the q130 convention); zero exchanges
    // but the output sort.
    "q146_subword_expected" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
          round(graft.functions.Unigram.expectedTokenCount(
            Bpe.sanitizeAscii(col("text")), alpha = 0.3), 4).as("e_uni"))
        .orderBy(col("doc_id"))
    }),
    // q129's fertility metric PARAMETERIZED over tokenizer family —
    // the retraining trigger finally has an alternative to compare
    // against: per language, BPE and unigram token mass over the SAME
    // pretoken denominator and whitespace baseline, in ONE scan (both
    // counters are scan-local codegen kernels; the corpus is read
    // once). A language whose unigram fertility undercuts its BPE
    // fertility is the signal to switch families, not just retrain.
    "q141_unigram_fertility" -> ((s, dir) => {
      val san = Bpe.sanitizeAscii(col("text"))
      t(s, dir, "documents")
        .select(col("lang"),
          graft.functions.Unigram.unigramTokenCount(san).as("n_uni"),
          Bpe.bpeTokenCount(san, bpeVocab48).as("n_bpe"),
          size(split(col("text"), " ")).cast("long").as("n_ws"))
        .groupBy(col("lang"))
        .agg(sum(col("n_uni")).as("n_uni"), sum(col("n_bpe")).as("n_bpe"),
          sum(col("n_ws")).as("n_ws"))
        .select(col("lang"), col("n_uni"), col("n_bpe"), col("n_ws"),
          round(col("n_uni").cast("double") / col("n_ws"), 4)
            .as("fertility_uni"),
          round(col("n_bpe").cast("double") / col("n_ws"), 4)
            .as("fertility_bpe"))
        .orderBy(col("lang"))
    }),
    // q141 completed across the WHOLE triad: per-language fertility
    // for all THREE production tokenizer families (BPE / unigram-LM /
    // WordPiece) over the same pretoken denominator and whitespace
    // baseline, in ONE scan — three scan-local codegen counters, one
    // partial-agg shuffle to a |langs| frame. This is the table a
    // tokenizer-selection decision actually reads: which family's
    // token mass undercuts the others, per language.
    "q150_family_fertility" -> ((s, dir) => {
      val san = Bpe.sanitizeAscii(col("text"))
      t(s, dir, "documents")
        .select(col("lang"),
          graft.functions.Unigram.unigramTokenCount(san).as("n_uni"),
          Bpe.bpeTokenCount(san, bpeVocab48).as("n_bpe"),
          graft.functions.WordPiece.wordpieceTokenCount(san).as("n_wp"),
          size(split(col("text"), " ")).cast("long").as("n_ws"))
        .groupBy(col("lang"))
        .agg(sum(col("n_uni")).as("n_uni"), sum(col("n_bpe")).as("n_bpe"),
          sum(col("n_wp")).as("n_wp"), sum(col("n_ws")).as("n_ws"))
        .select(col("lang"), col("n_uni"), col("n_bpe"), col("n_wp"),
          col("n_ws"),
          round(col("n_uni").cast("double") / col("n_ws"), 4)
            .as("fertility_uni"),
          round(col("n_bpe").cast("double") / col("n_ws"), 4)
            .as("fertility_bpe"),
          round(col("n_wp").cast("double") / col("n_ws"), 4)
            .as("fertility_wp"))
        .orderBy(col("lang"))
    }),
    // In-Context Pretraining document ordering (Shi et al. 2023 —
    // functions/VectorOps.icpOrder): chain semantically related docs
    // adjacent so context windows pack related neighbors. Blocked like
    // the semantic-dedup family: greedy rounded-cosine walks WITHIN
    // each cluster (start = lowest id, next = most-similar unvisited,
    // ties low id), clusters chained by centroid similarity; one
    // exchange on the label, all chain work cluster-local. Oracle: the
    // same walks in recursive DuckDB SQL — each node's neighbor list
    // is precomputed ORDERED as a struct list (aggregation outside the
    // recursion), so the recursive step is pure scalar list ops:
    // first-unvisited = list_filter(...)[1].
    "q151_icp_order" -> ((s, dir) => {
      VectorOps.icpOrder(t(s, dir, "embeddings"), "vec_id", "label",
        "embedding")
    }),
    // The ordering APPLIED (the paper's actual deliverable): pack
    // consecutive ICP-ordered docs into fixed token-budget contexts.
    // Same greedy budget-pack as q121 but keyed by global_pos instead
    // of a shuffle draw — the running total rides GlobalOrder's
    // sharded prefix-sum (no global single-task sort stage), with the
    // order key zero-padded so prefix shards order consistently with
    // the numeric key. vec_id joins doc n_tok 1:1 (the fixture's
    // embedding-per-doc contract, q97's).
    "q152_icp_pack" -> ((s, dir) => {
      val ntok = t(s, dir, "documents").select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      graft.lake.CorpusPack.icpPack(ntok, "doc_id", "n_tok",
          t(s, dir, "embeddings"), "vec_id", "label", "embedding")
        .withColumnRenamed("doc_id", "vec_id")
        .orderBy(col("vec_id"))
    }),
    // The calibrated gate APPLIED (q131's relationship to q130): each
    // source's q142 threshold becomes a per-doc keep decision — the
    // thresholds frame is |sources| rows and BROADCASTS back onto the
    // scoring scan, so the gate adds one tiny join to a corpus pass
    // and a re-budgeted target never re-scans the corpus. Shares
    // `calibrationFrame` with q142, so the reported calibration and
    // the gate can never disagree.
    "q143_calibrated_gate" -> ((s, dir) => {
      val model = calibrationModel(s, dir)
      val thresholds = calibrationFrame(s, dir, model)
        .filter(col("cum") >= col("total") * lit(0.5))
        .groupBy(col("source")).agg(max(col("score")).as("__cal_th"))
      t(s, dir, "documents").select(col("doc_id"), col("source"),
          round(model.scoreCol(col("text")), 4).as("score"))
        .join(broadcast(thresholds), Seq("source"))
        .select(col("doc_id"), col("source"), col("score"),
          (col("score") >= col("__cal_th")).cast("int").as("kept"))
        .orderBy(col("doc_id"))
    }),
    // CLOSED-LOOP GATE CALIBRATION — the missing feedback edge of the
    // trained quality gate: q130's acceptance threshold is a fixed
    // constant (log-odds > 0), but a curation team budgets KEPT TOKENS
    // per source. q142 picks, per source, the tightest threshold whose
    // kept-token share reaches the 50% target — from a (source,
    // rounded-score) VALUE HISTOGRAM of token mass (q102's trick): the
    // corpus is scanned once into a bounded frame, the threshold walk
    // is a window over distinct 4-dp scores, and NO re-scan happens
    // when the target changes. SELF-CHECKING by construction:
    // within_tol pins that the kept share clears the target AND that
    // dropping the threshold bucket would undershoot — the tightest
    // achievable cut under discrete scores; a logic regression flips
    // it to 0 and the oracle catches the flip.
    "q142_gate_calibration" -> ((s, dir) => {
      calibrationFrame(s, dir, calibrationModel(s, dir))
        .filter(col("cum") >= col("total") * lit(0.5))
        .groupBy(col("source"))
        // the qualifying bucket with the SMALLEST cum is the highest
        // qualifying score — min(struct) carries its mass along
        .agg(max(col("score")).as("threshold"),
          min(struct(col("cum"), col("mass"))).as("__sel"),
          max(col("total")).as("total_tokens"))
        .select(col("source"), col("threshold"),
          col("__sel").getField("cum").as("kept_tokens"),
          col("total_tokens"),
          round(col("__sel").getField("cum").cast("double") /
            col("total_tokens"), 4).as("kept_share"),
          (col("__sel").getField("cum") >=
              col("total_tokens").cast("double") * 0.5 &&
            (col("__sel").getField("cum") - col("__sel").getField("mass"))
              .cast("double") < col("total_tokens").cast("double") * 0.5)
            .cast("int").as("within_tol"))
        .orderBy(col("source"))
    }),
    // MinHash LANE AGREEMENT over the LSH candidates — the decision
    // function of the verified cross-run near-dup gate
    // (CorpusDedup.novelNearDupVerifiedSince) as an oracle-checkable
    // batch query: n_agree = matching lanes out of 8 (the MinHash
    // Jaccard estimate ×8), verified = n_agree >= 6 (minAgree 0.75).
    // Both signatures RIDE the pair rows (lshCandidatePairsWithSig):
    // one corpus scan total — a sig join-back would re-derive the
    // minhash subtree per side and shuffle/broadcast a corpus-sized
    // sig frame. The cheap verify, vs q53's exact token one.
    "q135_lane_verify" -> ((s, dir) => {
      val pairs = DedupOps.lshCandidatePairsWithSig(
        DedupOps.minhashSignature(t(s, dir, "documents"), "doc_id", "text"),
        "doc_id")
      val agree = (0 until 8).map(i =>
        when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
        .reduce(_ + _)
      pairs.select(col("id_a"), col("id_b"), agree.as("n_agree"),
          (agree >= 6L).cast("int").as("verified"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Exact token-set Jaccard verification of the LSH candidates. The
    // band keys come out of the corpus scan's projection, so the first
    // shuffle is the bucket groupBy; the pairs explode once into
    // (pair, member, side) rows that join each member's distinct-token
    // array (a second, column-pruned scan; AQE picks the join), and one
    // groupBy keyed by pair yields the intersection and both sizes. No
    // checkpoint, no broadcast hint, no block-manager caching, and no
    // shuffle carries a row per (pair, token).
    "q53_jaccard_verify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.jaccardForPairs(docs, "doc_id", "text",
          DedupOps.lshCandidatePairs(docs, "doc_id", "text"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Containment |A∩B|/min(|A|,|B|) over the same LSH candidates — the
    // asymmetric verify that catches sub-document duplication (short doc
    // embedded in a long one: containment ~1, Jaccard low). Same plan
    // family as q53.
    "q94_containment_verify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DedupOps.containmentForPairs(docs, "doc_id", "text",
          DedupOps.lshCandidatePairs(docs, "doc_id", "text"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Full near-dup dedup: LSH candidates → Jaccard verify → drop the
    // greater id of every pair over threshold (min-id survivor policy).
    // q53's plan (band keys in the scan, one pair-keyed verify shuffle)
    // plus one anti-join, whose corpus scan is column-pruned to
    // (doc_id, n_chars).
    "q59_neardup_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val verified = DedupOps.jaccardForPairs(docs, "doc_id", "text",
        DedupOps.lshCandidatePairs(docs, "doc_id", "text"))
      DedupOps.dropNearDuplicates(docs, "doc_id", verified, 0.8)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // Transitive near-dup CLUSTERS: the connected components of the
    // verified pair graph (what q59's min-id survivor policy skips).
    // Every document gets a cluster id = min doc id reachable through
    // jaccard≥0.8 pairs; singletons are their own cluster.
    "q69_dedup_clusters" -> ((s, dir) => {
      textNearDupClusters(t(s, dir, "documents")).orderBy(col("doc_id"))
    }),
    // Quality-aware near-dup survivor selection — q69's text near-dup
    // clusters composed with q55's quality signal: keep the HIGHEST-
    // QUALITY member of each cluster rather than q59's arbitrary
    // min-id, which is what a production dedup actually wants (drop
    // the mirror with the boilerplate, keep the clean original).
    // Deterministic: quality is a per-row scalar (bit-exact across
    // engines), ties break on doc_id. Same scale shape as q69 plus a
    // cluster-keyed ranking window (one row per doc).
    "q105_best_survivor" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      textNearDupClusters(docs)
        .join(docs.select(col("doc_id"),
          TextOps.qualityScore(col("text")).as("quality")), Seq("doc_id"))
        .withColumn("keep", (row_number().over(
          W.partitionBy(col("cluster_id"))
            .orderBy(col("quality").desc, col("doc_id"))) === 1).cast("int"))
        .select(col("doc_id"), col("cluster_id"), col("quality"), col("keep"))
        .orderBy(col("doc_id"))
    }),
    // Per-source document cap — the C4/RefinedWeb anti-domination
    // guard: no single domain may contribute more than N docs. Ranking
    // inside each source uses a SALTED HASH, not doc_id: id order
    // correlates with crawl position (recency/depth bias), while the
    // hash is a uniform draw that is still deterministic across
    // engines and runs. One window keyed by source — at 100 TB the
    // skewed giant sources are exactly the ones being capped, and a
    // rank-only window needs no full sort buffer per partition beyond
    // the spill-safe Exchange+Sort Spark already plans.
    "q106_source_cap" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val rk = TextOps.hashDraw(col("doc_id"), "cap")
      t(s, dir, "documents")
        .select(col("doc_id"), col("source"), rk.as("draw"))
        .withColumn("rk", row_number().over(
          W.partitionBy(col("source")).orderBy(col("draw"), col("doc_id"))))
        .select(col("doc_id"), col("source"),
          (col("rk") <= 15).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    }),
    // The composed MODERN pretraining recipe in ONE declarative plan —
    // q82's principle extended to the full round-6 mixing family:
    // quality gate (q82) → exact-dedup keep-first (q50/q82) →
    // per-source anti-domination cap (q106) → mixture resample to
    // language targets (q101) → greedy sequence packing (q99) + split
    // labels (q72). Every stage is the audited operator, chained
    // without materialization barriers, so Catalyst plans the whole
    // recipe end-to-end: the gate prunes before the dedup shuffle, the
    // cap and resample windows share the survivor frame, and the copy
    // expansion is scan-side codegen. Determinism is inherited from
    // the components (salted hashes, doc_id tiebreaks) — rerunning the
    // recipe on any engine reproduces the identical packed corpus.
    "q107_pretrain_mix" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val kept = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("text"),
          TextOps.nTokens(col("text")).as("n_tok"),
          TextOps.dupWordFrac(col("text")).as("dwf"))
        .filter(col("n_tok") >= 10 && col("dwf") < 0.3)
        .withColumn("rn", row_number().over(
          W.partitionBy(md5(col("text"))).orderBy(col("doc_id"))))
        .filter(col("rn") === 1)
      val capped = kept
        .withColumn("crk", row_number().over(
          W.partitionBy(col("source")).orderBy(
            TextOps.hashDraw(col("doc_id"), "cap"), col("doc_id"))))
        .filter(col("crk") <= 20)
        .select(col("doc_id"), col("lang"), col("n_tok"))
      val weights = mixWeights
      val strata = capped.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      val total = strata.agg(sum(col("n_l")).as("total"))
      val rates = strata.crossJoin(broadcast(total)).select(col("lang"),
        (element_at(weights, col("lang")) * col("total") / col("n_l"))
          .as("rate"))
      val copies = capped.join(broadcast(rates), Seq("lang"))
        .withColumn("copies", floor(col("rate")) +
          when(TextOps.hashFrac(col("doc_id"), "mix") <
            col("rate") - floor(col("rate")), 1L).otherwise(0L))
        .filter(col("copies") >= 1L)
        .select(col("doc_id"), col("lang"), col("n_tok"),
          explode(sequence(lit(1L), col("copies"))).as("copy"))
      val wp = W.partitionBy(col("lang")).orderBy(col("doc_id"), col("copy"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      copies
        .select(col("doc_id"), col("copy"), col("lang"), col("n_tok"),
          floor(coalesce(sum(col("n_tok")).over(wp), lit(0L)) / lit(2048L))
            .as("pack_id"),
          TextOps.splitLabel(TextOps.hashBucket(col("doc_id"))).as("split"))
        .orderBy(col("lang"), col("doc_id"), col("copy"))
    }),
    // Token-entropy quality signal — the information-theoretic
    // repetitiveness measure the Gopher-family heuristics approximate:
    // H = ln(n) − Σ c·ln(c) / n over the doc's token counts (0 for a
    // single repeated token, ln(n_distinct) for all-distinct). The
    // exact-integer form keeps parity trivial: c and n are longs, the
    // per-term c·ln(c) values are bit-identical in both engines, and
    // round-4 absorbs summation order. One corpus pass by
    // construction: the (doc, token, count) frame has a single
    // consumer, so there is nothing to re-materialize.
    "q108_token_entropy" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).as("n_tok"),
          round(log(sum(col("c"))) -
            sum(col("c") * log(col("c"))) / sum(col("c")), 4)
            .as("entropy"))
        .orderBy(col("doc_id"))
    }),
    // Dataset-card rollup — the per-language statistics a corpus
    // release publishes (docs, tokens, exact-dup rate, length spread,
    // split sizes), computed in ONE pass: every signal is a per-row
    // scalar or a distinct-count over the same grouped scan, so the
    // whole card is a partial-agg shuffle of |langs| groups. The
    // dup rate uses countDistinct(md5) — exact, and the only reason
    // this query has a second aggregate phase (Spark plans distinct
    // aggs as a two-step expand — still lang-keyed, never corpus-wide).
    "q109_dataset_card" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          md5(col("text")).as("h"),
          size(split(col("text"), " ")).cast("long").as("n_tok"),
          TextOps.hashBucket(col("doc_id")).as("pct"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("h")).as("n_unique"),
          round(lit(1.0) - countDistinct(col("h")).cast("double") /
            count(lit(1)), 4).as("dup_rate"),
          sum(col("n_tok")).as("total_tokens"),
          min(col("n_tok")).as("min_tok"),
          max(col("n_tok")).as("max_tok"),
          sum(when(col("pct") < 80, 1L).otherwise(0L)).as("n_train"),
          sum(when(col("pct") >= 80 && col("pct") < 90, 1L)
            .otherwise(0L)).as("n_valid"),
          sum(when(col("pct") >= 90, 1L).otherwise(0L)).as("n_test"))
        .orderBy(col("lang"))
    }),
    // Real subword tokenization (pure-JVM BPE, functions/Bpe.scala): the
    // token DENOMINATION every packing/quantile/entropy operator should
    // be using instead of whitespace words. The 48-merge prefix of the
    // committed vocabulary keeps per-word tokenizations non-trivial on
    // the fixture corpus (the full vocabulary memorizes its 31-word
    // vocabulary into single tokens). One codegen'd scan — the encode
    // kernel runs inside whole-stage codegen with a per-task word cache,
    // so a 100 TB corpus tokenizes at scan speed, no shuffle but the
    // output sort. Oracle: an independent recursive-CTE BPE in DuckDB
    // (greedy lowest-rank merge via separator-encoded string replace)
    // over the same merges — two from-scratch implementations of the
    // merge loop agreeing token-for-token.
    "q110_bpe_tokens" -> ((s, dir) => {
      val san = Bpe.sanitizeAscii(col("text"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          size(Bpe.pieces(san)).cast("long").as("n_pieces"),
          Bpe.bpeTokenCount(san, bpeVocab48).as("n_bpe"))
        .orderBy(col("doc_id"))
    }),
    // q74's corpus quantiles re-denominated in BPE tokens — the form a
    // context-window budget decision actually needs (whitespace quantiles
    // under-count code/CJK 2–5×). Same value-histogram plan: the corpus
    // contributes one partial-agg shuffle of distinct counts.
    "q111_bpe_quantiles" -> ((s, dir) => {
      import s.implicits._
      val hist = t(s, dir, "documents")
        .select(Bpe.bpeTokenCount(Bpe.sanitizeAscii(col("text")), bpeVocab48)
          .as("n_bpe"))
        .groupBy(col("n_bpe")).agg(count(lit(1)).as("cnt"))
      val cum = hist.withColumn("cum",
        sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_bpe"))
          .rowsBetween(Long.MinValue, 0)))
        .crossJoin(hist.agg(sum(col("cnt")).as("total")))
      cum.crossJoin(Seq(0.25, 0.5, 0.75, 0.9).toDF("q"))
        .filter(col("cum") >= ceil(col("q") * col("total")))
        .groupBy(col("q")).agg(min(col("n_bpe")).as("value"))
        .orderBy(col("q"))
    }),
    // q99's greedy sequence packing re-denominated in BPE tokens — the
    // operator this tokenizer exists for: context windows are budgeted
    // in subword tokens, and a whitespace-budgeted pack overfills real
    // windows. Same one-window plan over (lang, doc_id).
    "q112_bpe_pack" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .withColumn("n_bpe",
          Bpe.bpeTokenCount(Bpe.sanitizeAscii(col("text")), bpeVocab48))
        .select(col("lang"), col("doc_id"), col("n_bpe"),
          floor(coalesce(sum(col("n_bpe")).over(w), lit(0L)) / lit(2048L))
            .as("pack_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),
    // Language-ID heuristic (integer-ratio stopword votes).
    "q54_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.langIdGuess(col("text")).as("lang_guess"))
        .orderBy(col("doc_id"))
    }),
    // Quality scoring: signals + composite score.
    "q55_quality" -> ((s, dir) => {
      // the one-pass TextStats counters + the SAME ratio arithmetic as
      // the composable TextOps formulation (and the oracle SQL): the
      // ~6 regex passes per row become one byte walk — this is the
      // quality gate every document of the corpus funnels through, so
      // its scan constant is the one that matters
      val st = TextOps.textStats(col("text"))
      val nChar = st.getField("n_char")
      val nTok = st.getField("n_tok")
      val stopRatio = st.getField("stop_hits").cast("double") / nTok
      val nonAlnumRatio = st.getField("non_alnum").cast("double") / nChar
      t(s, dir, "documents")
        .select(col("doc_id"),
          nChar.as("n_char"),
          nTok.as("n_tok"),
          ((nChar - (nTok - 1)).cast("double") / nTok).as("mean_tok_len"),
          stopRatio.as("stop_ratio"),
          (least(lit(1.0), nTok.cast("double") / 100) * lit(0.5) +
            least(lit(1.0), stopRatio * 5) * lit(0.3) +
            (lit(1.0) - least(lit(1.0), nonAlnumRatio * 10)) * lit(0.2))
            .as("quality"))
        .orderBy(col("doc_id"))
    }),
    // Token counting: whitespace + BPE-ish regex segmentation.
    "q56_token_counts" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.nTokens(col("text")).as("n_ws_tok"),
          TextOps.bpeishCount(col("text")).as("n_bpeish"))
        .orderBy(col("doc_id"))
    }),
    // Content fingerprint (sorted-distinct-token md5) + collision groups.
    "q57_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id"))
    }),
    // Deterministic corpus sampling + train/valid/test splitting: the
    // salted-md5 bucket is engine- and run-stable, so the same document
    // lands in the same split on any cluster — the reproducibility
    // property rand()-based sampling lacks. Pure per-row arithmetic:
    // sampling 100 TB is one codegen'd scan, no shuffle.
    "q72_hash_sample" -> ((s, dir) => {
      val pct = TextOps.hashBucket(col("doc_id"))
      t(s, dir, "documents")
        .select(col("doc_id"), pct.as("pct"),
          TextOps.splitLabel(pct).as("split"),
          when(pct < 10, 1L).otherwise(0L).as("in_sample"))
        .orderBy(col("doc_id"))
    }),
    // Gopher-style repetition quality signals (duplicate-word /
    // duplicate-2-gram / top-2-gram fractions) — per-row array
    // arithmetic, no explode: the filter pass over a corpus is a single
    // whole-stage-codegen scan.
    "q73_repetition" -> ((s, dir) => {
      val text = col("text")
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.dupWordFrac(text).as("dup_word_frac"),
          TextOps.dupNgramFrac(text, 2).as("dup_2gram_frac"),
          TextOps.topNgramFrac(text, 2).as("top_2gram_frac"))
        .orderBy(col("doc_id"))
    }),
    // Exact corpus token-count percentiles, lower-quantile semantics
    // (smallest value whose cumulative count reaches ⌈q·N⌉) — the
    // integer-rank definition expressions.Qsk estimates at scale. The
    // plan aggregates to a VALUE HISTOGRAM first (distinct token counts,
    // not documents), so the window runs over a tiny frame: the corpus
    // contributes one partial-agg shuffle, nothing sorts at corpus size.
    "q74_token_quantiles" -> ((s, dir) => {
      import s.implicits._
      val hist = t(s, dir, "documents")
        .select(TextOps.nTokens(col("text")).as("n_tok"))
        .groupBy(col("n_tok")).agg(count(lit(1)).as("cnt"))
      val cum = hist.withColumn("cum",
        sum(col("cnt")).over(org.apache.spark.sql.expressions.Window
          .orderBy(col("n_tok"))
          .rowsBetween(Long.MinValue, 0)))
        .crossJoin(hist.agg(sum(col("cnt")).as("total")))
      cum.crossJoin(Seq(0.25, 0.5, 0.75, 0.9).toDF("q"))
        .filter(col("cum") >= ceil(col("q") * col("total")))
        .groupBy(col("q")).agg(min(col("n_tok")).as("value"))
        .orderBy(col("q"))
    }),
    // q74 grouped: exact token-count percentiles PER LANGUAGE — the
    // per-stratum form quality cutoffs actually use (a 25th-percentile
    // floor computed over 'en' must not be polluted by short 'und'
    // docs). Same value-histogram shape: the corpus contributes one
    // (lang, n_tok) partial-agg shuffle; windows run per language over
    // distinct counts only.
    "q87_lang_quantiles" -> ((s, dir) => {
      import s.implicits._
      val hist = t(s, dir, "documents")
        .select(col("lang"), TextOps.nTokens(col("text")).as("n_tok"))
        .groupBy(col("lang"), col("n_tok")).agg(count(lit(1)).as("cnt"))
      val W = org.apache.spark.sql.expressions.Window
      val cum = hist
        .withColumn("cum", sum(col("cnt")).over(W.partitionBy(col("lang"))
          .orderBy(col("n_tok")).rowsBetween(Long.MinValue, 0)))
        // per-language total as an unbounded window over the same
        // partitioning — no second aggregate + join
        .withColumn("total", sum(col("cnt")).over(W.partitionBy(col("lang"))))
      cum
        .crossJoin(Seq(0.25, 0.5, 0.9).toDF("q"))
        .filter(col("cum") >= ceil(col("q") * col("total")))
        .groupBy(col("lang"), col("q")).agg(min(col("n_tok")).as("value"))
        .orderBy(col("lang"), col("q"))
    }),
    // Context-window chunking (50-token chunks, 10-token overlap): one
    // scan + generate; chunk hashes keep the output compact. The
    // operator every pretraining pipeline runs between cleaning and
    // tokenization.
    "q75_chunking" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), TextOps.nTokens(col("text")).as("n"),
          posexplode(TextOps.chunkTexts(col("text"), 50, 10))
            .as(Seq("chunk_idx", "chunk")))
        .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
          // arithmetic, not a re-split of the joined string: the chunk's
          // token count is fully determined by (n, chunk_idx)
          least(lit(50L), col("n") - col("chunk_idx") * 40L).as("n_tok"),
          md5(col("chunk")).as("chunk_hash"))
        .orderBy(col("doc_id"), col("chunk_idx"))
    }),
    // 16-bit SimHash fingerprints.
    "q58_simhash" -> ((s, dir) => {
      DedupOps.simhash16(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    }),
    // SimHash near-dup pairs: 64-bit fingerprints, Hamming-LSH bands
    // (pigeonhole-exact at distance ≤ 3) + exact Hamming verify — the
    // pair-derivation half of q58, at the width whose 16-bit bands keep
    // buckets collision-bounded at corpus scale.
    "q71_simhash_pairs" -> ((s, dir) => {
      val sim = DedupOps.simhashBits(t(s, dir, "documents"), "doc_id", "text", 64)
      DedupOps.simhashPairs(sim, "doc_id", bits = 64)
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Brute-force cosine top-10 vs query vector (vec_id=0).
    "q60_knn_bruteforce" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.bruteForceTopK(e, e.filter(col("vec_id") === 0), "vec_id",
        "embedding", 10)
    }),
    // Sign-bucket LSH pruned top-5 (ANN scale path).
    "q61_knn_lsh" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.lshTopK(e, e.filter(col("vec_id") === 0), "vec_id",
        "embedding", 5)
    }),
    // IVF centroid build: per-label mean vector, one row per dimension.
    "q62_centroids" -> ((s, dir) => {
      VectorOps.centroids(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy(col("label"), col("dim"))
    }),
    // IVF search: probe the 2 nearest inverted lists, exact-score inside.
    "q70_knn_ivf" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
      VectorOps.ivfTopK(e, e.filter(col("vec_id") === 0), "vec_id",
        "label", "embedding", 10, nprobe = 2)
    }),
    // MEASURED recall of the persisted IVF index (lake.AnnIndex) against
    // brute-force ground truth, per nprobe — the q63/q67 principle
    // applied to the served-index path. Build once, then sweep nprobe
    // over a fixed query set. Both the truth and the index search run
    // SET-AT-A-TIME (one crossJoin+rank plan for truth, one
    // AnnIndex.topKJoin plan per nprobe) — the batch shape bulk ANN
    // should copy; the only collects are the measurement rollups (k×8
    // id pairs, 4 summary rows), bounded by the sweep, never by query
    // count. SELF-CHECKING since round 10: DuckDB cannot reproduce the
    // iterative-kmeans index, so the frame emits per-nprobe recall
    // FLOORS and a recall_ok flag the oracle pins to 1 — a recall
    // regression now fails the hash instead of hiding behind a
    // rows-only check (floors sit under both the sf0.01 and sf0.1
    // measurements: 0.30/0.475/0.65/0.86 and 0.25/0.375/0.55/0.79;
    // the raw numbers stay observable via AnnIndex.measuredRecall).
    "q95_ann_recall" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val k = 10
      val nQ = 8
      val queries = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding"))
      // batch brute-force truth: per-query rank window over one
      // broadcast crossJoin — same (score desc, id) tie-break as
      // bruteForceTopK, all queries in one plan
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
      val q = queries.select(col("qid"), col("embedding").as("__qv"),
        VectorOps.norm(col("embedding")).as("__qn"))
      val truth: Set[(Long, Long)] = e
        .withColumn("__n", VectorOps.norm(col("embedding")))
        .crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"),
          VectorOps.cosinePrenormed(col("embedding"), col("__qv"),
            col("__n"), col("__qn")).as("score"))
        .withColumn("rk", row_number().over(W)).filter(col("rk") <= k)
        .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
      // scratch index: the scaffold unpins the bucketed-scan conf,
      // drops the catalog tables and deletes the temp lake even if a
      // search throws — a leaked pin would re-plan the rest of the run
      val floors = Map(1 -> 0.15, 2 -> 0.25, 4 -> 0.45, 8 -> 0.70)
      val rows = graft.lake.AnnIndex.withScratchIndex(
          s, e, "vec_id", "embedding", k = 16, numBuckets = 8) { idx =>
        Seq(1, 2, 4, 8).map { np =>
          val got = idx.topKJoin(queries, "qid", "embedding", k, nprobe = np)
            .select(col("qid"), col("id")).as[(Long, Long)].collect().toSet
          val hits = truth.count(got.contains)
          val recall = hits.toDouble / (k * nQ)
          (np, k, nQ, floors(np), if (recall >= floors(np)) 1 else 0)
        }
      }
      rows.toDF("nprobe", "k", "n_queries", "recall_floor", "recall_ok")
        .orderBy(col("nprobe"))
    }),
    // PRODUCT-QUANTIZED ANN (Jégou et al. 2011) — the memory/scan-bytes
    // scale path the IVF index (q95) doesn't cover: 64-dim float32
    // embeddings compress 32× into an 8-byte codes COLUMN (8 blocks ×
    // 256 codes), candidates rank by fused-kernel ADC cosine over the
    // codes alone (column pruning delivers the byte cut), and only the
    // k·refine survivors are exactly rescored from full vectors. Like
    // q95, the iterative codebook training has no DuckDB oracle, so the
    // frame is SELF-CHECKING: per-refine recall floors + ok flags the
    // oracle pins (floors sit under both the sf0.01 and sf0.1
    // measurements: 0.74/0.93/1.00 and 0.49/0.66/0.81 at refine 1/2/4),
    // plus the constant code_bytes column that hash-pins the
    // compression claim. refine = corpus/k reproduces brute force
    // exactly (spec-pinned).
    "q117_pq_recall" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val k = 10
      val nQ = 8
      val queries = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding"))
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
      val q = queries.select(col("qid"), col("embedding").as("__qv"),
        VectorOps.norm(col("embedding")).as("__qn"))
      val truth = e.withColumn("__n", VectorOps.norm(col("embedding")))
        .crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"), VectorOps.cosinePrenormed(
          col("embedding"), col("__qv"), col("__n"), col("__qn")).as("score"))
        .withColumn("rk", row_number().over(W)).filter(col("rk") <= k)
        .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
      val cbs = VectorOps.pqTrainCodebooks(e, "embedding", m = 8, iters = 2)
      // the persisted-codes shape: encode once, reuse across the sweep
      val codes = VectorOps.pqEncodeCorpus(e, "vec_id", "embedding", cbs)
      val floors = Map(1 -> 0.35, 2 -> 0.50, 4 -> 0.65)
      val rows = Seq(1, 2, 4).map { refine =>
        val got = VectorOps.pqTopKJoin(e, queries, "qid", "vec_id",
            "embedding", k, cbs, refine, Some(codes))
          .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
        val recall = truth.count(got.contains).toDouble / (k * nQ)
        (refine, k, nQ, 8, floors(refine),
          if (recall >= floors(refine)) 1 else 0)
      }
      rows.toDF("refine", "k", "n_queries", "code_bytes", "recall_floor",
          "recall_ok")
        .orderBy(col("refine"))
    }),
    // RESIDUAL IVF-PQ (IVFADC, Jégou et al. 2011 §IV) through the
    // SERVED index: codes quantize v − c(cluster), so the same 8 bytes
    // model the tighter post-assignment distribution — measured
    // recall@10 beats q117's raw codes at refine 2/4 on both SFs
    // (sf0.1: 0.68 vs 0.61 / 0.84 vs 0.78). The sweep probes EVERY
    // list (nprobe = k) so the number isolates codebook quality, not
    // IVF loss. Self-checking like q95/q117: floors + ok flags +
    // the code_bytes constant, DuckDB-pinned; kernel/lifecycle
    // correctness is spec-pinned (full-refine == exact bit-for-bit).
    "q118_ivfpq_residual_recall" -> ((s, dir) => {
      import s.implicits._
      val e = t(s, dir, "embeddings")
      val k = 10
      val nQ = 8
      val queries = e.filter(col("vec_id") < nQ)
        .select(col("vec_id").as("qid"), col("embedding"))
      val W = org.apache.spark.sql.expressions.Window
        .partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
      val q = queries.select(col("qid"), col("embedding").as("__qv"),
        VectorOps.norm(col("embedding")).as("__qn"))
      val truth = e.withColumn("__n", VectorOps.norm(col("embedding")))
        .crossJoin(broadcast(q))
        .select(col("qid"), col("vec_id"), VectorOps.cosinePrenormed(
          col("embedding"), col("__qv"), col("__n"), col("__qn")).as("score"))
        .withColumn("rk", row_number().over(W)).filter(col("rk") <= k)
        .select(col("qid"), col("vec_id")).as[(Long, Long)].collect().toSet
      val floors = Map(1 -> 0.35, 2 -> 0.50, 4 -> 0.65)
      val rows = graft.lake.AnnIndex.withScratchIndex(
          s, e, "vec_id", "embedding", k = 16, numBuckets = 8) { idx =>
        idx.enablePq(m = 8, ksub = 256, iters = 2, samplePct = 100,
          residual = true)
        Seq(1, 2, 4).map { refine =>
          val got = idx.topKJoinPq(queries, "qid", "embedding", k,
              nprobe = 16, refine = refine)
            .select(col("qid"), col("id")).as[(Long, Long)].collect().toSet
          val recall = truth.count(got.contains).toDouble / (k * nQ)
          (refine, k, nQ, 8, floors(refine),
            if (recall >= floors(refine)) 1 else 0)
        }
      }
      rows.toDF("refine", "k", "n_queries", "code_bytes", "recall_floor",
          "recall_ok")
        .orderBy(col("refine"))
    }),
    // CORPUS DRIFT monitor: per-source Jensen–Shannon divergence (base
    // 2) between the token distributions of two halves of the corpus
    // (doc_id parity stands in for yesterday/today) — the crawl
    // regression check a rolling ingest runs daily: a scraper change
    // that shifts a source's token mix flags here before it reaches a
    // model eval. One explode → wordcount-shaped (key, token) agg with
    // map-side combine (the only heavy shuffle, linear in tokens), a
    // broadcast per-key totals join, and a per-key rollup of
    // closed-form JSD terms — nothing pairwise, nothing driver-side.
    // The JSD rounds to 6 dp (aggregate-output rounding: summation
    // order across engines/partitionings differs sub-ulp).
    // the day split is alternating id-blocks of 20 ((doc_id % 40) < 20),
    // NOT doc_id parity: the fixture assigns source = doc_id % 20, so a
    // parity split would give every source exactly one EMPTY day (the
    // NaN edge, pinned in the unit spec instead)
    "q119_corpus_drift" -> ((s, dir) => {
      graft.functions.DriftOps.tokenDistributionDrift(
          t(s, dir, "documents"), "source", "text",
          when(col("doc_id") % 40 < 20, 0).otherwise(1))
        .withColumn("drifted", (col("jsd") >= 0.05).cast("int"))
        .orderBy(col("source"))
    }),

    // Embedding-cosine near-dup pairs within (label × sign-bucket)
    // buckets. The 4-bit sign bucket rides on the join key so a hot label
    // splits into ≤16 sub-buckets: pair cost is Σ bucket² over the finer
    // partition, bounding the quadratic blow-up a skewed label would
    // cause at 100 TB. Recall caveat: hyperplane-LSH collision prob per
    // bit is 1 − θ/π, so at the 0.35 threshold (θ≈69.5°) only ~14% of
    // boundary pairs share all 4 sign bits — the bucket is a deliberate
    // approximate/scale path. q67 below is the exact (unbucketed)
    // variant at the same threshold, so the recall loss is measured by
    // the correctness harness rather than hidden by a mirrored oracle.
    "q63_vector_neardup" -> ((s, dir) => {
      // norms are computed once per row BEFORE the pair join (the dot is
      // unavoidable per pair; the norms are not)
      val e = t(s, dir, "embeddings")
        .withColumn("__n", VectorOps.norm(col("embedding")))
        .withColumn("__bk", VectorOps.signBucket(col("embedding")))
      val a = e.select(col("label"), col("__bk"), col("vec_id").as("id_a"),
        col("embedding").as("va"), col("__n").as("na"))
      val b = e.select(col("label"), col("__bk"), col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("__n").as("nb"))
      a.join(b, Seq("label", "__bk"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("score", VectorOps.cosinePrenormed(
          col("va"), col("vb"), col("na"), col("nb")))
        .filter(col("score") >= 0.35)
        .select(col("id_a"), col("id_b"), col("score"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Exact embedding near-dup (label-blocked only, NO sign bucket):
    // ground truth for q63's approximate path. Row-count delta between
    // the two queries at the same threshold IS the measured recall loss
    // of the 4-bit bucket. Label blocking alone still bounds the pair
    // join (labels are a bounded-cardinality partition key); the bucket
    // is what makes the skewed-label case safe at 100 TB.
    "q67_vector_neardup_exact" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .withColumn("__n", VectorOps.norm(col("embedding")))
      val a = e.select(col("label"), col("vec_id").as("id_a"),
        col("embedding").as("va"), col("__n").as("na"))
      val b = e.select(col("label"), col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("__n").as("nb"))
      a.join(b, Seq("label"))
        .filter(col("id_a") < col("id_b"))
        .withColumn("score", VectorOps.cosinePrenormed(
          col("va"), col("vb"), col("na"), col("nb")))
        .filter(col("score") >= 0.35)
        .select(col("id_a"), col("id_b"), col("score"))
        .orderBy(col("id_a"), col("id_b"))
    }),
    // Semantic (embedding-level) dedup CLUSTERS: exact cosine pairs at
    // the q67 threshold → transitive closure → one cluster id per
    // vector (singletons keep their own id). The full-corpus version
    // of "keep one per meaning": q63/q67 find the pairs, q69 clusters
    // text near-dups — this is the embedding-space composition, and
    // its oracle closes the pairs with a recursive CTE, so the
    // distributed min-label/pointer-jumping loop is checked against an
    // independent fixpoint implementation.
    "q97_semantic_dedup" -> ((s, dir) =>
      semanticClusters(s, dir).orderBy(col("vec_id"))),
    // SemDeDup (Abbas et al. 2023): within each semantic cluster keep
    // at most K representatives and drop the rest — the selection step
    // the q97 clusters exist for. Keeper policy is deterministic
    // (lowest vec_id ranks first), so the kept set is identical on any
    // engine or run — the property a multi-epoch training run needs.
    // Scale shape: ranking windows over CLUSTER keys — the window
    // shuffle carries one row per vector, nothing quadratic. The PAIR
    // source is q67's label-blocked exact self-join (via
    // semanticClusters), so pair counts are bounded by the blocking
    // key's group sizes: a viral label still grows quadratically within
    // its block, and the scale path for that is q63's sign-bucketed
    // variant (finer blocks), not q52's LSH star guard — that guard
    // caps TEXT band buckets and never sees these embedding pairs.
    "q103_semdedup" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      semanticClusters(s, dir)
        .withColumn("rk", row_number().over(
          W.partitionBy(col("cluster")).orderBy(col("vec_id"))))
        .select(col("vec_id"), col("cluster"),
          (col("rk") <= 2).cast("int").as("keep"))
        .orderBy(col("vec_id"))
    }),
    // SemDeDup at SCALE: q103's keep-K selection with the pair source
    // re-blocked so pair work stays LINEAR as the corpus grows.
    // q67/q97/q103 block the exact cosine self-join on `label` — FIXED
    // cardinality, so ×10 corpus ⇒ ×100 within-block pairs (the round-7
    // probe measured b≈1.8 on the sf0.1→sfx1.0 decade). Here the
    // blocking key is a TRAINED coarse quantizer with k ∝ n/500:
    // expected cell size stays ~constant as n grows, so Σ cell² — the
    // candidate bound — grows linearly, the same argument as q52's LSH
    // bands. This is Abbas et al. 2023's actual recipe (kmeans whose k
    // scales with the corpus). The price is the q63-vs-q67 principle
    // again: a semantic group the quantizer splits across cells loses
    // its cross-cell pairs — boundary loss instead of sign-bucket loss,
    // MEASURED by comparing keep decisions against q103's exhaustive
    // blocking (the spec pins agreement ≥90% at test scale), and HALVED
    // by multi-probe blocking: each vector joins its 2 nearest cells,
    // so a pair split across two cells still collides in a shared
    // second-choice cell — a constant ×2 on blocked rows, not a growth
    // term. DuckDB cannot express the iterative quantizer, so the
    // query emits a constant-size VERDICT the oracle pins instead of
    // raw rows (see the in-query comment) — CORRECTNESS has had zero
    // rows-only entries since round 12. The whole recipe is the
    // public API [[DedupOps.semanticDedupBlocked]] — this query is a
    // thin caller at q67's 0.35 threshold; seeding/assignment driver
    // cost is O(k·dim) by construction (constant sample cap +
    // distributed hash seeding + single-literal centroid plan, see
    // VectorOps.kmeansLloyd/scoredArr).
    "q114_semdedup_scaled" -> ((s, dir) => {
      // trainSamplePct = 10: the quantizer trains on a deterministic
      // 10% sample (IVF practice), cutting the pipeline's full-corpus
      // scans from ~iters+1 to ~1 — the keep-agreement spec re-pins
      // ≥90% vs exhaustive truth under this default.
      //
      // SELF-CHECKING since round 12 (the q95/q120/q128 pattern —
      // formerly the dump's one rows-only row): the FULL-corpus
      // blocked dedup still runs, but the query emits a constant-size
      // verdict DuckDB can pin instead of quantizer-dependent rows —
      // (a) coverage: every input vector comes back exactly once with
      // keep ∈ {0,1}; (b) keeper policy: every component keeps exactly
      // min(2, size) members; (c) order: keepers are the smallest ids
      // (every kept id < every dropped id within a cluster); plus the
      // q120 agreement bound on the fixed ≤500-vector subset, reused
      // verbatim. The raw dedup rows remain the public API
      // ([[DedupOps.semanticDedupBlocked]], pinned by PlansSpec).
      val emb = t(s, dir, "embeddings")
      val full = DedupOps.semanticDedupBlocked(emb, "vec_id",
        "embedding", threshold = 0.35, trainSamplePct = 10)
      val nVec = emb.agg(count(lit(1)).as("n_vectors"))
      val inv = full.agg(
        count(lit(1)).as("__n_out"),
        countDistinct(col("vec_id")).as("__n_ids"),
        sum(when(col("keep").isin(0, 1), 0).otherwise(1)).as("__bad_keep"))
      val pol = full.groupBy(col("sem_cluster"))
        .agg(count(lit(1)).as("__sz"), sum(col("keep")).as("__k"),
          max(when(col("keep") === 1, col("vec_id"))).as("__max_kept"),
          min(when(col("keep") === 0, col("vec_id"))).as("__min_drop"))
        .agg(
          sum(when(col("__k") === least(lit(2L), col("__sz")), 0)
            .otherwise(1)).as("__bad_policy"),
          sum(when(col("__min_drop").isNull ||
              (col("__max_kept") < col("__min_drop")), 0)
            .otherwise(1)).as("__bad_order"))
      val agree = defs("q120_semdedup_agreement")(s, dir)
        .select(col("n_vectors").as("n_subset"), col("agreement_floor"),
          col("agreement_ok"))
      nVec.crossJoin(inv).crossJoin(pol).crossJoin(agree)
        .select(col("n_vectors"),
          ((col("__n_out") === col("n_vectors")) &&
            (col("__n_ids") === col("n_vectors")) &&
            (col("__bad_keep") === 0)).cast("int").as("coverage_ok"),
          (col("__bad_policy") === 0).cast("int").as("policy_ok"),
          (col("__bad_order") === 0).cast("int").as("order_ok"),
          col("n_subset"), col("agreement_floor"), col("agreement_ok"))
    }),
    // Leakage-safe train/valid/test split: q72's salted-hash
    // assignment keyed by the verified NEAR-DUP CLUSTER (q69's
    // components), not the document id — near-duplicates land in the
    // SAME split by construction, so a test document can never have a
    // train-set twin. This PREVENTS the eval-contamination q85/q91
    // scrub for after the fact (Lee et al. 2022 §6.2 measure exactly
    // this train/test near-dup leakage). Scale shape: q69's cluster
    // cost plus one scan-local hash per row — keying the split by
    // cluster_id adds NO shuffle over splitting by doc_id.
    "q116_leakage_safe_split" -> ((s, dir) => {
      val pct = TextOps.hashBucket(col("cluster_id"))
      textNearDupClusters(t(s, dir, "documents"))
        .select(col("doc_id"), col("cluster_id"),
          TextOps.splitLabel(pct).as("split"))
        .orderBy(col("doc_id"))
    }),
    // SELF-CHECK for q114's machinery — the one remaining family with
    // no DuckDB oracle (the iterative quantizer) gets a DRIVER-VISIBLE
    // bound: on a CONSTANT-SIZE subset (vec_id < 500 — bounded at any
    // SF, so the quadratic truth join is a fixed cost, never a scale
    // term), the blocked path's keep decisions are compared against
    // EXHAUSTIVE truth — the UNBLOCKED all-pairs threshold graph
    // (the same cosinePrenormed predicate, no blocking) fed through
    // the SAME keeper policy ([[DedupOps.semanticDedupFromPairs]], one
    // shared definition) — and the frame emits the agreement floor +
    // ok flag DuckDB pins. This is PlansSpec's ≥90% keep-agreement
    // bound promoted from ScalaTest into the CORRECTNESS gate: a
    // blocking-recall regression now fails the hash.
    "q120_semdedup_agreement" -> ((s, dir) => {
      val sub = t(s, dir, "embeddings").filter(col("vec_id") < 500)
      val blocked = DedupOps.semanticDedupBlocked(sub, "vec_id",
          "embedding", threshold = 0.35, trainSamplePct = 10)
        .select(col("vec_id"), col("keep").as("keep_blocked"))
      val e = sub.withColumn("__n", VectorOps.norm(col("embedding")))
      val a = e.select(col("vec_id").as("id_a"),
        col("embedding").as("va"), col("__n").as("na"))
      val b = e.select(col("vec_id").as("id_b"),
        col("embedding").as("vb"), col("__n").as("nb"))
      val exactPairs = a.crossJoin(b)
        .filter(col("id_a") < col("id_b"))
        .filter(VectorOps.cosinePrenormed(col("va"), col("vb"),
          col("na"), col("nb")) >= 0.35)
        .select(col("id_a"), col("id_b"))
      val truth = DedupOps.semanticDedupFromPairs(sub, "vec_id", exactPairs)
        .select(col("vec_id"), col("keep").as("keep_exact"))
      blocked.join(truth, "vec_id")
        .agg(count(lit(1)).as("n_vectors"),
          avg((col("keep_blocked") === col("keep_exact")).cast("int"))
            .as("__agree"))
        .select(col("n_vectors"),
          lit(0.9).as("agreement_floor"),
          (col("__agree") >= 0.9).cast("int").as("agreement_ok"))
    }),
    // EPOCH-SHUFFLED sequence packing — the training-order step q99's
    // doc_id-ordered packing doesn't cover: shuffle-then-pack in a
    // seeded pseudo-random global order. The whole recipe — including
    // the scale-safe sharded prefix-sum that replaces the global
    // window — is the public API [[graft.lake.CorpusPack.epochShuffledPack]];
    // this query is a thin caller at seed "graft-epoch-0".
    "q121_shuffled_pack" -> ((s, dir) => {
      graft.lake.CorpusPack.epochShuffledPack(
          t(s, dir, "documents")
            .withColumn("n_tok", size(split(col("text"), " ")).cast("long")),
          "doc_id", "n_tok", seed = "graft-epoch-0")
        .orderBy(col("doc_id"))
    }),
    // CONTRASTIVE TRIPLET MINING — training data FOR the embedding
    // models the rest of the vector stack consumes: (anchor, positive,
    // negative) rows where positives are the corpus's verified
    // semantic-dup pairs (here q67's exact pair graph — the validation
    // fixture; bulk callers feed [[DedupOps.semanticPairsBlocked]]'s
    // linear-scale graph into the same API) and negatives are a seeded
    // deterministic half-rotation draw, carried with their cosine and
    // a clean flag instead of a rejection loop. The whole recipe is
    // the public API [[graft.functions.TripletOps.mineTriplets]].
    "q122_contrastive_triplets" -> ((s, dir) => {
      TripletOps.mineTriplets(t(s, dir, "embeddings"), "vec_id",
          "embedding",
          defs("q67_vector_neardup_exact")(s, dir)
            .select(col("id_a"), col("id_b")),
          negThreshold = 0.35)
        .orderBy(col("anchor_id"))
    }),
    // STRATIFIED EXACT-K EVAL CARVE — the fixed-size per-stratum
    // sample the Bernoulli gate (q72) cannot give: q72's in_sample is
    // EXPECTED-size (rate × stratum), so eval subsets drift as strata
    // grow; here each source contributes exactly min(K, |stratum|)
    // docs, ranked by the salted hashDraw. The skew-safe two-level
    // rank is the public API [[TextOps.stratifiedTake]]; the oracle
    // recomputes with ONE window (the salting is a plan choice).
    "q123_stratified_eval" -> ((s, dir) => {
      TextOps.stratifiedTake(
          t(s, dir, "documents").select(col("doc_id"), col("source")),
          Seq("source"), "doc_id", k = 20, salt = "eval-0")
        .orderBy(col("doc_id"))
    }),
    // C4-STYLE LINE DEDUP — the third dedup granularity, between whole-
    // document (q50) and overlapping-window masking (q113): disjoint
    // 10-token "lines", each distinct line keeps exactly its first
    // corpus-wide occurrence, later occurrences drop WHOLESALE, and
    // documents reassemble from their survivors (Raffel et al. 2020
    // §2.2 — C4 discards repeated three-sentence spans). The public API
    // [[TextOps.lineDedup]] carries the scale argument: map-side
    // partial-min keeper (viral boilerplate lines collapse per task
    // before the shuffle — no per-key buffer, no skewed sort), hash-
    // keyed join back, per-DOCUMENT-bounded reassembly.
    "q124_line_dedup" -> ((s, dir) => {
      TextOps.lineDedup(t(s, dir, "documents"), "doc_id", "text",
          lineTokens = 10)
        .orderBy(col("doc_id"))
    }),
    // TEMPERATURE-SCALED MIXTURE WEIGHTS — the multilingual sampling
    // rule (Conneau et al. 2020 §3.1): source s samples ∝ p_s^τ of the
    // corpus TOKEN mass (not document count — long-doc sources would
    // otherwise oversample). τ = 0.5 flattens the head and upsamples
    // the tail; `boost` = w/p is the per-source multiplier a Bernoulli
    // gate (q72's hashFrac machinery) applies. τ = 0.5 runs through
    // sqrt — IEEE-correctly-rounded in every engine, so the weights
    // are bit-portable where pow would be faithful-only. One
    // vocabulary-sized shuffle; both normalizers broadcast back.
    "q125_temperature_mixture" -> ((s, dir) => {
      TextOps.temperatureWeights(
          t(s, dir, "documents").select(col("source"),
            size(split(col("text"), " ")).cast("long").as("n_tok")),
          "source", col("n_tok"), tau = 0.5)
        .select(col("source"), col("mass").as("n_tok"),
          round(col("p"), 4).as("p"), round(col("w"), 4).as("w"),
          round(col("boost"), 4).as("boost"))
        .orderBy(col("source"))
    }),
    // DISTINCT-N DIVERSITY — the corpus-diversity line of a dataset
    // card (Li et al. 2016): unique/total n-grams at n = 1, 2 per
    // source; low distinct-2 marks template-heavy sources before they
    // flood a mixture. Exact counts (two wordcount-shaped
    // aggregations, count-distinct shuffling (source, gram) once with
    // map-side collapse) — the card contract is exact, q68's HLL is
    // the sketched variant when approximation is acceptable.
    "q126_ngram_diversity" -> ((s, dir) => {
      TextOps.ngramDiversity(t(s, dir, "documents"), "source", "text")
        .orderBy(col("source"))
    }),
    // DIVERSITY AT SCALE — the SKETCHED twin of q126: per-source
    // distinct-unigram cardinality as mergeable HLL sketches (built
    // per (source, half) then merged, exercising the checkpointable
    // path q68 pins on orders), self-checking against the exact count
    // with the 3σ ≈ 5% bound at 2^12 registers. At 100 TB the card
    // runs q126's exact aggregation once; the DAILY diversity watch
    // runs THIS shape — per-source sketch bytes are fixed-size
    // regardless of vocabulary, and yesterday's sketches merge with
    // today's instead of re-scanning the corpus.
    "q128_diversity_sketch" -> ((s, dir) => {
      import graft.expressions.HllSketch._
      val uni = t(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("g"))
      val halves = uni
        .groupBy(col("source"), (col("doc_id") % 2).as("__half"))
        .agg(hll_sketch(col("g")).as("__sk"))
      val est = halves.groupBy(col("source"))
        .agg(hll_estimate(hll_merge(col("__sk"))).as("__approx"))
      uni.groupBy(col("source"))
        .agg(countDistinct(col("g")).as("exact_unigrams"),
          count(lit(1)).as("n_unigrams"))
        .join(est, Seq("source"))
        .select(col("source"), col("exact_unigrams"), col("n_unigrams"),
          (abs(col("__approx") - col("exact_unigrams"))
            <= col("exact_unigrams") * lit(0.05)).cast("int")
            .as("est_in_bound"))
        .orderBy(col("source"))
    }),
    // TOKENIZER FERTILITY — subword tokens per whitespace token, per
    // language: THE tokenizer-fit metric for a multilingual corpus (a
    // language paying 2× pieces/word gets half the effective context
    // and double the training cost — the signal that triggers vocab
    // retraining or per-language budget correction, and the reason
    // q112 packs in BPE rather than whitespace denomination). One
    // scan, one vocabulary-sized aggregate; the BPE count is the q110
    // kernel, whose per-doc parity the q110 oracle already pins.
    "q129_token_fertility" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("lang"),
          Bpe.bpeTokenCount(Bpe.sanitizeAscii(col("text")), bpeVocab48)
            .as("n_bpe"),
          size(split(col("text"), " ")).cast("long").as("n_ws"))
        .groupBy(col("lang"))
        .agg(sum(col("n_bpe")).as("n_bpe"), sum(col("n_ws")).as("n_ws"))
        .select(col("lang"), col("n_bpe"), col("n_ws"),
          round(col("n_bpe").cast("double") / col("n_ws"), 4)
            .as("fertility"))
        .orderBy(col("lang"))
    }),
    // TRAINABLE QUALITY CLASSIFIER — the modern recipe's quality gate
    // (GPT-3 §A.2 / DCLM: a linear classifier over hashed n-gram
    // features scoring curated-vs-crawl likelihood), replacing q55's
    // fixed heuristics with FITTED weights. Train: closed-form Naive
    // Bayes log-odds over 1024 hashed unigram+bigram buckets (q104's
    // hashing, one corpus pass, M-bounded model — never a corpus
    // collect). Score: ONE codegen'd scan via
    // [[graft.expressions.HashedNgramScore]] — the weights ride the
    // codegen reference array, so the gate adds ZERO exchanges to a
    // corpus pass (plan-asserted), vs q104's (doc, bucket) shuffle +
    // broadcast-join scoring shape. Gate: log-odds > 0 ⇔ P(curated) >
    // 0.5. The whole recipe is the public API
    // [[graft.functions.QualityClassifier]] (train / scoreDocs /
    // LinearModel-format persistence).
    "q130_quality_classifier" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.functions.QualityClassifier.train(docs, "text",
        col("source").isin("src0", "src1"))
      graft.functions.QualityClassifier
        .scoreDocs(docs, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    }),
    // LOGISTIC REFINEMENT of the q130 gate — the fastText/DCLM
    // discriminative step: from the NB closed form, full-batch
    // gradient descent on the mean logistic loss over the SAME hashed
    // count features (corpus text scanned once; each epoch re-aggregates
    // only the narrow (doc, bucket, count) frame; gradients collect
    // M-bounded). GD weights are double-summation-order sensitive at
    // the ulp level, so the oracle pins ROBUST facts, not weights —
    // the q114/q120 verdict pattern: doc count, epoch count, and the
    // loss-improvement flag (the improvement is orders of magnitude
    // above ulp noise).
    "q132_logistic_refined_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (_, losses) = graft.functions.QualityClassifier.trainLogistic(
        docs, "doc_id", "text", col("source").isin("src0", "src1"),
        epochs = 3)
      docs.agg(count(lit(1)).as("n_docs"))
        .select(col("n_docs"),
          lit(3).cast("int").as("epochs"),
          lit(if (losses.last < losses.head) 1 else 0).cast("int")
            .as("loss_improved_ok"))
    }),
    // TRAINABLE LANGUAGE ID — the fastText-LID shape (Joulin et al.
    // 2017; CCNet's stage one): multinomial NB over hashed char
    // trigrams, upgrading q54's fixed stopword votes to FITTED
    // per-language models. Train: one corpus pass, ONE (bucket, lang)
    // aggregation yields all K class models (M×K driver collect,
    // bounded). Predict: K codegen char-gram kernels in one
    // projection, argmax on rounded scores with ties to the smaller
    // lang — zero exchanges. The whole recipe is the public API
    // [[graft.functions.LangId]]. NOTE the oracle pins the ARITHMETIC
    // (train + score + argmax recomputed end-to-end in DuckDB); model
    // SKILL on this synthetic corpus is data-limited — its lang labels
    // are only weakly text-correlated, so the majority-class prior
    // dominates here. LangIdSpec pins the learning behavior on a
    // fixture whose classes actually separate.
    "q134_langid_trained" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.functions.LangId.train(docs, "text", "lang")
      graft.functions.LangId.predict(docs, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    }),
    // STOCHASTIC PARETO ACCEPTANCE — GPT-3's actual keep rule (Brown
    // et al. 2020 §A.2: keep iff pareto(α=9) > 1 − score), completing
    // the classifier family: q130 is the hard gate, this the
    // diversity-preserving soft gate that admits SOME low scorers. The
    // draw is the salted-hash uniform through the inverse Lomax CDF —
    // deterministic, replayable, oracle-checkable where rand() is
    // none of those. One codegen'd scan, zero exchanges (the q130
    // scorer plus scalar md5/pow arithmetic).
    "q133_pareto_quality_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.functions.QualityClassifier.train(docs, "text",
        col("source").isin("src0", "src1"))
      graft.functions.QualityClassifier
        .paretoGate(docs, "doc_id", "text", model)
        .orderBy(col("doc_id"))
    }),
    // COMPOSED RECIPE under the TRAINED gate — q82's pretraining
    // pipeline with its heuristic quality filter (n_tok ≥ 10 ∧
    // dup-word-frac < 0.3) swapped for the q130 classifier gate:
    // classifier keep → exact-dedup keep-first → leakage-stable split
    // → per-split corpus stats. Same plan spine as q82 (the gate is
    // scan-local either way — the classifier adds no shuffle).
    "q131_classifier_gate_pipeline" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val model = graft.functions.QualityClassifier.train(docs, "text",
        col("source").isin("src0", "src1"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_hash")).orderBy(col("doc_id"))
      docs
        .filter(round(model.scoreCol(col("text")), 4) > 0.0)
        .select(col("doc_id"), col("text"),
          TextOps.nTokens(col("text")).as("n_tok"))
        .withColumn("content_hash", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("n_tok"),
          TextOps.hashBucket(col("doc_id")).as("pct"),
          expr("greatest((n_tok - 10 + 39) DIV 40, 1L)").as("n_chunks"))
        .select(col("n_tok"), col("n_chunks"),
          TextOps.splitLabel(col("pct")).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chunks")).as("total_chunks"))
        .orderBy(col("split"))
    }),
    // ZIPF SLOPE — corpus-naturalness QA: least-squares slope of
    // ln(freq) on ln(rank) over each language's top-1000 tokens.
    // Natural text sits near −1; synthetic/templated feeds go flat or
    // cliffed, so a drifting slope is a one-row-per-group alarm the
    // drift monitor (q119) can't see (JSD measures distribution
    // CHANGE, not SHAPE). The rank window runs over the VOCABULARY
    // frame, never the corpus; the regression is the closed form in
    // both engines (no engine-private regr_slope internals).
    "q127_zipf_slope" -> ((s, dir) => {
      TextOps.zipfSlope(t(s, dir, "documents"), "lang", "text",
          topN = 1000)
        .orderBy(col("lang"))
    }),
    // Context-window sequence packing: per language, documents stream
    // in doc_id order into fixed token-budget packs — a doc opens in
    // the pack where its PRECEDING cumulative tokens land, so every
    // pack except the last starts full-or-overflowing by less than one
    // document (the standard greedy packing for pretraining batches).
    // One window over (lang, doc_id): a scan plus one shuffle on the
    // partition key, nothing quadratic.
    "q99_sequence_pack" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      t(s, dir, "documents")
        .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
        .select(col("lang"), col("doc_id"), col("n_tok"),
          floor(coalesce(sum(col("n_tok")).over(w), lit(0L)) / lit(2048L))
            .as("pack_id"))
        .orderBy(col("lang"), col("doc_id"))
    }),
    // Cross-source duplication matrix — provenance analytics (mirror /
    // scraper detection): for every pair of sources, how many exact
    // contents they share. Shape: one hash-shuffle to the distinct
    // (content_hash, source) frame, then pair expansion WITHIN each
    // hash's source set — bounded by (#sources choose 2) per hash, and
    // #sources is vocabulary-sized at any corpus scale, so the
    // quadratic term never touches document counts.
    "q98_cross_source_dups" -> ((s, dir) => {
      val hs = t(s, dir, "documents")
        .select(md5(col("text")).as("content_hash"), col("source"))
        .distinct()
      val a = hs.select(col("content_hash"), col("source").as("source_a"))
      val b = hs.select(col("content_hash"), col("source").as("source_b"))
      a.join(b, Seq("content_hash"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("shared_contents"))
        .orderBy(col("source_a"), col("source_b"))
    }),
    // Source-level quality gating — the domain-blocklist shape of the
    // C4/RefinedWeb pipelines: score each SOURCE on aggregate signals
    // (mean document length, exact-dup rate) and drop failing sources
    // wholesale. Scale shape: the per-source stats are one partial-agg
    // shuffle keyed by source (the frame is vocabulary-sized), and the
    // verdict joins back as a broadcast semi-join — the corpus itself
    // is scanned twice, shuffled once. Gates use EXACT arithmetic only
    // (integer sums/counts → one division): a float-mean gate could
    // flip on summation order between engines at 100 TB.
    "q100_source_filter" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val stats = d.groupBy(col("source")).agg(
        // sum(long)/count, NOT avg(): Average accumulates in DOUBLE, so
        // its exactness would silently depend on Σ n_chars < 2^53 —
        // an exact long sum divided once keeps the gate order-free
        (sum(col("n_chars")).cast("double") / count(lit(1)))
          .as("mean_chars"),
        (lit(1.0) - countDistinct(md5(col("text"))).cast("double") /
          count(lit(1))).as("dup_rate"))
      val good = stats
        .filter(col("mean_chars") >= 290.0 && col("dup_rate") <= 0.2)
        .select(col("source"))
      d.join(broadcast(good), Seq("source"), "left_semi")
        .select(col("source"), col("doc_id"))
        .orderBy(col("source"), col("doc_id"))
    }),
    // Mixture resampling to target language shares — the data-mixing
    // step of LLaMA/DoReMi-style pretraining recipes: each stratum's
    // rate is target_share·N/n_stratum; rate>1 UPSAMPLES (docs emitted
    // ⌊rate⌋ or ⌈rate⌉ times, the fractional epoch decided per-doc by a
    // salted-hash acceptance test) and rate<1 downsamples — so the
    // expected achieved mixture IS the target, deterministically: the
    // same doc gets the same copy count on any engine, cluster, or run,
    // unlike rand()-based resampling. Scale shape: strata counts are
    // one partial-agg shuffle collapsing to a ~|langs|-row frame; rates
    // broadcast back; the copy expansion is per-row codegen (hash +
    // bounded sequence) inside the scan — the corpus itself never
    // shuffles. floor(rate) keeps copies exact: both engines floor the
    // identical IEEE double, and the fractional-part comparison uses a
    // hash fraction whose long→double conversion is exact (<2^20).
    "q101_mixture_resample" -> ((s, dir) => {
      val weights = mixWeights
      val d = t(s, dir, "documents").select(col("doc_id"), col("lang"))
      val strata = d.groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      // total derives from the |langs|-row strata frame — scanning the
      // corpus again for one number would be a third full pass
      val total = strata.agg(sum(col("n_l")).as("total"))
      val rates = strata.crossJoin(broadcast(total))
        .select(col("lang"),
          (element_at(weights, col("lang")) * col("total") / col("n_l"))
            .as("rate"))
      d.join(broadcast(rates), Seq("lang"))
        .withColumn("copies", floor(col("rate")) +
          when(TextOps.hashFrac(col("doc_id"), "mix") <
            col("rate") - floor(col("rate")), 1L).otherwise(0L))
        // sequence(1, 0) would DESCEND ([1,0]) rather than come up
        // empty — zero-copy docs must be filtered out before explode
        .filter(col("copies") >= 1L)
        .select(col("doc_id"), col("lang"),
          explode(sequence(lit(1L), col("copies"))).as("copy"))
        .orderBy(col("doc_id"), col("copy"))
    }),
    // CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): score
    // every document against the corpus bigram LM (q92's scorer), then
    // split each language into head/middle/tail at the per-lang score
    // tertiles. Unlike ntile() — which would SORT every document within
    // its language — the cutoffs come from a (lang, rounded-score)
    // VALUE HISTOGRAM (q74's trick): the window runs over a frame
    // bounded by distinct 4-decimal scores (≈ value-range·10⁴, corpus-
    // size-independent), the cutoff frame broadcasts back, and bucket
    // assignment is a per-row comparison inside the scan. Lower-
    // quantile semantics (smallest score whose cumulative count reaches
    // ⌈q·N⌉) keep ties engine-stable: equal scores always land in the
    // same bucket. Corpus cost is exactly q92's two shuffles plus one
    // histogram agg.
    "q102_ccnet_buckets" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      // q92's one-pass shape: collapse to (doc, bigram, k) first so the
      // LM counts and the scoring join share one materialized Exchange
      // (exchange reuse) instead of exploding the corpus twice
      val dbc = docs.select(col("doc_id"),
        explode(TextOps.shingles(col("text"), 2)).as("bigram"))
        .filter(col("bigram").isNotNull) // q92's stage-reuse precondition
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("k"))
      val counts = dbc.groupBy(col("bigram")).agg(sum(col("k")).as("c12"))
        .withColumn("c1", sum(col("c12")).over(
          W.partitionBy(substring_index(col("bigram"), " ", 1))))
      val scored = dbc.join(counts, Seq("bigram"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("k") * log(col("c12") / col("c1"))) /
          sum(col("k")), 4).as("score"))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      val hist = scored.groupBy(col("lang"), col("score"))
        .agg(count(lit(1)).as("cnt"))
      val cum = hist
        .withColumn("cum", sum(col("cnt")).over(
          W.partitionBy(col("lang")).orderBy(col("score"))
            .rowsBetween(Long.MinValue, 0)))
        .join(hist.groupBy(col("lang")).agg(sum(col("cnt")).as("total")),
          Seq("lang"))
      val cuts = cum.groupBy(col("lang")).agg(
        min(when(col("cum") >= ceil(lit(1.0 / 3) * col("total")),
          col("score"))).as("c13"),
        min(when(col("cum") >= ceil(lit(2.0 / 3) * col("total")),
          col("score"))).as("c23"))
      scored.join(broadcast(cuts), Seq("lang"))
        .select(col("doc_id"), col("lang"), col("score"),
          when(col("score") <= col("c13"), "tail")
            .when(col("score") <= col("c23"), "middle")
            .otherwise("head").as("bucket"))
        .orderBy(col("doc_id"))
    }),
    // The LM quality filter at its 100 TB OPERATING SHAPE. Production
    // CCNet scores against a FIXED pretrained LM (KenLM on wiki-sized
    // reference text), not the corpus's own unbounded counts — and that
    // changes the plan class: q92/q102 shuffle the (doc, bigram) stream
    // (linear, but with a text-sized constant — 114 MiB at sfx1.0,
    // the largest shuffler in the probe set), while here the model is
    // trained on a bounded reference slice (top-M bigrams by count,
    // deterministic tie-break), BROADCAST, and scoring is scan-local:
    // the exploded bigram stream never crosses an exchange, and the
    // per-doc aggregation's map-side combine reduces to one partial row
    // per doc before the only shuffle. OOV bigrams (the smoothing
    // branch q92 structurally avoids) score at a fixed 1e-6 floor in
    // both engines. Fully oracle-checkable — the bounded model is
    // deterministic SQL, unlike q114's iterative quantizer.
    "q115_lm_quality_scaled" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      // the "wiki-like" held-out reference slice the model trains on
      val refBg = docs
        .filter(col("lang") === "en" && col("doc_id") % 10 === 0)
        .select(explode(TextOps.shingles(col("text"), 2)).as("bigram"))
        .filter(col("bigram").isNotNull)
        .groupBy(col("bigram")).agg(count(lit(1)).as("c12"))
      val model = refBg.orderBy(col("c12").desc, col("bigram")).limit(2000)
        .withColumn("c1", sum(col("c12")).over(
          W.partitionBy(substring_index(col("bigram"), " ", 1))))
      docs.select(col("doc_id"), col("lang"),
          explode(TextOps.shingles(col("text"), 2)).as("bigram"))
        .filter(col("bigram").isNotNull)
        .join(broadcast(model), Seq("bigram"), "left")
        .groupBy(col("doc_id"), col("lang"))
        .agg(round(sum(log(coalesce(col("c12") / col("c1"), lit(1e-6)))) /
          count(lit(1)), 4).as("score"))
        .orderBy(col("doc_id"))
    }),
    // DSIR importance resampling (Xie et al. 2023): weight every raw
    // document by how target-like its hashed-n-gram profile is —
    // log p_target(doc) − log p_raw(doc) under two add-1-smoothed
    // bag-of-hashed-bigrams models — then keep the top quarter at a
    // histogram-derived cutoff. The models are M-bucket frames (M=1024:
    // feature hashing caps model size regardless of corpus vocabulary —
    // that is DSIR's own scale trick) so both broadcast; per-doc
    // scoring is one (doc, bucket) partial-agg shuffle + one doc-keyed
    // agg — the TF-IDF shuffle class. Selection reuses q102's value-
    // histogram machinery (the cutoff window runs over distinct rounded
    // weights, never over documents), so no corpus sort anywhere.
    "q104_dsir_importance" -> ((s, dir) => {
      val m = 1024L
      val docs = t(s, dir, "documents")
      // ONE corpus pass (q92's shape): collapse straight to the
      // (doc, tgt, bucket, count) frame; the M-bucket models, their
      // totals AND the per-doc scoring all derive from that one
      // materialized Exchange — the naive form re-explodes the corpus
      // for each. Counts are exact longs, so the derived models are
      // bit-identical to corpus-pass recomputation.
      val grouped = docs.select(col("doc_id"),
          col("source").isin("src0", "src1").as("tgt"),
          explode(TextOps.shingles(col("text"), 2)).as("bigram"))
        .select(col("doc_id"), col("tgt"),
          pmod(graft.expressions.HexPrefixToLong.hex_prefix_to_long(
            md5(col("bigram")), 15), lit(m)).as("b"))
        .filter(col("b").isNotNull) // q92's stage-reuse precondition
        .groupBy(col("doc_id"), col("tgt"), col("b"))
        .agg(count(lit(1)).as("c"))
      val model = grouped.groupBy(col("b")).agg(
        sum(when(col("tgt"), col("c")).otherwise(0L)).as("ct"),
        sum(when(col("tgt"), 0L).otherwise(col("c"))).as("cr"))
      val totals = model.agg(
        sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
      val llr = model.crossJoin(broadcast(totals)).select(col("b"),
        (log((col("ct") + lit(1L)).cast("double") /
             (col("nt") + lit(m)).cast("double")) -
         log((col("cr") + lit(1L)).cast("double") /
             (col("nr") + lit(m)).cast("double"))).as("llr"))
      // target docs ride through the scoring join and are dropped only
      // AFTER the doc-level agg: filtering `!tgt` any earlier pushes a
      // filter below `grouped`'s Exchange in this branch only, which
      // breaks the stage sharing with the model branch (the target set
      // is the small curated corpus, so the extra scored rows are
      // cheap; tgt is doc-functional, so max() is exact)
      val scored = grouped
        .join(broadcast(llr), Seq("b"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("c") * col("llr")), 4).as("weight"),
          max(col("tgt")).as("tgt"))
        .filter(!col("tgt")).select(col("doc_id"), col("weight"))
      // q102's lower-quantile cutoff at q=0.75 on the weight histogram;
      // keep strictly above it (≤ 25% kept, ties engine-stable). The
      // partition-less window is over DISTINCT ROUNDED WEIGHTS — a
      // value-range-bounded frame, not the corpus.
      val W = org.apache.spark.sql.expressions.Window
      val hist = scored.groupBy(col("weight")).agg(count(lit(1)).as("cnt"))
      val cut = hist
        .withColumn("cum", sum(col("cnt")).over(
          W.orderBy(col("weight")).rowsBetween(Long.MinValue, 0)))
        .crossJoin(broadcast(scored.agg(count(lit(1)).as("n"))))
        .agg(min(when(col("cum") >= ceil(lit(3.0 / 4) * col("n")),
          col("weight"))).as("c75"))
      scored.crossJoin(broadcast(cut))
        .select(col("doc_id"), col("weight"),
          (col("weight") > col("c75")).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    }),
    // Corpus TF-IDF: term counts from one explode + partial-agg
    // shuffle; document frequency derives from the tf frame (one row
    // per distinct doc×token ⇒ count per token == distinct-doc count).
    // Catalyst plans the two as independent scan subtrees — re-scanning
    // columnar parquet beats materializing a shared exploded frame —
    // but the raw token stream never crosses an exchange (partial aggs
    // absorb it map-side; spec-asserted in PlansSpec). The vocabulary
    // frame is Zipf-bounded (≪ corpus) so AQE broadcasts it at small SF
    // and sort-merge-joins at 100 TB — both reshuffle per-doc term
    // counts, never documents. Ranking runs on the ROUNDED score
    // (ties → token order) so it is engine-stable.
    "q77_tfidf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val tf = docs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("doc_id"), col("token"))
        .agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy(col("token"))
        .agg(count(lit(1)).as("df"))
      val nDocs = docs.agg(count(lit(1)).as("n_docs"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("token"))
      tf.join(dfreq, Seq("token"))
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(col("tf") *
          log(col("n_docs").cast("double") / col("df")), 4))
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("token"), col("tf"),
          col("df"), col("tfidf"))
        .orderBy(col("doc_id"), col("rnk"))
    }),
    // The composed pretraining pipeline, end to end in ONE plan:
    // quality gate (length + Gopher repetition) → exact dedup keeping
    // the smallest doc_id per content hash → context-window chunk count
    // (q75's formula) → per-split rollup (q72's salted buckets). Every
    // stage reuses an operator whose parity is independently
    // oracle-proven; the composition shows they chain without
    // re-materialization — one scan, one dedup shuffle, one rollup.
    "q82_pretrain_pipeline" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("content_hash")).orderBy(col("doc_id"))
      val kept = t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          TextOps.nTokens(col("text")).as("n_tok"),
          TextOps.dupWordFrac(col("text")).as("dwf"))
        .filter(col("n_tok") >= 10 && col("dwf") < 0.3)
      kept.withColumn("content_hash", md5(col("text")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("doc_id"), col("n_tok"),
          TextOps.hashBucket(col("doc_id")).as("pct"),
          expr("greatest((n_tok - 10 + 39) DIV 40, 1L)").as("n_chunks"))
        .select(col("n_tok"), col("n_chunks"),
          TextOps.splitLabel(col("pct")).as("split"))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("total_tokens"),
          sum(col("n_chunks")).as("total_chunks"))
        .orderBy(col("split"))
    }),
    // Boilerplate / repeated-passage detection: chunks (q75's windows)
    // whose hash recurs across documents. One explode + one partial-agg
    // shuffle keyed by chunk hash — headers, licenses and templated
    // passages surface as high-n_docs rows without any pair join.
    "q84_repeated_chunks" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextOps.chunkTexts(col("text"), 50, 10)).as("chunk"))
        .select(col("doc_id"), md5(col("chunk")).as("chunk_hash"))
        .groupBy(col("chunk_hash"))
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_occ"))
        .filter(col("n_docs") > 1)
        .orderBy(col("chunk_hash"))
    }),
    // Exact substring dedup (the ExactSubstr policy of Lee et al. 2021,
    // "Deduplicating Training Data Makes Language Models Better",
    // Spark-shaped): every K-token window that occurs more than once in
    // the corpus keeps ONE canonical occurrence (minimum (doc_id, start)
    // corpus-wide, encoded as a single bigint priority) and every other
    // occurrence's tokens are masked out of the text. Overlapping
    // duplicated windows merge via position-set union, so a long shared
    // passage is removed as one contiguous span. Plan: one shingle
    // explode (q84's stream) → hash-keyed groupBy with MAP-SIDE partial
    // agg (count + min priority — a viral boilerplate shingle collapses
    // to one row per task BEFORE the shuffle, which is why this beats a
    // window-over-hash formulation: no per-key sort, no skewed sort
    // partition) → join the n>1 frame back by hash (at realistic dup
    // density it is far smaller than the corpus and AQE broadcasts it)
    // → a doc-keyed shuffle of ONLY duplicated start offsets → a
    // scan-local higher-order mask over the token array. No pair join,
    // and the corpus text is never shuffled — only 16-byte hashes and
    // int offsets move.
    "q113_substring_dedup" -> ((s, dir) => {
      val K = 8
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      // priority = doc_id * 2^21 + start: lexicographic (doc_id, start)
      // as one bigint (bound: docs under 2M tokens — far above any
      // pretraining doc cap; the same encoding runs in the oracle).
      // The bound is ENFORCED scan-side: the oracle mirrors the
      // encoding, so an overflowing doc would corrupt ordering (and can
      // collide across docs) in BOTH engines and hash-match anyway —
      // raise_error is the only observer. One codegen'd comparison per
      // shingle, the error branch never taken on conforming data.
      // native Shingles (TextOps.shingles delegates to the same
      // expression — the direct call just skips the wrapper): one
      // split per doc inside codegen, where the old transform() HOF
      // was O(tokens²) interpreted per doc.
      val kg = docs
        .select(col("doc_id"),
          posexplode(graft.expressions.Shingles.shingles(col("text"), K))
            .as(Seq("p", "sh")))
        .select(col("doc_id"),
          when(col("p") < lit(1L << 21), col("p"))
            .otherwise(raise_error(concat(lit("q113: doc_id="),
              col("doc_id").cast("string"),
              lit(s" has a window start ≥ 2^21 tokens — the (doc_id, start) " +
                "priority encoding would break lexicographic order")))
              .cast("int")).as("p"),
          md5(col("sh")).as("h"))
        .withColumn("prio", col("doc_id") * lit(1L << 21) + col("p"))
      val dupHashes = kg.groupBy(col("h"))
        .agg(count(lit(1)).as("n"), min(col("prio")).as("keep_prio"))
        .filter(col("n") > 1)
      val starts = kg.join(dupHashes, "h")
        .filter(col("prio") =!= col("keep_prio"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("p"))).as("starts"))
      // fused O(tokens + starts) codegen'd mask sweep — the HOF shape
      // (filter + exists) scanned `starts` per token, O(tokens·starts)
      // interpreted, which a boilerplate-heavy doc turns pathological.
      // The struct lands in its own projection first: CollapseProject
      // keeps a non-cheap alias referenced twice, so the sweep runs
      // ONCE per row even if codegen CSE declines the two branches.
      // Null starts (no duplicated window — the common case) null-
      // short-circuits the kernel; the when() guards never read __m
      // on those rows.
      docs.join(starts, Seq("doc_id"), "left")
        .withColumn("__m", graft.expressions.SubstrMask.substr_mask(
          col("text"), col("starts"), K))
        .select(col("doc_id"),
          when(col("starts").isNull, col("text"))
            .otherwise(col("__m.clean_text")).as("clean_text"),
          when(col("starts").isNull, lit(0L))
            .otherwise(col("__m.n_removed")).as("n_removed"))
        .orderBy(col("doc_id"))
    }),
    // Benchmark decontamination: train-split documents sharing any
    // 3-gram shingle with the test split (q72's buckets), with the hit
    // count per document. The test shingle set is distinct-reduced then
    // semi-joined — shuffles by shingle, never a doc×doc pair join; at
    // 100 TB the test side is the small one and broadcasts (or seeds a
    // bloom filter pushed into the train scan).
    "q85_contamination" -> ((s, dir) => {
      val (trainSh, testSh) = contaminationInputs(s, dir)
      hitCounts(trainSh.join(testSh, Seq("sh"), "left_semi"))
    }),
    // q85's decontamination through the Bloom prefilter — IDENTICAL
    // results (the exact semi-join strips bloom false positives), but
    // the train-side shingle stream is cut scan-side by a codegen
    // might_contain over the broadcast filter blob BEFORE any shuffle:
    // the one-pass-over-the-corpus form PLANS.md names for 100 TB.
    "q91_bloom_contamination" -> ((s, dir) => {
      val (trainSh, testSh) = contaminationInputs(s, dir)
      hitCounts(graft.functions.BloomOps.bloomSemiJoin(trainSh, "sh",
        testSh, "sh", fpp = 0.01))
    }),
    // PII scrub (the standard pretraining redaction pass): emails,
    // IPv4s and intl phone numbers → typed placeholders, with per-kind
    // hit counts for the scrub audit. Deterministic PII is injected
    // from doc_id so the scrub has real work on every row; patterns are
    // RE2-safe so the identical regex runs in both engines. One codegen
    // regexp chain per row — no explode, no shuffle but the output sort.
    "q93_pii_scrub" -> ((s, dir) => {
      val injected = concat(col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.org from 10.0."),
        (col("doc_id") % 256).cast("string"),
        lit(".77 call +55 21 9"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" 1234"))
      val (ne, ni, np) = TextOps.piiCounts(injected)
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextOps.redactPii(injected).as("clean"),
          ne.cast("long").as("n_emails"),
          ni.cast("long").as("n_ips"),
          np.cast("long").as("n_phones"))
        .orderBy(col("doc_id"))
    }),
    // Corpus-LM document scoring (the CCNet-style LM quality filter):
    // score every document by its average bigram log-probability under
    // the corpus's own count LM — low scorers are the unnatural/
    // boilerplate text a quality gate drops. Bigram stats are the q88
    // machinery: one explode, counts vocab-bounded, normalizer a window
    // over the count frame; the per-doc score is one join keyed by
    // bigram + avg(ln p). Self-scoring ⇒ every bigram is in the table,
    // so no smoothing branch diverges between engines. Docs with <2
    // words have no bigrams and drop out (both engines).
    "q92_doc_logprob" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      // ONE corpus pass: the raw explode collapses to the (doc, bigram,
      // multiplicity) frame first, and because BOTH downstream uses (the
      // vocab counts and the per-doc scoring join) aggregate over the
      // identical Exchange, Spark's exchange reuse materializes the
      // shuffle once — the earlier avg-over-instances form scanned and
      // exploded the whole corpus twice. The weighted mean
      // Σk·ln(c12/c1) / Σk is the same statistic; per-(doc,bigram)
      // terms are value-identical in both engines, with round-4
      // absorbing summation order as everywhere else.
      // the explicit isNotNull matches the filter the inner join infers
      // on its streamed side — without it the join branch's pushed-down
      // filter makes the two Exchange subtrees canonicalize differently
      // and AQE cannot reuse the stage (verified on the final plan)
      val dbc = t(s, dir, "documents")
        .select(col("doc_id"), explode(TextOps.shingles(col("text"), 2)).as("bigram"))
        .filter(col("bigram").isNotNull)
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("k"))
      val counts = dbc.groupBy(col("bigram")).agg(sum(col("k")).as("c12"))
        .withColumn("c1", sum(col("c12")).over(
          W.partitionBy(substring_index(col("bigram"), " ", 1))))
      dbc.join(counts, Seq("bigram"))
        .groupBy(col("doc_id"))
        .agg(round(sum(col("k") * log(col("c12") / col("c1"))) /
          sum(col("k")), 4).as("avg_logprob"),
          sum(col("k")).as("n_bigrams"))
        .orderBy(col("doc_id"))
    }),
    // Count-based bigram LM statistics: top-20 bigrams with conditional
    // probability P(w2|w1) = c(w1 w2) / c(w1 ·). One shingle explode +
    // partial-agg shuffle builds the bigram counts; the per-w1
    // normalizer is an unbounded window over the already-aggregated
    // frame (vocabulary-sized, ≪ corpus). The probability is a ratio of
    // exact longs evaluated identically in both engines.
    "q88_bigram_lm" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      t(s, dir, "documents")
        .select(explode(TextOps.shingles(col("text"), 2)).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("cnt"))
        .withColumn("w1", substring_index(col("bigram"), " ", 1))
        .withColumn("p_cond", round(col("cnt") /
          sum(col("cnt")).over(W.partitionBy(col("w1"))), 4))
        .select(col("bigram"), col("cnt"), col("p_cond"))
        .orderBy(col("cnt").desc, col("bigram")).limit(20)
    }),
    // Exact corpus top-k tokens — the ground truth the Misra–Gries
    // sketch (expressions.Mg, mg_sketch/mg_merge/mg_topk,
    // StateStore.mergeTopK) approximates in O(k) mergeable state. Same
    // single explode + partial-agg shuffle as q77's df branch; the
    // TakeOrdered cut replaces a full vocabulary sort.
    "q79_top_tokens" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("token")).limit(20)
    }),
    // Scalar int8-style embedding quantization: per-dimension min/max
    // over the corpus (a dims-sized frame — broadcast), then codes =
    // round(255·(x−min)/(max−min)) per element, re-aggregated per
    // vector so the output stays scalar-columned. The compression pass
    // that shrinks a float corpus 4× is a stats agg plus one codegen'd
    // scan — no corpus-sized shuffle beyond the per-vector regroup.
    // Scale-0 round() is engine-safe (x.5 is exactly representable,
    // both engines round it away from zero); the operands are identical
    // expression trees over identical doubles. A CONSTANT dimension
    // (max == min) has no scale — its code is pinned to 0 explicitly,
    // because 0/0 = NaN is exactly where the engines diverge (Spark
    // casts NaN→0L silently, DuckDB raises on the cast).
    "q78_quantize" -> ((s, dir) => {
      val elems = t(s, dir, "embeddings").select(col("vec_id"),
        posexplode(col("embedding")).as(Seq("dim", "xr")))
        .select(col("vec_id"), col("dim"), col("xr").cast("double").as("x"))
      val stats = elems.groupBy(col("dim"))
        .agg(min(col("x")).as("minv"), max(col("x")).as("maxv"))
      elems.join(broadcast(stats), Seq("dim"))
        .withColumn("code", when(col("maxv") === col("minv"), lit(0L))
          .otherwise(round(lit(255.0) * (col("x") - col("minv")) /
            (col("maxv") - col("minv"))).cast("long")))
        .groupBy(col("vec_id"))
        .agg(sum(col("code")).as("code_sum"),
          min(col("code")).as("code_min"),
          max(col("code")).as("code_max"))
        .orderBy(col("vec_id"))
    })
  )

  private def occ(token: String): String = {
    // replacing " tok " (len+2 chars) with " " shrinks by len+1 per hit
    val n = token.length + 1
    s"CAST((length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $token ', ' '))) / $n AS BIGINT)"
  }

  val oracles: Map[String, String] = Map(
    "q50_exact_dedup" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        |  COUNT(*) AS n_dups
        |FROM documents GROUP BY 1 ORDER BY content_hash""".stripMargin,
    "q51_minhash_sig" ->
      s"""WITH $sigCte
         |SELECT * FROM sig ORDER BY doc_id""".stripMargin,
    "q52_lsh_pairs" ->
      s"""WITH $sigCte,
         |$bandsCte
         |SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b""".stripMargin,
    "q136_lexicon_gate" -> {
      // the SAME Scala lexicon builds the oracle's literal list — the
      // two sides cannot drift
      val entries = q136Lexicon.map(e => s"' $e '").mkString("[", ", ", "]")
      s"""WITH n AS (
         |  SELECT doc_id,
         |    ' ' || regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g') || ' '
         |      AS norm
         |  FROM documents),
         |h AS (
         |  SELECT doc_id,
         |    len(list_filter($entries, p -> contains(norm, p))) AS nh
         |  FROM n)
         |SELECT doc_id, CAST(nh AS BIGINT) AS lex_hits,
         |  CAST(CASE WHEN nh = 0 THEN 1 ELSE 0 END AS INT) AS survives
         |FROM h ORDER BY doc_id""".stripMargin
    },
    "q138_decontam_scrub" ->
      """WITH b AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS words,
        |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 100 AS pct
        |  FROM documents),
        |te AS (
        |  SELECT DISTINCT
        |    unnest(list_transform(range(1, greatest(len(words)-1, 1)),
        |      i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2])) AS sh
        |  FROM b WHERE pct >= 90),
        |tr AS (SELECT doc_id, text, words FROM b WHERE pct < 80),
        |hits AS (
        |  SELECT t.doc_id, u.i AS i
        |  FROM tr t, UNNEST(range(1, greatest(len(t.words)-1, 1))) AS u(i)
        |  WHERE t.words[u.i] || ' ' || t.words[u.i+1] || ' ' || t.words[u.i+2]
        |    IN (SELECT sh FROM te)),
        |spans AS (
        |  SELECT doc_id,
        |    list(struct_pack(lo := greatest(i-2, 1), hi := i+4)) AS spans
        |  FROM hits GROUP BY doc_id)
        |SELECT t.doc_id,
        |  CAST(CASE WHEN s.spans IS NULL THEN 0
        |    ELSE len(t.words) - len(list_filter(t.words, (w, k) ->
        |      len(list_filter(s.spans, sp -> k >= sp.lo AND k <= sp.hi)) = 0))
        |    END AS BIGINT) AS n_removed,
        |  CASE WHEN s.spans IS NULL THEN t.text
        |    -- COALESCE: a fully-scrubbed doc keeps '' like Spark's
        |    -- array_join; DuckDB's array_to_string([]) is NULL
        |    ELSE COALESCE(array_to_string(list_filter(t.words, (w, k) ->
        |      len(list_filter(s.spans, sp -> k >= sp.lo AND k <= sp.hi)) = 0),
        |      ' '), '')
        |    END AS text_clean
        |FROM tr t LEFT JOIN spans s ON s.doc_id = t.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q137_gopher_rules" ->
      s"""WITH $gopherDocCte
         |SELECT doc_id,
         |  CAST(n_words AS BIGINT) AS n_words,
         |  CAST(word_chars AS DOUBLE) / n_words AS mean_word_len,
         |  CAST(bullet_lines AS DOUBLE) / n_lines AS bullet_frac,
         |  CAST(ellipsis_lines AS DOUBLE) / n_lines AS ellipsis_frac,
         |  CAST(alpha_words AS DOUBLE) / n_words AS alpha_frac,
         |  CAST(stop_present AS BIGINT) AS stop_present,
         |  CAST($gopherKeepSql AS INT) AS keep
         |FROM s ORDER BY doc_id""".stripMargin,
    "q139_domain_rollup" ->
      s"""WITH $gopherDocCte,
         |k AS (
         |  SELECT doc_id, n_words,
         |    $gopherKeepSql AS keep,
         |    CASE WHEN n_words < 50 OR n_words > 100000
         |      THEN 1 ELSE 0 END AS v_words,
         |    CASE WHEN CAST(word_chars AS DOUBLE) / n_words < 3.0
         |      OR CAST(word_chars AS DOUBLE) / n_words > 10.0
         |      THEN 1 ELSE 0 END AS v_wordlen,
         |    CASE WHEN CAST(hash_chars AS DOUBLE) / n_words > 0.1
         |      OR CAST(ell_runs AS DOUBLE) / n_words > 0.1
         |      THEN 1 ELSE 0 END AS v_symbol,
         |    CASE WHEN CAST(bullet_lines AS DOUBLE) / n_lines > 0.9
         |      OR CAST(ellipsis_lines AS DOUBLE) / n_lines > 0.3
         |      THEN 1 ELSE 0 END AS v_lines,
         |    CASE WHEN CAST(alpha_words AS DOUBLE) / n_words < 0.8
         |      THEN 1 ELSE 0 END AS v_alpha,
         |    CASE WHEN stop_present < 2 THEN 1 ELSE 0 END AS v_stop
         |  FROM s)
         |SELECT d.source, d.lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(k.n_words) AS BIGINT) AS total_words,
         |  round(CAST(SUM(k.keep) AS DOUBLE) / COUNT(*), 4) AS keep_rate,
         |  CAST(SUM(k.v_words) AS BIGINT) AS n_v_words,
         |  CAST(SUM(k.v_wordlen) AS BIGINT) AS n_v_wordlen,
         |  CAST(SUM(k.v_symbol) AS BIGINT) AS n_v_symbol,
         |  CAST(SUM(k.v_lines) AS BIGINT) AS n_v_lines,
         |  CAST(SUM(k.v_alpha) AS BIGINT) AS n_v_alpha,
         |  CAST(SUM(k.v_stop) AS BIGINT) AS n_v_stop,
         |  round(1.0 - CAST(COUNT(DISTINCT md5(d.text)) AS DOUBLE) /
         |    COUNT(*), 4) AS dup_rate,
         |  CAST(SUM(d.n_chars) AS DOUBLE) / COUNT(*) AS mean_chars
         |FROM documents d JOIN k USING (doc_id)
         |GROUP BY d.source, d.lang
         |ORDER BY d.source, d.lang""".stripMargin,
    "q135_lane_verify" -> {
      val agreeSql = (0 to 7)
        .map(i => s"(CASE WHEN a.h$i = b.h$i THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $sigCte,
         |$bandsCte
         |SELECT p.id_a, p.id_b,
         |  CAST($agreeSql AS BIGINT) AS n_agree,
         |  CAST(CASE WHEN $agreeSql >= 6 THEN 1 ELSE 0 END AS INT) AS verified
         |FROM pairs p
         |JOIN sig a ON a.doc_id = p.id_a
         |JOIN sig b ON b.doc_id = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin
    },
    "q53_jaccard_verify" ->
      s"""WITH $sigCte,
         |$bandsCte,
         |tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
         |inter AS (
         |  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
         |  FROM pairs p
         |  JOIN tok ta ON ta.doc_id = p.id_a
         |  JOIN tok tb ON tb.doc_id = p.id_b AND tb.token = ta.token
         |  GROUP BY p.id_a, p.id_b)
         |SELECT p.id_a, p.id_b,
         |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
         |    (sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS jaccard
         |FROM pairs p
         |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
         |JOIN sizes sa ON sa.doc_id = p.id_a
         |JOIN sizes sb ON sb.doc_id = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin,
    "q94_containment_verify" ->
      s"""WITH $sigCte,
         |$bandsCte,
         |tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
         |inter AS (
         |  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
         |  FROM pairs p
         |  JOIN tok ta ON ta.doc_id = p.id_a
         |  JOIN tok tb ON tb.doc_id = p.id_b AND tb.token = ta.token
         |  GROUP BY p.id_a, p.id_b)
         |SELECT p.id_a, p.id_b,
         |  CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
         |    least(sa.sz, sb.sz) AS containment
         |FROM pairs p
         |LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
         |JOIN sizes sa ON sa.doc_id = p.id_a
         |JOIN sizes sb ON sb.doc_id = p.id_b
         |ORDER BY p.id_a, p.id_b""".stripMargin,
    "q59_neardup_dedup" ->
      s"""WITH $sigCte,
         |$bandsCte,
         |tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
         |  FROM documents),
         |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM tok GROUP BY doc_id),
         |inter AS (
         |  SELECT p.id_a, p.id_b, COUNT(*) AS n_inter
         |  FROM pairs p
         |  JOIN tok ta ON ta.doc_id = p.id_a
         |  JOIN tok tb ON tb.doc_id = p.id_b AND tb.token = ta.token
         |  GROUP BY p.id_a, p.id_b),
         |jac AS (
         |  SELECT p.id_a, p.id_b,
         |    CAST(COALESCE(i.n_inter, 0) AS DOUBLE) /
         |      (sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS jaccard
         |  FROM pairs p
         |  LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
         |  JOIN sizes sa ON sa.doc_id = p.id_a
         |  JOIN sizes sb ON sb.doc_id = p.id_b)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id NOT IN (SELECT id_b FROM jac WHERE jaccard >= 0.8)
         |ORDER BY doc_id""".stripMargin,
    "q69_dedup_clusters" ->
      s"""WITH RECURSIVE $sigCte,
         |$bandsCte,
         |$textClusterCte
         |SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id
         |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q107_pretrain_mix" ->
      """WITH scored AS (
        |  SELECT doc_id, lang, source, text,
        |    len(string_split(text, ' ')) AS n_tok,
        |    CASE WHEN len(string_split(text, ' ')) > 0 THEN
        |      CAST(len(string_split(text, ' ')) -
        |        len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' '))
        |    ELSE 0.0 END AS dwf
        |  FROM documents),
        |surv AS (
        |  SELECT doc_id, lang, source, n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM scored WHERE n_tok >= 10 AND dwf < 0.3),
        |capped AS (
        |  SELECT doc_id, lang, n_tok FROM (
        |    SELECT doc_id, lang, n_tok,
        |      ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |        CAST(('0x' || substr(md5('cap|' || CAST(doc_id AS VARCHAR)),
        |          1, 15)) AS BIGINT), doc_id) AS crk
        |    FROM surv WHERE rn = 1)
        |  WHERE crk <= 20),
        |n AS (SELECT lang, COUNT(*) AS n_l FROM capped GROUP BY lang),
        |tt AS (SELECT SUM(n_l) AS total FROM n),
        |r AS (SELECT lang,
        |    CAST(CASE lang WHEN 'en' THEN '0.30' WHEN 'de' THEN '0.20'
        |      WHEN 'es' THEN '0.20' WHEN 'fr' THEN '0.15'
        |      WHEN 'zh' THEN '0.15' END AS DOUBLE) * total / n_l AS rate
        |  FROM n, tt),
        |c AS (SELECT capped.doc_id, capped.lang, capped.n_tok,
        |    CAST(FLOOR(r.rate) AS BIGINT) +
        |    CASE WHEN CAST(CAST(('0x' || substr(md5('mix|' ||
        |        CAST(capped.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
        |        AS DOUBLE) / CAST(1000000 AS DOUBLE)
        |      < r.rate - FLOOR(r.rate) THEN 1 ELSE 0 END AS copies
        |  FROM capped JOIN r USING (lang)),
        |e AS (SELECT doc_id, lang, n_tok,
        |    CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy
        |  FROM c)
        |SELECT doc_id, copy, lang, n_tok,
        |  CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
        |      PARTITION BY lang ORDER BY doc_id, copy
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 2048.0) AS BIGINT) AS pack_id,
        |  CASE WHEN CAST(('0x' || substr(md5('split|' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 80
        |      THEN 'train'
        |    WHEN CAST(('0x' || substr(md5('split|' ||
        |      CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 100 < 90
        |      THEN 'valid' ELSE 'test' END AS split
        |FROM e ORDER BY lang, doc_id, copy""".stripMargin,
    "q109_dataset_card" ->
      """WITH b AS (
        |  SELECT lang, md5(text) AS h,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 100 AS pct
        |  FROM documents)
        |SELECT lang,
        |  COUNT(*) AS n_docs,
        |  COUNT(DISTINCT h) AS n_unique,
        |  round(1.0 - COUNT(DISTINCT h) / CAST(COUNT(*) AS DOUBLE), 4)
        |    AS dup_rate,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  MIN(n_tok) AS min_tok,
        |  MAX(n_tok) AS max_tok,
        |  CAST(SUM(CASE WHEN pct < 80 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_train,
        |  CAST(SUM(CASE WHEN pct >= 80 AND pct < 90 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_valid,
        |  CAST(SUM(CASE WHEN pct >= 90 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_test
        |FROM b GROUP BY lang ORDER BY lang""".stripMargin,
    // Independent BPE in SQL: greedy lowest-rank merge as a recursive
    // CTE over the corpus's DISTINCT words. Token sequences are encoded
    // as separator-wrapped strings (every token is 0x1F-delimited on
    // BOTH sides, so merging pair (a,b) is literally
    // replace(s, '␟a␟␟b␟', '␟ab␟') — leftmost non-overlapping, exactly
    // the BPE merge step, with no false interior matches possible); the
    // merge list is an ORDERED inline literal, so
    // list_filter(present)[1] IS the lowest-rank applicable merge. Words
    // drop out of the recursion when no merge applies; terminal rows are
    // re-identified by the same emptiness test. Token count = half the
    // separator count. Shares the committed merges resource with the
    // Spark side (single source of truth), 48-merge prefix.
    "q110_bpe_tokens" ->
      s"""WITH RECURSIVE $bpeCte,
         |cnt AS (SELECT dw.doc_id, SUM(t.n) AS n_bpe
         |        FROM docw dw JOIN term t ON dw.w = t.w GROUP BY dw.doc_id)
         |SELECT s.doc_id,
         |  CAST(len(regexp_extract_all(s.t, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
         |    AS BIGINT) AS n_pieces,
         |  CAST(COALESCE(c.n_bpe, 0) AS BIGINT) AS n_bpe
         |FROM san s LEFT JOIN cnt c ON s.doc_id = c.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "q143_calibrated_gate" ->
      s"""WITH $clfScoredCte,
         |caldoc AS (
         |  SELECT d.doc_id, d.source, c.score,
         |    len(string_split(d.text, ' ')) AS n_tok
         |  FROM documents d JOIN clf_scored c ON d.doc_id = c.doc_id),
         |calh AS (SELECT source, score, SUM(n_tok) AS mass
         |         FROM caldoc GROUP BY source, score),
         |calc AS (
         |  SELECT source, score,
         |    SUM(mass) OVER (PARTITION BY source ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(mass) OVER (PARTITION BY source) AS total
         |  FROM calh),
         |th AS (SELECT source, MAX(score) AS threshold
         |       FROM calc WHERE cum >= total * 0.5 GROUP BY source)
         |SELECT d.doc_id, d.source, d.score,
         |  CAST(CASE WHEN d.score >= t.threshold THEN 1 ELSE 0 END AS INT)
         |    AS kept
         |FROM caldoc d JOIN th t ON t.source = d.source
         |ORDER BY d.doc_id""".stripMargin,
    "q142_gate_calibration" ->
      s"""WITH $clfScoredCte,
         |caldoc AS (
         |  SELECT d.source, c.score,
         |    len(string_split(d.text, ' ')) AS n_tok
         |  FROM documents d JOIN clf_scored c ON d.doc_id = c.doc_id),
         |calh AS (SELECT source, score, SUM(n_tok) AS mass
         |         FROM caldoc GROUP BY source, score),
         |calc AS (
         |  SELECT source, score, mass,
         |    SUM(mass) OVER (PARTITION BY source ORDER BY score DESC
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    SUM(mass) OVER (PARTITION BY source) AS total
         |  FROM calh),
         |sel AS (
         |  SELECT source, MAX(score) AS threshold, MIN(cum) AS kept_tokens,
         |    MAX(total) AS total_tokens
         |  FROM calc WHERE cum >= total * 0.5 GROUP BY source)
         |SELECT s.source, s.threshold,
         |  CAST(s.kept_tokens AS BIGINT) AS kept_tokens,
         |  CAST(s.total_tokens AS BIGINT) AS total_tokens,
         |  round(CAST(s.kept_tokens AS DOUBLE) / s.total_tokens, 4)
         |    AS kept_share,
         |  CAST(CASE WHEN CAST(s.kept_tokens AS DOUBLE) >=
         |      s.total_tokens * 0.5
         |    AND CAST(s.kept_tokens - h.mass AS DOUBLE) <
         |      s.total_tokens * 0.5 THEN 1 ELSE 0 END AS INT) AS within_tol
         |FROM sel s JOIN calh h
         |  ON h.source = s.source AND h.score = s.threshold
         |ORDER BY s.source""".stripMargin,
    "q145_gopher_repetition" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE CAST(doc_id % 4 AS INT)
        |      WHEN 0 THEN chr(10) || 'repeat line alpha beta' ||
        |        chr(10) || 'repeat line alpha beta' ||
        |        chr(10) || 'repeat line alpha beta'
        |      WHEN 1 THEN chr(10) || chr(10) ||
        |        'shared paragraph content words' || chr(10) || chr(10) ||
        |        'shared paragraph content words'
        |      WHEN 2 THEN ' big table big table big table big table big table'
        |      ELSE ' and a plain trailing remark'
        |    END AS t
        |  FROM documents),
        |lp AS (
        |  SELECT doc_id,
        |    string_split(t, chr(10)) AS lines,
        |    string_split(t, chr(10) || chr(10)) AS paras
        |  FROM inj),
        |lpf AS (
        |  SELECT doc_id,
        |    CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
        |      / len(lines) AS dup_line_frac,
        |    CASE WHEN COALESCE(list_sum(list_transform(lines, l -> len(l))), 0) = 0
        |      THEN 0.0
        |      ELSE CAST(list_sum(list_transform(lines, l -> len(l))) -
        |        list_sum(list_transform(list_distinct(lines), l -> len(l)))
        |        AS DOUBLE) / list_sum(list_transform(lines, l -> len(l)))
        |      END AS dup_line_char_frac,
        |    CAST(len(paras) - len(list_distinct(paras)) AS DOUBLE)
        |      / len(paras) AS dup_para_frac,
        |    CASE WHEN COALESCE(list_sum(list_transform(paras, l -> len(l))), 0) = 0
        |      THEN 0.0
        |      ELSE CAST(list_sum(list_transform(paras, l -> len(l))) -
        |        list_sum(list_transform(list_distinct(paras), l -> len(l)))
        |        AS DOUBLE) / list_sum(list_transform(paras, l -> len(l)))
        |      END AS dup_para_char_frac
        |  FROM lp),
        |rw AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(t, '[ \n]'), x -> x <> '') AS words
        |  FROM inj),
        |rwc AS (
        |  SELECT doc_id,
        |    COALESCE(list_sum(list_transform(words, x -> len(x))), 0) AS twc
        |  FROM rw),
        |gr AS (
        |  SELECT rw.doc_id, ns.n, u.j AS j,
        |    array_to_string(list_slice(rw.words, u.j + 1, u.j + ns.n), ' ') AS g
        |  FROM rw,
        |    (SELECT unnest([2, 3, 4, 5, 6, 7, 8, 9, 10]) AS n) ns,
        |    UNNEST(range(0, greatest(len(rw.words) - ns.n + 1, 0))) AS u(j)),
        |gc AS (SELECT doc_id, n, g, COUNT(*) AS c
        |       FROM gr GROUP BY doc_id, n, g),
        |tops AS (
        |  SELECT doc_id,
        |    MAX(CASE WHEN n = 2 THEN c * (len(g) - 1) END) AS t2,
        |    MAX(CASE WHEN n = 3 THEN c * (len(g) - 2) END) AS t3,
        |    MAX(CASE WHEN n = 4 THEN c * (len(g) - 3) END) AS t4
        |  FROM (SELECT doc_id, n, g, c,
        |          row_number() OVER (PARTITION BY doc_id, n
        |            ORDER BY c DESC, g ASC) AS rk
        |        FROM gc WHERE n <= 4)
        |  WHERE rk = 1 GROUP BY doc_id),
        |cov AS (
        |  SELECT DISTINCT gr.doc_id, gr.n, u.p
        |  FROM gr
        |  JOIN gc ON gc.doc_id = gr.doc_id AND gc.n = gr.n AND gc.g = gr.g,
        |    UNNEST(range(gr.j, gr.j + gr.n)) AS u(p)
        |  WHERE gr.n >= 5 AND gc.c >= 2),
        |covc AS (
        |  SELECT c.doc_id,
        |    SUM(CASE WHEN c.n = 5 THEN len(rw.words[c.p + 1]) ELSE 0 END) AS c5,
        |    SUM(CASE WHEN c.n = 6 THEN len(rw.words[c.p + 1]) ELSE 0 END) AS c6,
        |    SUM(CASE WHEN c.n = 7 THEN len(rw.words[c.p + 1]) ELSE 0 END) AS c7,
        |    SUM(CASE WHEN c.n = 8 THEN len(rw.words[c.p + 1]) ELSE 0 END) AS c8,
        |    SUM(CASE WHEN c.n = 9 THEN len(rw.words[c.p + 1]) ELSE 0 END) AS c9,
        |    SUM(CASE WHEN c.n = 10 THEN len(rw.words[c.p + 1]) ELSE 0 END) AS c10
        |  FROM cov c JOIN rw ON rw.doc_id = c.doc_id
        |  GROUP BY c.doc_id),
        |fr AS (
        |  SELECT l.doc_id,
        |    l.dup_line_frac, l.dup_line_char_frac,
        |    l.dup_para_frac, l.dup_para_char_frac,
        |    CASE WHEN w.twc = 0 THEN 0.0
        |      ELSE CAST(COALESCE(t.t2, 0) AS DOUBLE) / w.twc END AS top2_char_frac,
        |    CASE WHEN w.twc = 0 THEN 0.0
        |      ELSE CAST(COALESCE(t.t3, 0) AS DOUBLE) / w.twc END AS top3_char_frac,
        |    CASE WHEN w.twc = 0 THEN 0.0
        |      ELSE CAST(COALESCE(t.t4, 0) AS DOUBLE) / w.twc END AS top4_char_frac,
        |    CASE WHEN w.twc = 0 THEN 0.0
        |      ELSE CAST(COALESCE(v.c5, 0) AS DOUBLE) / w.twc END AS dup5_char_frac,
        |    CASE WHEN w.twc = 0 THEN 0.0
        |      ELSE CAST(COALESCE(v.c6, 0) AS DOUBLE) / w.twc END AS dup6_char_frac,
        |    CASE WHEN w.twc = 0 THEN 0.0
        |      ELSE CAST(COALESCE(v.c7, 0) AS DOUBLE) / w.twc END AS dup7_char_frac,
        |    CASE WHEN w.twc = 0 THEN 0.0
        |      ELSE CAST(COALESCE(v.c8, 0) AS DOUBLE) / w.twc END AS dup8_char_frac,
        |    CASE WHEN w.twc = 0 THEN 0.0
        |      ELSE CAST(COALESCE(v.c9, 0) AS DOUBLE) / w.twc END AS dup9_char_frac,
        |    CASE WHEN w.twc = 0 THEN 0.0
        |      ELSE CAST(COALESCE(v.c10, 0) AS DOUBLE) / w.twc END AS dup10_char_frac
        |  FROM lpf l
        |  JOIN rwc w ON w.doc_id = l.doc_id
        |  LEFT JOIN tops t ON t.doc_id = l.doc_id
        |  LEFT JOIN covc v ON v.doc_id = l.doc_id)
        |SELECT doc_id,
        |  dup_line_frac, dup_line_char_frac, dup_para_frac, dup_para_char_frac,
        |  top2_char_frac, top3_char_frac, top4_char_frac,
        |  dup5_char_frac, dup6_char_frac, dup7_char_frac,
        |  dup8_char_frac, dup9_char_frac, dup10_char_frac,
        |  CAST(CASE WHEN dup_line_frac <= 0.30 AND dup_para_frac <= 0.30
        |    AND dup_line_char_frac <= 0.20 AND dup_para_char_frac <= 0.20
        |    AND top2_char_frac <= 0.20 AND top3_char_frac <= 0.18
        |    AND top4_char_frac <= 0.16
        |    AND dup5_char_frac <= 0.15 AND dup6_char_frac <= 0.14
        |    AND dup7_char_frac <= 0.13 AND dup8_char_frac <= 0.12
        |    AND dup9_char_frac <= 0.11 AND dup10_char_frac <= 0.10
        |    THEN 1 ELSE 0 END AS INT) AS keep
        |FROM fr ORDER BY doc_id""".stripMargin,
    "q147_c4_line_policy" ->
      """WITH inj AS (
        |  SELECT doc_id, text ||
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN chr(10) || 'First full sentence arrives right now.' ||
        |        chr(10) || 'Short line.' ||
        |        chr(10) || 'The second sentence is also here.' ||
        |        chr(10) || 'A third sentence follows the second one.' ||
        |        chr(10) || 'The fourth sentence looks quite healthy.' ||
        |        chr(10) || 'Finally the fifth sentence closes it.'
        |      WHEN 1 THEN chr(10) || 'Javascript must be enabled to continue.' ||
        |        chr(10) || 'Only one proper sentence remains here.'
        |      WHEN 2 THEN chr(10) || 'code block follows { now }' ||
        |        chr(10) || 'A sentence after the brace appears.'
        |      WHEN 3 THEN chr(10) || 'Lorem ipsum dolor sit amet tonight.' ||
        |        chr(10) || 'The page copies filler text sadly.'
        |      ELSE ' plain trailing words without punctuation'
        |    END AS t
        |  FROM documents),
        |c4 AS (
        |  SELECT doc_id, t,
        |    string_split(t, chr(10)) AS lines,
        |    list_filter(string_split(t, chr(10)), l ->
        |      regexp_matches(trim(l), '[.!?"]$')
        |      AND len(string_split(trim(l), ' ')) >= 3
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM inj),
        |c4j AS (
        |  SELECT doc_id, t, lines, kept,
        |    COALESCE(array_to_string(kept, chr(10)), '') AS kt
        |  FROM c4)
        |SELECT doc_id,
        |  CAST(len(lines) AS BIGINT) AS n_lines,
        |  CAST(len(kept) AS BIGINT) AS n_kept_lines,
        |  CAST(len(kt) - len(regexp_replace(kt, '[.!?]', '', 'g'))
        |    AS BIGINT) AS n_sentences,
        |  CAST(CASE WHEN
        |      len(kt) - len(regexp_replace(kt, '[.!?]', '', 'g')) >= 5
        |      AND NOT contains(t, '{')
        |      AND NOT contains(lower(t), 'lorem ipsum')
        |    THEN 1 ELSE 0 END AS INT) AS keep,
        |  kt AS text_clean
        |FROM c4j ORDER BY doc_id""".stripMargin,
    "q148_stack_code_filter" ->
      """WITH inj AS (
        |  SELECT doc_id, substr(text, 1, 40) ||
        |    CASE CAST(doc_id % 5 AS INT)
        |      WHEN 0 THEN chr(10) || 'int main() { return 0; }' ||
        |        chr(10) || 'let x = 42;' || chr(10) || 'println(done)'
        |      WHEN 1 THEN chr(10) || repeat('a1', 501) ||
        |        repeat(chr(10) || 'sh rt ln', 10)
        |      WHEN 2 THEN repeat(chr(10) || repeat('ab c', 40), 3)
        |      WHEN 3 THEN repeat(chr(10) || repeat('-= ', 30), 2)
        |      ELSE chr(10) || '<?xml version="1.0"?>' ||
        |        chr(10) || 'And a short alnum line here'
        |    END AS t
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS lines FROM inj),
        |cnt AS (
        |  SELECT doc_id,
        |    CAST(length(t) AS BIGINT) AS n_chars,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(length(t) - (len(lines) - 1) AS BIGINT) AS line_chars,
        |    CAST(list_max(list_transform(lines, l -> length(l)))
        |      AS BIGINT) AS max_line_chars,
        |    CAST(length(regexp_replace(t, '[^a-zA-Z0-9]', '', 'g'))
        |      AS BIGINT) AS alnum_chars,
        |    CAST(CASE WHEN strpos(substr(t, 1, 113), '<?xml version=')
        |      BETWEEN 1 AND 100 THEN 1 ELSE 0 END AS BIGINT) AS xml_head
        |  FROM st)
        |SELECT doc_id, n_chars, n_lines, line_chars, max_line_chars,
        |  alnum_chars, xml_head,
        |  CAST(CASE WHEN line_chars <= 100 * n_lines
        |    AND max_line_chars <= 1000
        |    AND alnum_chars * 4 >= n_chars
        |    AND xml_head = 0 THEN 1 ELSE 0 END AS INT) AS keep
        |FROM cnt ORDER BY doc_id""".stripMargin,
    "q153_license_filter" -> {
      val hdrVals = licenseHeaders.zipWithIndex
        .map { case (h, i) => s"($i, '${h.replace("'", "''")}')" }
        .mkString(", ")
      val perm = graft.functions.TextOps.PermissiveLicenses
        .map(l => s"'$l'").mkString(", ")
      s"""WITH h(i, hdr) AS (VALUES $hdrVals),
         |inj AS (
         |  SELECT d.doc_id, h.hdr || d.text AS t
         |  FROM documents d JOIN h ON h.i = CAST(d.doc_id % 10 AS INT)),
         |lo AS (SELECT doc_id, t, lower(t) AS lt FROM inj),
         |det AS (
         |  SELECT doc_id,
         |    CASE
         |      WHEN regexp_extract(t,
         |          'SPDX-License-Identifier:\\s*([A-Za-z0-9.+\\-]+)', 1) <> ''
         |        THEN lower(regexp_extract(t,
         |          'SPDX-License-Identifier:\\s*([A-Za-z0-9.+\\-]+)', 1))
         |      WHEN contains(lt,
         |          'permission is hereby granted, free of charge')
         |        THEN 'mit'
         |      WHEN contains(lt, 'apache license, version 2.0')
         |        OR contains(lt, 'apache license version 2.0')
         |        THEN 'apache-2.0'
         |      WHEN contains(lt,
         |          'redistribution and use in source and binary forms')
         |        THEN CASE WHEN contains(lt, 'neither the name')
         |          THEN 'bsd-3-clause' ELSE 'bsd-2-clause' END
         |      WHEN contains(lt, 'gnu general public license')
         |        AND contains(lt, 'version 3') THEN 'gpl-3.0'
         |      WHEN contains(lt, 'gnu general public license')
         |        AND contains(lt, 'version 2') THEN 'gpl-2.0'
         |      WHEN contains(lt, 'mozilla public license, v. 2.0')
         |        OR contains(lt, 'mozilla public license version 2.0')
         |        THEN 'mpl-2.0'
         |      WHEN contains(lt,
         |          'permission to use, copy, modify, and/or distribute')
         |        THEN 'isc'
         |      ELSE 'none' END AS license
         |  FROM lo)
         |SELECT doc_id, license,
         |  CAST(CASE WHEN license IN ($perm) THEN 1 ELSE 0 END AS INT)
         |    AS keep
         |FROM det ORDER BY doc_id""".stripMargin
    },
    // q155: DuckDB rebuilds the synthetic repo tree (repo = doc_id %
    // 37, LICENSE blob at doc_id < 37, SPDX-expression overrides at
    // doc_id % 11 == 3), re-detects with the SAME expression-aware
    // capture, derives the repo license table from the blobs (min
    // non-'none'), inherits via a left join with in-file override, and
    // resolves the dual-licensing keep with the any(OR)/all(AND) token
    // policy over the permissive list — WITH-exceptions dropped first.
    "q155_repo_license" -> {
      val hdrVals = licenseHeaders.zipWithIndex
        .map { case (h, i) => s"($i, '${h.replace("'", "''")}')" }
        .mkString(", ")
      val xVals = spdxExprHeaders.zipWithIndex
        .map { case (h, i) => s"($i, '${h.replace("'", "''")}')" }
        .mkString(", ")
      val permList = "[" + graft.functions.TextOps.PermissiveLicenses
        .map(l => s"'$l'").mkString(", ") + "]"
      val tokExpr = "string_split(trim(regexp_replace(regexp_replace(" +
        "license, '\\bwith\\s+[a-z0-9.+\\-]+', ' ', 'g'), " +
        "'\\s+', ' ', 'g')), ' ')"
      s"""WITH h(i, hdr) AS (VALUES $hdrVals),
         |xh(i, hdr) AS (VALUES $xVals),
         |files AS (
         |  SELECT d.doc_id, CAST(d.doc_id % 37 AS INT) AS repo,
         |    (d.doc_id < 37) AS is_lic,
         |    (CASE WHEN d.doc_id < 37 THEN h.hdr
         |          WHEN d.doc_id % 11 = 3 THEN xh.hdr
         |          ELSE '' END) || d.text AS t
         |  FROM documents d
         |  LEFT JOIN h ON h.i = CAST(d.doc_id % 10 AS INT)
         |  LEFT JOIN xh ON xh.i = CAST(d.doc_id % 7 AS INT)),
         |lo AS (SELECT doc_id, repo, is_lic, t, lower(t) AS lt FROM files),
         |det AS (
         |  SELECT doc_id, repo, is_lic,
         |    ${licenseDetectSql("t", "lt")} AS lic
         |  FROM lo),
         |repolic AS (
         |  SELECT repo, min(lic) AS repo_license
         |  FROM det WHERE is_lic AND lic <> 'none' GROUP BY repo),
         |eff AS (
         |  SELECT d.doc_id, d.repo,
         |    CASE WHEN d.lic <> 'none' THEN d.lic
         |         ELSE coalesce(r.repo_license, 'none') END AS license,
         |    CAST(CASE WHEN d.lic = 'none' AND r.repo_license IS NOT NULL
         |      THEN 1 ELSE 0 END AS INT) AS inherited
         |  FROM det d LEFT JOIN repolic r ON r.repo = d.repo),
         |tok AS (
         |  SELECT doc_id, repo, license, inherited,
         |    list_filter($tokExpr,
         |      x -> x <> '' AND x <> 'or' AND x <> 'and') AS toks,
         |    list_contains($tokExpr, 'or') AS has_or
         |  FROM eff)
         |SELECT doc_id, repo, license, inherited,
         |  CAST(CASE
         |    WHEN len(toks) = 0 THEN 0
         |    WHEN has_or THEN CASE WHEN len(list_filter(toks,
         |      x -> list_contains($permList, x))) > 0 THEN 1 ELSE 0 END
         |    ELSE CASE WHEN len(list_filter(toks,
         |      x -> NOT list_contains($permList, x))) = 0 THEN 1 ELSE 0 END
         |    END AS INT) AS keep
         |FROM tok ORDER BY doc_id""".stripMargin
    },
    // q154: DuckDB recomputes the segments (q124's list_slice chunk
    // shape), the prior distinct-hash set and the EXACT per-doc seen
    // count, and pins both self-check flags at 1 — a false negative or
    // an out-of-bound fp rate flips a flag and fails the hash
    "q154_bloom_line_scrub" ->
      """WITH segs AS (
        |  SELECT doc_id, i,
        |    array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')
        |      AS seg
        |  FROM (SELECT doc_id, toks,
        |          unnest(range(0, (len(toks) + 9) // 10)) AS i
        |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
        |              FROM documents))),
        |prior AS (SELECT DISTINCT md5(seg) AS h FROM segs
        |          WHERE doc_id % 2 = 0),
        |cur AS (SELECT doc_id, md5(seg) AS h FROM segs WHERE doc_id % 2 = 1)
        |SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN p.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_seen,
        |  CAST(1 AS INT) AS no_false_neg,
        |  CAST(1 AS INT) AS fp_in_bound
        |FROM cur c LEFT JOIN prior p ON p.h = c.h
        |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin,
    "q146_subword_expected" ->
      s"""WITH RECURSIVE $sanDocwCte,
         |$unigramCte,
         |ew AS (
         |  SELECT w,
         |    SUM(exp(0.3 * ll) * ntok) / SUM(exp(0.3 * ll)) AS e
         |  FROM paths WHERE pos = length(w) GROUP BY w),
         |ecnt AS (SELECT dw.doc_id, SUM(e.e) AS e_uni
         |         FROM docw dw JOIN ew e ON dw.w = e.w GROUP BY dw.doc_id)
         |SELECT s.doc_id,
         |  round(COALESCE(c.e_uni, 0), 4) AS e_uni
         |FROM san s LEFT JOIN ecnt c ON s.doc_id = c.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "q149_wordpiece_tokens" ->
      s"""WITH RECURSIVE $sanDocwCte,
         |$wordpieceCte,
         |cnt AS (SELECT dw.doc_id, SUM(b.ntok) AS n_wp
         |        FROM docw dw JOIN wbest b ON dw.w = b.w GROUP BY dw.doc_id)
         |SELECT s.doc_id,
         |  CAST(len(regexp_extract_all(s.t, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
         |    AS BIGINT) AS n_pieces,
         |  CAST(COALESCE(c.n_wp, 0) AS BIGINT) AS n_wp
         |FROM san s LEFT JOIN cnt c ON s.doc_id = c.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "q140_unigram_tokens" ->
      s"""WITH RECURSIVE $sanDocwCte,
         |$unigramCte,
         |cnt AS (SELECT dw.doc_id, SUM(b.ntok) AS n_uni
         |        FROM docw dw JOIN ubest b ON dw.w = b.w GROUP BY dw.doc_id)
         |SELECT s.doc_id,
         |  CAST(len(regexp_extract_all(s.t, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]'))
         |    AS BIGINT) AS n_pieces,
         |  CAST(COALESCE(c.n_uni, 0) AS BIGINT) AS n_uni
         |FROM san s LEFT JOIN cnt c ON s.doc_id = c.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "q144_unigram_quantiles" ->
      s"""WITH RECURSIVE $sanDocwCte,
         |$unigramCte,
         |cnt AS (SELECT dw.doc_id, SUM(b.ntok) AS n_uni
         |        FROM docw dw JOIN ubest b ON dw.w = b.w GROUP BY dw.doc_id),
         |doc AS (SELECT CAST(COALESCE(c.n_uni, 0) AS BIGINT) AS n_uni
         |        FROM san s LEFT JOIN cnt c ON s.doc_id = c.doc_id),
         |h AS (SELECT n_uni, count(*) AS cnt FROM doc GROUP BY 1),
         |tt AS (SELECT sum(cnt) AS total FROM h),
         |cum AS (SELECT n_uni, sum(cnt) OVER (ORDER BY n_uni) AS cum FROM h),
         |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q)
         |SELECT q, min(n_uni) AS value
         |FROM qs, cum, tt WHERE cum >= ceil(q * total)
         |GROUP BY q ORDER BY q""".stripMargin,
    "q141_unigram_fertility" ->
      s"""WITH RECURSIVE $bpeCte,
         |$unigramCte,
         |cntb AS (SELECT dw.doc_id, SUM(t.n) AS n_bpe
         |         FROM docw dw JOIN term t ON dw.w = t.w GROUP BY dw.doc_id),
         |cntu AS (SELECT dw.doc_id, SUM(b.ntok) AS n_uni
         |         FROM docw dw JOIN ubest b ON dw.w = b.w GROUP BY dw.doc_id),
         |per AS (
         |  SELECT d.lang, COALESCE(u.n_uni, 0) AS n_uni,
         |    COALESCE(c.n_bpe, 0) AS n_bpe,
         |    len(string_split(d.text, ' ')) AS n_ws
         |  FROM documents d
         |  LEFT JOIN cntb c ON d.doc_id = c.doc_id
         |  LEFT JOIN cntu u ON d.doc_id = u.doc_id)
         |SELECT lang, CAST(SUM(n_uni) AS BIGINT) AS n_uni,
         |  CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
         |  CAST(SUM(n_ws) AS BIGINT) AS n_ws,
         |  round(CAST(SUM(n_uni) AS DOUBLE) / SUM(n_ws), 4) AS fertility_uni,
         |  round(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 4) AS fertility_bpe
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    "q150_family_fertility" ->
      s"""WITH RECURSIVE $bpeCte,
         |$unigramCte,
         |$wordpieceCte,
         |cntb AS (SELECT dw.doc_id, SUM(t.n) AS n_bpe
         |         FROM docw dw JOIN term t ON dw.w = t.w GROUP BY dw.doc_id),
         |cntu AS (SELECT dw.doc_id, SUM(b.ntok) AS n_uni
         |         FROM docw dw JOIN ubest b ON dw.w = b.w GROUP BY dw.doc_id),
         |cntw AS (SELECT dw.doc_id, SUM(b.ntok) AS n_wp
         |         FROM docw dw JOIN wbest b ON dw.w = b.w GROUP BY dw.doc_id),
         |per AS (
         |  SELECT d.lang, COALESCE(u.n_uni, 0) AS n_uni,
         |    COALESCE(c.n_bpe, 0) AS n_bpe,
         |    COALESCE(w.n_wp, 0) AS n_wp,
         |    len(string_split(d.text, ' ')) AS n_ws
         |  FROM documents d
         |  LEFT JOIN cntb c ON d.doc_id = c.doc_id
         |  LEFT JOIN cntu u ON d.doc_id = u.doc_id
         |  LEFT JOIN cntw w ON d.doc_id = w.doc_id)
         |SELECT lang, CAST(SUM(n_uni) AS BIGINT) AS n_uni,
         |  CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
         |  CAST(SUM(n_wp) AS BIGINT) AS n_wp,
         |  CAST(SUM(n_ws) AS BIGINT) AS n_ws,
         |  round(CAST(SUM(n_uni) AS DOUBLE) / SUM(n_ws), 4) AS fertility_uni,
         |  round(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 4) AS fertility_bpe,
         |  round(CAST(SUM(n_wp) AS DOUBLE) / SUM(n_ws), 4) AS fertility_wp
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    "q151_icp_order" ->
      s"""WITH RECURSIVE $icpOrderCte
         |SELECT vec_id, label, label_rank, pos, prev_sim, global_pos
         |FROM icpord ORDER BY global_pos""".stripMargin,
    "q152_icp_pack" ->
      s"""WITH RECURSIVE $icpOrderCte,
         |nt AS (
         |  SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents)
         |SELECT o.vec_id, o.global_pos, nt.n_tok,
         |  CAST(FLOOR(COALESCE(SUM(nt.n_tok) OVER (
         |      ORDER BY o.global_pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |    / 2048.0) AS BIGINT) AS pack_id
         |FROM icpord o JOIN nt ON nt.doc_id = o.vec_id
         |ORDER BY o.vec_id""".stripMargin,
    "q111_bpe_quantiles" ->
      s"""WITH RECURSIVE $bpeCte,
         |cnt AS (SELECT dw.doc_id, SUM(t.n) AS n_bpe
         |        FROM docw dw JOIN term t ON dw.w = t.w GROUP BY dw.doc_id),
         |doc AS (SELECT CAST(COALESCE(c.n_bpe, 0) AS BIGINT) AS n_bpe
         |        FROM san s LEFT JOIN cnt c ON s.doc_id = c.doc_id),
         |h AS (SELECT n_bpe, count(*) AS cnt FROM doc GROUP BY 1),
         |tt AS (SELECT sum(cnt) AS total FROM h),
         |cum AS (SELECT n_bpe, sum(cnt) OVER (ORDER BY n_bpe) AS cum FROM h),
         |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q)
         |SELECT q, min(n_bpe) AS value
         |FROM qs, cum, tt WHERE cum >= ceil(q * total)
         |GROUP BY q ORDER BY q""".stripMargin,
    "q112_bpe_pack" ->
      s"""WITH RECURSIVE $bpeCte,
         |cnt AS (SELECT dw.doc_id, SUM(t.n) AS n_bpe
         |        FROM docw dw JOIN term t ON dw.w = t.w GROUP BY dw.doc_id),
         |doc AS (SELECT s.doc_id, s.lang,
         |          CAST(COALESCE(c.n_bpe, 0) AS BIGINT) AS n_bpe
         |        FROM san s LEFT JOIN cnt c ON s.doc_id = c.doc_id)
         |SELECT lang, doc_id, n_bpe,
         |  CAST(FLOOR(COALESCE(SUM(n_bpe) OVER (PARTITION BY lang
         |    ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |    0) / 2048.0) AS BIGINT) AS pack_id
         |FROM doc ORDER BY lang, doc_id""".stripMargin,
    // Same pipeline as the Spark plan: 0-based K=8 shingle windows over
    // the space-split tokens, md5 per window, corpus-wide min
    // (doc_id*2^21 + start) priority keeps one canonical occurrence,
    // every other occurrence's token positions are masked out.
    // DuckDB's list lambdas carry a 1-based index, hence the i-1.
    "q113_substring_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, text, string_split(text, ' ') AS toks
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, toks,
        |    unnest(range(0, greatest(len(toks) - 7, 0))) AS p
        |  FROM docs),
        |sh AS (
        |  SELECT doc_id, p,
        |    md5(array_to_string(list_slice(toks, p + 1, p + 8), ' ')) AS h,
        |    doc_id * 2097152 + p AS prio
        |  FROM pos),
        |dup AS (
        |  SELECT h, MIN(prio) AS keep_prio
        |  FROM sh GROUP BY h HAVING COUNT(*) > 1),
        |starts AS (
        |  SELECT sh.doc_id, list_sort(list(sh.p)) AS starts
        |  FROM sh JOIN dup USING (h)
        |  WHERE sh.prio <> dup.keep_prio
        |  GROUP BY sh.doc_id),
        |masked AS (
        |  SELECT d.doc_id, d.text, d.toks, s.starts,
        |    CASE WHEN s.starts IS NULL THEN NULL
        |         ELSE list_filter(d.toks, (t, i) ->
        |           len(list_filter(s.starts, st ->
        |             i - 1 >= st AND i - 1 < st + 8)) = 0)
        |    END AS kept
        |  FROM docs d LEFT JOIN starts s ON d.doc_id = s.doc_id)
        |SELECT doc_id,
        |  -- COALESCE: duckdb's array_to_string is NULL (not '') on []
        |  CASE WHEN starts IS NULL THEN text
        |       ELSE COALESCE(array_to_string(kept, ' '), '') END
        |    AS clean_text,
        |  CAST(CASE WHEN starts IS NULL THEN 0
        |            ELSE len(toks) - len(kept) END AS BIGINT) AS n_removed
        |FROM masked ORDER BY doc_id""".stripMargin,
    "q108_token_entropy" ->
      """WITH tc AS (
        |  SELECT doc_id, tok, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents)
        |  GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(SUM(c) AS BIGINT) AS n_tok,
        |  round(ln(CAST(SUM(c) AS DOUBLE)) -
        |    SUM(c * ln(CAST(c AS DOUBLE))) / CAST(SUM(c) AS DOUBLE), 4)
        |    AS entropy
        |FROM tc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q106_source_cap" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5('cap|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) AS draw
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN ROW_NUMBER() OVER (
        |      PARTITION BY source ORDER BY draw, doc_id) <= 15
        |    THEN 1 ELSE 0 END AS keep
        |FROM r ORDER BY doc_id""".stripMargin,
    "q105_best_survivor" ->
      s"""WITH RECURSIVE $sigCte,
         |$bandsCte,
         |$textClusterCte,
         |q AS (SELECT doc_id, $qualitySql AS quality FROM documents)
         |SELECT d.doc_id,
         |  COALESCE(c.cluster, d.doc_id) AS cluster_id, q.quality,
         |  CASE WHEN ROW_NUMBER() OVER (
         |      PARTITION BY COALESCE(c.cluster, d.doc_id)
         |      ORDER BY q.quality DESC, d.doc_id) = 1
         |    THEN 1 ELSE 0 END AS keep
         |FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id
         |JOIN q ON q.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "q54_langid" ->
      s"""SELECT doc_id,
         |  CASE WHEN ${occ("the")} * 20 > len(string_split(text, ' ')) THEN 'en'
         |       WHEN ${occ("a")} * 20 > len(string_split(text, ' ')) THEN 'en_article'
         |       ELSE 'und' END AS lang_guess
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q55_quality" ->
      s"""SELECT doc_id,
         |  length(text) AS n_char,
         |  len(string_split(text, ' ')) AS n_tok,
         |  CAST(length(replace(text, ' ', '')) AS DOUBLE)
         |    / len(string_split(text, ' ')) AS mean_tok_len,
         |  CAST(${occ("the")} + ${occ("a")} + ${occ("of")} + ${occ("and")} AS DOUBLE)
         |    / len(string_split(text, ' ')) AS stop_ratio,
         |  $qualitySql AS quality
         |FROM documents ORDER BY doc_id""".stripMargin,
    "q56_token_counts" ->
      """SELECT doc_id, len(string_split(text, ' ')) AS n_ws_tok,
        |  CAST(length(regexp_extract_all(text,
        |    '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpeish
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q57_fingerprint" ->
      """SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
        |    AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q58_simhash" ->
      s"""WITH $simhashCte
         |SELECT doc_id, simhash FROM sim ORDER BY doc_id""".stripMargin,
    "q75_chunking" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
        |c AS (SELECT doc_id, words,
        |  unnest(range(0, greatest((len(words) - 10 + 39) // 40, 1))) AS chunk_idx
        |  FROM w)
        |SELECT doc_id, chunk_idx,
        |  len(list_slice(words, chunk_idx*40 + 1,
        |    least(chunk_idx*40 + 50, len(words)))) AS n_tok,
        |  md5(array_to_string(list_slice(words, chunk_idx*40 + 1,
        |    least(chunk_idx*40 + 50, len(words))), ' ')) AS chunk_hash
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "q74_token_quantiles" ->
      """WITH c AS (
        |  SELECT len(string_split(text, ' ')) AS n_tok, count(*) AS cnt
        |  FROM documents GROUP BY 1),
        |t AS (SELECT sum(cnt) AS total FROM c),
        |cum AS (SELECT n_tok, sum(cnt) OVER (ORDER BY n_tok) AS cum FROM c),
        |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.9]) AS DOUBLE) AS q)
        |SELECT q, min(n_tok) AS value
        |FROM qs, cum, t WHERE cum >= ceil(q * total)
        |GROUP BY q ORDER BY q""".stripMargin,
    "q87_lang_quantiles" ->
      """WITH c AS (
        |  SELECT lang, len(string_split(text, ' ')) AS n_tok,
        |    count(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |t AS (SELECT lang, sum(cnt) AS total FROM c GROUP BY lang),
        |cum AS (SELECT lang, n_tok,
        |  sum(cnt) OVER (PARTITION BY lang ORDER BY n_tok) AS cum FROM c),
        |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS q)
        |SELECT lang, q, min(n_tok) AS value
        |FROM qs, cum JOIN t USING (lang)
        |WHERE cum >= ceil(q * total)
        |GROUP BY lang, q ORDER BY lang, q""".stripMargin,
    "q72_hash_sample" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 15))
        |      AS BIGINT) % 100 AS pct
        |  FROM documents)
        |SELECT doc_id, pct,
        |  CASE WHEN pct < 80 THEN 'train'
        |       WHEN pct < 90 THEN 'valid' ELSE 'test' END AS split,
        |  CAST(CASE WHEN pct < 10 THEN 1 ELSE 0 END AS BIGINT) AS in_sample
        |FROM b ORDER BY doc_id""".stripMargin,
    "q73_repetition" ->
      """WITH g AS (
        |  SELECT doc_id, string_split(text, ' ') AS w,
        |    list_transform(range(1, greatest(len(string_split(text, ' ')), 1)),
        |      i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1])
        |      AS g2
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN len(w) > 0 THEN
        |    CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w)
        |    ELSE 0.0 END AS dup_word_frac,
        |  CASE WHEN len(g2) > 0 THEN
        |    CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
        |    ELSE 0.0 END AS dup_2gram_frac,
        |  CASE WHEN len(g2) > 0 THEN
        |    CAST(list_max(list_transform(list_distinct(g2),
        |      x -> len(list_filter(g2, y -> y = x)))) AS DOUBLE) / len(g2)
        |    ELSE 0.0 END AS top_2gram_frac
        |FROM g ORDER BY doc_id""".stripMargin,
    "q71_simhash_pairs" -> {
      // 64-bit twin of simhashCte: digits 1-32 from md5(w), 33-64 from
      // the seed-1 hash — mirrors DedupOps.simhashBits(_, 64)
      val votes64 = (0 until 64).map { j =>
        val src = if (j < 32) "md5(w)" else "md5(1 || '|' || w)"
        s"CASE WHEN sum(CASE WHEN substr($src, ${j % 32 + 1}, 1) IN ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END) > 0 THEN '1' ELSE '0' END"
      }.mkString(" || ")
      val hamming = (1 to 64).map(i =>
        s"CASE WHEN substr(sa.simhash, $i, 1) <> substr(sb.simhash, $i, 1) THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH stok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |sim AS (SELECT doc_id, $votes64 AS simhash FROM stok GROUP BY doc_id),
         |sbands AS (
         |  SELECT doc_id, b.b AS band_idx,
         |    substr(simhash, b.b * 16 + 1, 16) AS band_key
         |  FROM sim, (SELECT unnest([0, 1, 2, 3]) AS b) b),
         |spairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sbands a JOIN sbands b USING (band_idx, band_key)
         |  WHERE a.doc_id < b.doc_id)
         |SELECT p.id_a, p.id_b, CAST($hamming AS BIGINT) AS hamming
         |FROM spairs p
         |JOIN sim sa ON sa.doc_id = p.id_a
         |JOIN sim sb ON sb.doc_id = p.id_b
         |WHERE $hamming <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },
    "q60_knn_bruteforce" ->
      s"""SELECT a.vec_id, ${duckCos("a", "q")} AS score
         |FROM embeddings a, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin,
    "q61_knn_lsh" -> {
      def bucket(t: String): String = (1 to 4).map(i =>
        s"CASE WHEN $t.embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""SELECT a.vec_id, ${duckCos("a", "q")} AS score
         |FROM embeddings a,
         |  (SELECT embedding, ${bucket("e")} AS bk
         |   FROM (SELECT * FROM embeddings WHERE vec_id = 0) e) q
         |WHERE ${bucket("a")} = q.bk
         |ORDER BY score DESC, a.vec_id LIMIT 5""".stripMargin
    },
    "q62_centroids" ->
      """SELECT label, dim, round(avg(CAST(x AS DOUBLE)), 4) AS centroid
        |FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
        |  unnest(embedding) AS x FROM embeddings)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "q70_knn_ivf" ->
      s"""WITH cents AS (
         |  SELECT label, dim, round(avg(CAST(x AS DOUBLE)), 4) AS centroid
         |  FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         |    unnest(embedding) AS x FROM embeddings)
         |  GROUP BY label, dim),
         |qv AS (
         |  SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         |    CAST(unnest(embedding) AS DOUBLE) AS qx
         |  FROM embeddings WHERE vec_id = 0),
         |scores AS (
         |  SELECT label, round(sum(centroid * qx) /
         |    sqrt(sum(centroid * centroid) * sum(qx * qx)), 4) AS csim
         |  FROM cents JOIN qv USING (dim) GROUP BY label),
         |probes AS (SELECT label FROM scores ORDER BY csim DESC, label LIMIT 2)
         |SELECT a.vec_id, ${duckCos("a", "q")} AS score
         |FROM embeddings a
         |JOIN probes USING (label),
         |  (SELECT embedding FROM embeddings WHERE vec_id = 0) q
         |ORDER BY score DESC, a.vec_id LIMIT 10""".stripMargin,
    "q63_vector_neardup" -> {
      def bucket(t: String): String = (1 to 4).map(i =>
        s"CASE WHEN $t.embedding[$i] >= 0 THEN '1' ELSE '0' END").mkString(" || ")
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCos("a", "b")} AS score
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |  AND ${bucket("a")} = ${bucket("b")}
         |WHERE ${duckCos("a", "b")} >= 0.35
         |ORDER BY id_a, id_b""".stripMargin
    },
    "q67_vector_neardup_exact" ->
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b, ${duckCos("a", "b")} AS score
         |FROM embeddings a JOIN embeddings b
         |  ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${duckCos("a", "b")} >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,
    "q98_cross_source_dups" ->
      """WITH hs AS (
        |  SELECT DISTINCT md5(text) AS content_hash, source
        |  FROM documents)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  count(*) AS shared_contents
        |FROM hs a JOIN hs b
        |  ON a.content_hash = b.content_hash AND a.source < b.source
        |GROUP BY a.source, b.source
        |ORDER BY source_a, source_b""".stripMargin,
    "q100_source_filter" ->
      """WITH stats AS (
        |  SELECT source,
        |    CAST(sum(n_chars) AS DOUBLE) / count(*) AS mean_chars,
        |    1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*)
        |      AS dup_rate
        |  FROM documents GROUP BY source),
        |good AS (
        |  SELECT source FROM stats
        |  WHERE mean_chars >= 290.0 AND dup_rate <= 0.2)
        |SELECT d.source, d.doc_id FROM documents d
        |JOIN good g ON d.source = g.source
        |ORDER BY d.source, d.doc_id""".stripMargin,
    // Weights CAST from strings, not written as bare literals: a bare
    // 0.30 is DECIMAL in DuckDB and decimal·BIGINT/BIGINT arithmetic
    // would diverge from Spark's double path. The CASE enumerates all
    // five langs with NO ELSE: an unknown/NULL lang draws NULL weight
    // and its copies stay NULL → dropped — matching element_at's NULL
    // on the Spark side (an ELSE would silently resample foreign-lang
    // docs the Spark plan excludes).
    "q101_mixture_resample" ->
      """WITH n AS (SELECT lang, COUNT(*) AS n_l FROM documents GROUP BY lang),
        |tt AS (SELECT COUNT(*) AS total FROM documents),
        |r AS (SELECT lang,
        |    CAST(CASE lang WHEN 'en' THEN '0.30' WHEN 'de' THEN '0.20'
        |      WHEN 'es' THEN '0.20' WHEN 'fr' THEN '0.15'
        |      WHEN 'zh' THEN '0.15' END AS DOUBLE) * total / n_l AS rate
        |  FROM n, tt),
        |c AS (SELECT d.doc_id, d.lang,
        |    CAST(FLOOR(r.rate) AS BIGINT) +
        |    CASE WHEN CAST(CAST(('0x' || substr(md5('mix|' ||
        |        CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000
        |        AS DOUBLE) / CAST(1000000 AS DOUBLE)
        |      < r.rate - FLOOR(r.rate) THEN 1 ELSE 0 END AS copies
        |  FROM documents d JOIN r USING (lang))
        |SELECT doc_id, lang,
        |  CAST(unnest(range(1, copies + 1)) AS BIGINT) AS copy
        |FROM c ORDER BY doc_id, copy""".stripMargin,
    "q102_ccnet_buckets" ->
      """WITH bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(words), 1)),
        |      i -> words[i] || ' ' || words[i+1])) AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words
        |        FROM documents)),
        |dbc AS (SELECT doc_id, bigram, COUNT(*) AS k
        |  FROM bg GROUP BY 1, 2),
        |c AS (SELECT bigram, CAST(SUM(k) AS BIGINT) AS c12
        |  FROM dbc GROUP BY bigram),
        |c2 AS (SELECT bigram, c12,
        |    SUM(c12) OVER (PARTITION BY split_part(bigram, ' ', 1)) AS c1
        |  FROM c),
        |scored AS (
        |  SELECT doc_id,
        |    round(SUM(k * ln(c12 / CAST(c1 AS DOUBLE))) /
        |      CAST(SUM(k) AS DOUBLE), 4) AS score
        |  FROM dbc JOIN c2 USING (bigram) GROUP BY doc_id),
        |sl AS (SELECT s.doc_id, s.score, d.lang
        |  FROM scored s JOIN documents d USING (doc_id)),
        |hist AS (SELECT lang, score, COUNT(*) AS cnt FROM sl GROUP BY 1, 2),
        |tot AS (SELECT lang, SUM(cnt) AS total FROM hist GROUP BY lang),
        |cum AS (SELECT lang, score,
        |    SUM(cnt) OVER (PARTITION BY lang ORDER BY score) AS cum
        |  FROM hist),
        |cuts AS (
        |  SELECT lang,
        |    MIN(CASE WHEN cum >= ceil(CAST(1 AS DOUBLE)/3 * total)
        |      THEN score END) AS c13,
        |    MIN(CASE WHEN cum >= ceil(CAST(2 AS DOUBLE)/3 * total)
        |      THEN score END) AS c23
        |  FROM cum JOIN tot USING (lang) GROUP BY lang)
        |SELECT sl.doc_id, sl.lang, sl.score,
        |  CASE WHEN sl.score <= c.c13 THEN 'tail'
        |       WHEN sl.score <= c.c23 THEN 'middle'
        |       ELSE 'head' END AS bucket
        |FROM sl JOIN cuts c USING (lang)
        |ORDER BY sl.doc_id""".stripMargin,
    "q104_dsir_importance" ->
      """WITH f AS (
        |  SELECT doc_id, source,
        |    CAST(('0x' || substr(md5(bg), 1, 15)) AS BIGINT) % 1024 AS b
        |  FROM (
        |    SELECT doc_id, source,
        |      unnest(list_transform(range(1, greatest(len(w), 1)),
        |        i -> w[i] || ' ' || w[i+1])) AS bg
        |    FROM (SELECT doc_id, source, string_split(text, ' ') AS w
        |          FROM documents))),
        |m AS (SELECT b,
        |    SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS ct,
        |    SUM(CASE WHEN source IN ('src0','src1') THEN 0 ELSE 1 END) AS cr
        |  FROM f GROUP BY b),
        |t AS (SELECT
        |    SUM(CASE WHEN source IN ('src0','src1') THEN 1 ELSE 0 END) AS nt,
        |    SUM(CASE WHEN source IN ('src0','src1') THEN 0 ELSE 1 END) AS nr
        |  FROM f),
        |w AS (SELECT b,
        |    ln((ct + 1) / CAST(nt + 1024 AS DOUBLE)) -
        |    ln((cr + 1) / CAST(nr + 1024 AS DOUBLE)) AS llr
        |  FROM m, t),
        |df AS (SELECT doc_id, b, COUNT(*) AS c FROM f
        |  WHERE source NOT IN ('src0','src1') GROUP BY 1, 2),
        |scored AS (SELECT doc_id, round(SUM(c * llr), 4) AS weight
        |  FROM df JOIN w USING (b) GROUP BY doc_id),
        |hist AS (SELECT weight, COUNT(*) AS cnt FROM scored GROUP BY weight),
        |n AS (SELECT COUNT(*) AS n FROM scored),
        |cum AS (SELECT weight, SUM(cnt) OVER (ORDER BY weight) AS cum
        |  FROM hist),
        |cut AS (SELECT MIN(CASE WHEN cum >= ceil(CAST(3 AS DOUBLE)/4 * n)
        |    THEN weight END) AS c75 FROM cum, n)
        |SELECT s.doc_id, s.weight,
        |  CASE WHEN s.weight > c.c75 THEN 1 ELSE 0 END AS keep
        |FROM scored s, cut c ORDER BY s.doc_id""".stripMargin,
    "q97_semantic_dedup" ->
      s"""WITH RECURSIVE $clusterCte
         |SELECT vec_id, cluster FROM cl ORDER BY vec_id""".stripMargin,
    "q103_semdedup" ->
      s"""WITH RECURSIVE $clusterCte
         |SELECT vec_id, cluster,
         |  CASE WHEN ROW_NUMBER() OVER (
         |      PARTITION BY cluster ORDER BY vec_id) <= 2
         |    THEN 1 ELSE 0 END AS keep
         |FROM cl ORDER BY vec_id""".stripMargin,
    "q99_sequence_pack" ->
      """SELECT lang, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |  CAST(FLOOR(COALESCE(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
        |    OVER (PARTITION BY lang ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 2048.0) AS BIGINT) AS pack_id
        |FROM documents ORDER BY lang, doc_id""".stripMargin,
    "q82_pretrain_pipeline" ->
      """WITH scored AS (
        |  SELECT doc_id, text, len(string_split(text, ' ')) AS n_tok,
        |    CASE WHEN len(string_split(text, ' ')) > 0 THEN
        |      CAST(len(string_split(text, ' ')) -
        |        len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |        / len(string_split(text, ' '))
        |    ELSE 0.0 END AS dwf
        |  FROM documents),
        |surv AS (
        |  SELECT doc_id, n_tok,
        |    ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        |  FROM scored WHERE n_tok >= 10 AND dwf < 0.3),
        |labeled AS (
        |  SELECT n_tok,
        |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
        |      1, 15)) AS BIGINT) % 100 AS pct,
        |    GREATEST((n_tok - 10 + 39) // 40, 1) AS n_chunks
        |  FROM surv WHERE rn = 1)
        |SELECT CASE WHEN pct < 80 THEN 'train'
        |            WHEN pct < 90 THEN 'valid' ELSE 'test' END AS split,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chunks) AS BIGINT) AS total_chunks
        |FROM labeled GROUP BY 1 ORDER BY split""".stripMargin,
    "q84_repeated_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  unnest(range(0, greatest((len(words) - 10 + 39) // 40, 1)))
        |    AS chunk_idx, words
        |  FROM w)
        |SELECT md5(array_to_string(list_slice(words, chunk_idx*40 + 1,
        |    least(chunk_idx*40 + 50, len(words))), ' ')) AS chunk_hash,
        |  COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occ
        |FROM c GROUP BY 1 HAVING COUNT(DISTINCT doc_id) > 1
        |ORDER BY chunk_hash""".stripMargin,
    "q85_contamination" -> contaminationOracle,
    // bloom prefilter changes the PLAN, not the answer — same oracle
    "q91_bloom_contamination" -> contaminationOracle,
    // same RE2-safe patterns as TextOps.{Email,Ipv4,Phone}Pattern (explicit
    // captured-and-reinserted ASCII anchor classes — no \b, whose word set
    // diverges between java.util.regex and RE2), same phone→email→ip order
    // as redactPii, same TWO passes per anchored kind (an anchor consumes a
    // neighbor char, so a single pass misses items one char apart), and the
    // same SEQUENTIAL audit counting as piiCounts (each kind counted on the
    // text after the prior kinds' redactions, summing its two passes)
    // q95 self-check: the iterative-kmeans index is not SQL-expressible,
    // so the oracle pins the sweep SHAPE and the recall_ok flags — a
    // recall regression below any floor fails the hash (floors sit
    // under both the sf0.01 and sf0.1 measurements)
    "q95_ann_recall" ->
      """SELECT CAST(nprobe AS INT) AS nprobe, CAST(10 AS INT) AS k,
        |  CAST(8 AS INT) AS n_queries,
        |  CAST(recall_floor AS DOUBLE) AS recall_floor,
        |  CAST(1 AS INT) AS recall_ok
        |FROM (VALUES (1, 0.15), (2, 0.25), (4, 0.45), (8, 0.70))
        |  AS t(nprobe, recall_floor)
        |ORDER BY nprobe""".stripMargin,
    // q117 self-check: same pattern as q95 — the sweep shape, the
    // compression constant and the recall_ok flags are what DuckDB can
    // pin; a recall regression below any floor fails the hash
    "q117_pq_recall" ->
      """SELECT CAST(refine AS INT) AS refine, CAST(10 AS INT) AS k,
        |  CAST(8 AS INT) AS n_queries, CAST(8 AS INT) AS code_bytes,
        |  CAST(recall_floor AS DOUBLE) AS recall_floor,
        |  CAST(1 AS INT) AS recall_ok
        |FROM (VALUES (1, 0.35), (2, 0.50), (4, 0.65))
        |  AS t(refine, recall_floor)
        |ORDER BY refine""".stripMargin,
    // q118 self-check: q117's pattern on the RESIDUAL served-index
    // path — the iterative quantizer+codebooks have no SQL oracle, so
    // DuckDB pins the sweep shape, the compression constant and the
    // recall_ok flags
    "q118_ivfpq_residual_recall" ->
      """SELECT CAST(refine AS INT) AS refine, CAST(10 AS INT) AS k,
        |  CAST(8 AS INT) AS n_queries, CAST(8 AS INT) AS code_bytes,
        |  CAST(recall_floor AS DOUBLE) AS recall_floor,
        |  CAST(1 AS INT) AS recall_ok
        |FROM (VALUES (1, 0.35), (2, 0.50), (4, 0.65))
        |  AS t(refine, recall_floor)
        |ORDER BY refine""".stripMargin,
    // q120 self-check: the blocked-vs-exhaustive keep agreement is
    // computed Spark-side (DuckDB cannot express the iterative
    // quantizer); the oracle pins the bounded subset's size, the floor
    // and the ok flag — a blocking-recall regression fails the hash
    "q120_semdedup_agreement" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_vectors,
        |  CAST(0.9 AS DOUBLE) AS agreement_floor,
        |  CAST(1 AS INT) AS agreement_ok
        |FROM embeddings WHERE vec_id < 500""".stripMargin,
    // q121: full independent recompute — DuckDB derives the same
    // seeded order key and packs through ONE global window (the
    // sharded prefix-sum is a plan choice, not a semantic one)
    "q121_shuffled_pack" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    md5('graft-epoch-0:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
        |  FROM documents)
        |SELECT doc_id, n_tok,
        |  CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
        |      ORDER BY shuffle_key, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    / 2048.0) AS BIGINT) AS pack_id
        |FROM s ORDER BY doc_id""".stripMargin,
    // q122: full independent recompute — DuckDB rebuilds the pair
    // graph, the best-positive window, the seeded global rank and the
    // half-rotation negative; the sharded rank is a plan choice, not a
    // semantic one, so one global ROW_NUMBER reproduces it
    "q122_contrastive_triplets" ->
      s"""WITH pr AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id
         |  WHERE ${duckCos("a", "b")} >= 0.35),
         |bidir AS (
         |  SELECT id_a AS anchor_id, id_b AS cand FROM pr
         |  UNION ALL SELECT id_b AS anchor_id, id_a AS cand FROM pr),
         |sc AS (
         |  SELECT t.anchor_id, t.cand, ${duckCos("av", "cv")} AS pos_cos
         |  FROM bidir t JOIN embeddings av ON av.vec_id = t.anchor_id
         |    JOIN embeddings cv ON cv.vec_id = t.cand),
         |best AS (
         |  SELECT anchor_id, cand AS pos_id, pos_cos
         |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
         |          ORDER BY pos_cos DESC, cand) AS rk FROM sc)
         |  WHERE rk = 1),
         |rnk AS (
         |  SELECT vec_id, ROW_NUMBER() OVER (
         |    ORDER BY md5('triplet-0:' || CAST(vec_id AS VARCHAR)),
         |      vec_id) - 1 AS r
         |  FROM embeddings),
         |nn AS (SELECT COUNT(*) AS c FROM embeddings),
         |trip AS (
         |  SELECT b.anchor_id, b.pos_id, b.pos_cos, r2.vec_id AS neg_id
         |  FROM best b
         |  JOIN rnk r1 ON r1.vec_id = b.anchor_id
         |  CROSS JOIN nn
         |  JOIN rnk r2 ON r2.r = (r1.r + c // 2) % c)
         |SELECT t.anchor_id, t.pos_id, t.pos_cos, t.neg_id,
         |  ${duckCos("av", "nv")} AS neg_cos,
         |  CAST(CASE WHEN ${duckCos("av", "nv")} < 0.35
         |      AND t.neg_id <> t.anchor_id AND t.neg_id <> t.pos_id
         |    THEN 1 ELSE 0 END AS INT) AS neg_clean
         |FROM trip t JOIN embeddings av ON av.vec_id = t.anchor_id
         |  JOIN embeddings nv ON nv.vec_id = t.neg_id
         |ORDER BY anchor_id""".stripMargin,
    // q123: full independent recompute with ONE window per stratum —
    // the engine's two-level salted rank is a skew plan choice, not a
    // semantic one; the BIGINT cast is the hashDraw idiom (q82's)
    "q123_stratified_eval" ->
      """SELECT doc_id, source FROM (
        |  SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source
        |    ORDER BY CAST(('0x' || substr(md5('eval-0|' ||
        |        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT),
        |      doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= 20 ORDER BY doc_id""".stripMargin,
    // q124: full independent recompute — DuckDB re-segments with list
    // slices (chunk semantics: ⌈n/10⌉ disjoint 10-word chunks, last
    // chunk truncated), re-derives the min-(doc,idx) keeper per
    // distinct line, and reassembles with an ordered string_agg. The
    // priority encoding (doc_id·2^21 + idx) is shared with the Spark
    // plan, q113's convention.
    "q124_line_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |nseg AS (
        |  SELECT doc_id, toks, (len(toks) + 9) // 10 AS n_lines FROM docs),
        |pos AS (
        |  SELECT doc_id, toks, n_lines, unnest(range(0, n_lines)) AS i
        |  FROM nseg),
        |segs AS (
        |  SELECT doc_id, i,
        |    array_to_string(list_slice(toks, i * 10 + 1, i * 10 + 10), ' ')
        |      AS seg,
        |    doc_id * 2097152 + i AS prio
        |  FROM pos),
        |keep AS (
        |  SELECT md5(seg) AS h, min(prio) AS keep_prio
        |  FROM segs GROUP BY 1),
        |kept AS (
        |  SELECT s.doc_id,
        |    string_agg(s.seg, ' ' ORDER BY s.i) AS text_dedup,
        |    count(*) AS n_kept
        |  FROM segs s JOIN keep k ON md5(s.seg) = k.h AND s.prio = k.keep_prio
        |  GROUP BY s.doc_id)
        |SELECT n.doc_id, COALESCE(k.text_dedup, '') AS text_dedup,
        |  CAST(n.n_lines AS BIGINT) AS n_lines,
        |  CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept
        |FROM nseg n LEFT JOIN kept k USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q125: full independent recompute — τ = 0.5 through sqrt (IEEE-
    // correctly-rounded in both engines; the one engine-ordered term is
    // the 20-element normalizer sum, absorbed by the 4-dp round).
    // n_tok is re-cast in the FINAL select: DuckDB widens SUM(BIGINT)
    // to HUGEINT (decimal128), which hash-mismatches Spark's int64
    // even when every value is identical — the r11 red row. The
    // OracleTypeLint spec makes this class unrepresentable.
    "q125_temperature_mixture" ->
      """WITH m AS (
        |  SELECT source,
        |    SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS n_tok
        |  FROM documents GROUP BY 1),
        |t AS (SELECT SUM(n_tok) AS tot FROM m),
        |p AS (
        |  SELECT source, n_tok,
        |    CAST(n_tok AS DOUBLE) / tot AS p,
        |    sqrt(CAST(n_tok AS DOUBLE) / tot) AS pw
        |  FROM m, t),
        |z AS (SELECT SUM(pw) AS z FROM p)
        |SELECT source, CAST(n_tok AS BIGINT) AS n_tok, round(p, 4) AS p,
        |  round(pw / z, 4) AS w,
        |  round(pw / z / p, 4) AS boost
        |FROM p, z ORDER BY source""".stripMargin,
    // q126: full independent recompute — the bigram derivation is
    // q73's list_transform idiom (L−1 windows, empty under two tokens)
    "q126_ngram_diversity" ->
      """WITH w AS (
        |  SELECT source, string_split(text, ' ') AS toks FROM documents),
        |uni AS (SELECT source, unnest(toks) AS g FROM w),
        |u AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_uni,
        |    CAST(count(DISTINCT g) AS BIGINT) AS u_uni
        |  FROM uni GROUP BY 1),
        |big AS (
        |  SELECT source,
        |    unnest(list_transform(range(1, greatest(len(toks), 1)),
        |      i -> toks[i] || ' ' || toks[i + 1])) AS g
        |  FROM w),
        |b AS (
        |  SELECT source, CAST(count(*) AS BIGINT) AS n_bi,
        |    CAST(count(DISTINCT g) AS BIGINT) AS u_bi
        |  FROM big GROUP BY 1)
        |SELECT u.source, n_uni, u_uni,
        |  round(CAST(u_uni AS DOUBLE) / n_uni, 4) AS d1,
        |  CAST(COALESCE(n_bi, 0) AS BIGINT) AS n_bi,
        |  CAST(COALESCE(u_bi, 0) AS BIGINT) AS u_bi,
        |  round(CAST(u_bi AS DOUBLE) / n_bi, 4) AS d2
        |FROM u LEFT JOIN b ON u.source = b.source
        |ORDER BY u.source""".stripMargin,
    // q128: the q9/q68 anchor pattern — DuckDB recomputes the EXACT
    // per-source counts and pins est_in_bound = 1; a sketch straying
    // past its 3σ bound flips the flag and fails the hash
    "q128_diversity_sketch" ->
      """WITH uni AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS g
        |  FROM documents)
        |SELECT source,
        |  CAST(count(DISTINCT g) AS BIGINT) AS exact_unigrams,
        |  CAST(count(*) AS BIGINT) AS n_unigrams,
        |  CAST(1 AS INT) AS est_in_bound
        |FROM uni GROUP BY source ORDER BY source""".stripMargin,
    // q129: the q110 BPE recursion re-aggregated per language; n_ws
    // counts the ORIGINAL text's whitespace tokens (sanitization only
    // feeds the subword side, mirroring the Spark plan)
    "q129_token_fertility" ->
      s"""WITH RECURSIVE $bpeCte,
         |cnt AS (SELECT dw.doc_id, SUM(t.n) AS n_bpe
         |        FROM docw dw JOIN term t ON dw.w = t.w GROUP BY dw.doc_id),
         |per AS (
         |  SELECT d.lang, COALESCE(c.n_bpe, 0) AS n_bpe,
         |    len(string_split(d.text, ' ')) AS n_ws
         |  FROM documents d LEFT JOIN cnt c ON d.doc_id = c.doc_id)
         |SELECT lang, CAST(SUM(n_bpe) AS BIGINT) AS n_bpe,
         |  CAST(SUM(n_ws) AS BIGINT) AS n_ws,
         |  round(CAST(SUM(n_bpe) AS DOUBLE) / SUM(n_ws), 4) AS fertility
         |FROM per GROUP BY lang ORDER BY lang""".stripMargin,
    // q130: full independent recompute of train AND score — DuckDB
    // refits the NB log-odds from the same labeled buckets and re-sums
    // each document's score in its own order (the 4-dp round absorbs
    // summation/ln ulps, q104's convention); keep gates on the ROUNDED
    // value in both engines
    "q130_quality_classifier" ->
      s"""WITH $clfScoredCte
         |SELECT doc_id, score,
         |  CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INT) AS keep
         |FROM clf_scored ORDER BY doc_id""".stripMargin,
    // q132: the verdict pattern (q114/q120) — DuckDB recomputes the
    // doc count and pins the GD loss-improvement flag at 1 (the
    // improvement is far above double-summation ulp noise, the only
    // cross-run wobble full-batch GD has here)
    "q132_logistic_refined_gate" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(3 AS INT) AS epochs,
        |  CAST(1 AS INT) AS loss_improved_ok
        |FROM documents""".stripMargin,
    // q134: full independent recompute of train AND predict — per-class
    // bucket counts from char trigrams, multinomial-NB scores with the
    // add-1 smoothing floor on class-unseen buckets, argmax on rounded
    // scores (ties to the smaller lang, Spark's struct-min order)
    "q134_langid_trained" ->
      """WITH cg AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, greatest(len(text) - 1, 1)),
        |      i -> substr(text, i, 3))) AS g
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) % 1024 AS b
        |  FROM cg),
        |m AS (SELECT lang, b, COUNT(*) AS c FROM f GROUP BY 1, 2),
        |nlt AS (SELECT lang, SUM(c) AS nl FROM m GROUP BY 1),
        |d AS (SELECT lang, COUNT(*) AS dl FROM documents GROUP BY 1),
        |t AS (SELECT SUM(dl) AS dt FROM d),
        |db AS (SELECT doc_id, b, COUNT(*) AS c FROM f GROUP BY 1, 2),
        |s AS (
        |  SELECT doc.doc_id, cls.lang,
        |    ln(CAST(d.dl AS DOUBLE)) - ln(CAST(t.dt AS DOUBLE)) +
        |    COALESCE(SUM(db.c *
        |      ln((COALESCE(m.c, 0) + 1) / CAST(nlt.nl + 1024 AS DOUBLE))),
        |      0) AS score
        |  FROM (SELECT doc_id FROM documents) doc
        |  CROSS JOIN (SELECT DISTINCT lang FROM documents) cls
        |  LEFT JOIN db ON db.doc_id = doc.doc_id
        |  LEFT JOIN m ON m.lang = cls.lang AND m.b = db.b
        |  JOIN nlt ON nlt.lang = cls.lang
        |  JOIN d ON d.lang = cls.lang
        |  CROSS JOIN t
        |  GROUP BY doc.doc_id, cls.lang, d.dl, t.dt),
        |r AS (
        |  SELECT doc_id, lang, round(score, 4) AS rs,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY round(score, 4) DESC, lang) AS rk
        |  FROM s)
        |SELECT doc_id, lang AS pred_lang, rs AS score
        |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    // q133: full recompute — σ of the shared CTE's ROUNDED log-odds,
    // the salted-hash uniform, the inverse Lomax draw; both comparison
    // sides round to 4 dp so the engines compare identical doubles
    "q133_pareto_quality_sample" ->
      s"""WITH $clfScoredCte,
         |g AS (
         |  SELECT doc_id,
         |    1.0 / (1.0 + exp(-score)) AS p,
         |    (CAST(('0x' || substr(md5('quality|' ||
         |        CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) % 1000000)
         |      / 1000000.0 AS u
         |  FROM clf_scored)
         |SELECT doc_id, round(p, 4) AS score,
         |  round(pow(1.0 - u, -1.0 / 9.0) - 1.0, 4) AS draw,
         |  CAST(CASE WHEN round(pow(1.0 - u, -1.0 / 9.0) - 1.0, 4)
         |         > round(1.0 - p, 4)
         |       THEN 1 ELSE 0 END AS INT) AS keep
         |FROM g ORDER BY doc_id""".stripMargin,
    // q131: q82's oracle with the heuristic gate swapped for the
    // trained classifier gate (score > 0 from the shared clf CTE)
    "q131_classifier_gate_pipeline" ->
      s"""WITH $clfScoredCte,
         |surv AS (
         |  SELECT d.doc_id, len(string_split(d.text, ' ')) AS n_tok,
         |    ROW_NUMBER() OVER (PARTITION BY md5(d.text) ORDER BY d.doc_id)
         |      AS rn
         |  FROM documents d JOIN clf_scored c ON d.doc_id = c.doc_id
         |  WHERE c.score > 0),
         |labeled AS (
         |  SELECT n_tok,
         |    CAST(('0x' || substr(md5('split|' || CAST(doc_id AS VARCHAR)),
         |      1, 15)) AS BIGINT) % 100 AS pct,
         |    GREATEST((n_tok - 10 + 39) // 40, 1) AS n_chunks
         |  FROM surv WHERE rn = 1)
         |SELECT CASE WHEN pct < 80 THEN 'train'
         |            WHEN pct < 90 THEN 'valid' ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |  CAST(SUM(n_chunks) AS BIGINT) AS total_chunks
         |FROM labeled GROUP BY 1 ORDER BY split""".stripMargin,
    // q127: full independent recompute — same closed-form regression
    // arithmetic as the Spark plan (deliberately NOT regr_slope, whose
    // internals are engine-private); 4-dp round absorbs ln/summation
    // ulps
    "q127_zipf_slope" ->
      """WITH wc AS (
        |  SELECT lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |cnt AS (
        |  SELECT lang, tok, CAST(count(*) AS BIGINT) AS cnt
        |  FROM wc GROUP BY 1, 2),
        |rk AS (
        |  SELECT lang, tok, cnt, row_number() OVER (PARTITION BY lang
        |    ORDER BY cnt DESC, tok ASC) AS rk
        |  FROM cnt),
        |xy AS (
        |  SELECT lang, ln(CAST(rk AS DOUBLE)) AS x,
        |    ln(CAST(cnt AS DOUBLE)) AS y
        |  FROM rk WHERE rk <= 1000),
        |agg AS (
        |  SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
        |    sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx
        |  FROM xy GROUP BY 1)
        |SELECT lang, n_terms,
        |  round((n_terms * sxy - sx * sy) /
        |    nullif(n_terms * sxx - sx * sx, 0.0), 4) AS zipf_slope
        |FROM agg ORDER BY lang""".stripMargin,
    // q119: full independent recompute — DuckDB rebuilds both unigram
    // distributions and the closed-form JSD terms; the 6-dp round on
    // the summed divergence absorbs cross-engine summation order
    "q119_corpus_drift" ->
      """WITH toks AS (
        |  SELECT source,
        |    CASE WHEN doc_id % 40 < 20 THEN 0 ELSE 1 END AS half,
        |    unnest(regexp_split_to_array(text, '\s+')) AS tok
        |  FROM documents),
        |tk AS (SELECT * FROM toks WHERE length(tok) > 0),
        |counts AS (
        |  SELECT source, tok,
        |    sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS ca,
        |    sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS cb
        |  FROM tk GROUP BY source, tok),
        |tot AS (
        |  SELECT source, CAST(sum(ca) AS BIGINT) AS ta,
        |    CAST(sum(cb) AS BIGINT) AS tb
        |  FROM counts GROUP BY source),
        |terms AS (
        |  SELECT c.source, t.ta, t.tb,
        |    CAST(ca AS DOUBLE) / ta AS pa, CAST(cb AS DOUBLE) / tb AS pb
        |  FROM counts c JOIN tot t ON c.source = t.source),
        |j AS (
        |  SELECT source, max(ta) AS n_tok_a, max(tb) AS n_tok_b,
        |    round(sum(
        |      (CASE WHEN pa > 0 THEN pa * log2(2*pa/(pa+pb)) * 0.5
        |            ELSE 0 END) +
        |      (CASE WHEN pb > 0 THEN pb * log2(2*pb/(pa+pb)) * 0.5
        |            ELSE 0 END)), 6) AS jsd
        |  FROM terms GROUP BY source)
        |SELECT source, n_tok_a, n_tok_b, jsd,
        |  CAST(CASE WHEN jsd >= 0.05 THEN 1 ELSE 0 END AS INT) AS drifted
        |FROM j ORDER BY source""".stripMargin,
    "q93_pii_scrub" ->
      """WITH inj AS (
        |  SELECT doc_id,
        |    text || ' contact user' || CAST(doc_id AS VARCHAR) ||
        |    '@mail.example.org from 10.0.' ||
        |    CAST(doc_id % 256 AS VARCHAR) || '.77 call +55 21 9' ||
        |    lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' 1234' AS t
        |  FROM documents),
        |ph1 AS (SELECT doc_id, t,
        |    regexp_replace(t,
        |      '(\+\d{2}[ -]?\d{2}[ -]?\d{4,5}[ -]?\d{4})([^0-9A-Za-z_]|$)',
        |      '<PHONE>\2', 'g') AS t_p1
        |  FROM inj),
        |p1 AS (SELECT doc_id, t, t_p1,
        |    regexp_replace(t_p1,
        |      '(\+\d{2}[ -]?\d{2}[ -]?\d{4,5}[ -]?\d{4})([^0-9A-Za-z_]|$)',
        |      '<PHONE>\2', 'g') AS t_ph
        |  FROM ph1),
        |p2 AS (SELECT *, regexp_replace(t_ph,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
        |    '<EMAIL>', 'g') AS t_em
        |  FROM p1),
        |ip1 AS (SELECT *, regexp_replace(t_em,
        |    '(^|[^0-9A-Za-z_.])((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])){3})([^0-9A-Za-z_.]|$)',
        |    '\1<IP>\6', 'g') AS t_i1
        |  FROM p2)
        |SELECT doc_id,
        |  regexp_replace(t_i1,
        |    '(^|[^0-9A-Za-z_.])((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])){3})([^0-9A-Za-z_.]|$)',
        |    '\1<IP>\6', 'g') AS clean,
        |  CAST(len(regexp_extract_all(t_ph,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |    AS n_emails,
        |  CAST(len(regexp_extract_all(t_em,
        |    '(^|[^0-9A-Za-z_.])((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])){3})([^0-9A-Za-z_.]|$)'))
        |    + len(regexp_extract_all(t_i1,
        |    '(^|[^0-9A-Za-z_.])((25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])(\.(25[0-5]|2[0-4][0-9]|1?[0-9]?[0-9])){3})([^0-9A-Za-z_.]|$)'))
        |    AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(t,
        |    '(\+\d{2}[ -]?\d{2}[ -]?\d{4,5}[ -]?\d{4})([^0-9A-Za-z_]|$)'))
        |    + len(regexp_extract_all(t_p1,
        |    '(\+\d{2}[ -]?\d{2}[ -]?\d{4,5}[ -]?\d{4})([^0-9A-Za-z_]|$)'))
        |    AS BIGINT) AS n_phones
        |FROM ip1 ORDER BY doc_id""".stripMargin,
    "q92_doc_logprob" ->
      """WITH bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(words), 1)),
        |      i -> words[i] || ' ' || words[i+1])) AS bigram
        |  FROM (SELECT doc_id, string_split(text, ' ') AS words
        |        FROM documents)),
        |dbc AS (SELECT doc_id, bigram, COUNT(*) AS k
        |  FROM bg GROUP BY 1, 2),
        |c AS (SELECT bigram, CAST(SUM(k) AS BIGINT) AS c12
        |  FROM dbc GROUP BY bigram),
        |c2 AS (SELECT bigram, c12,
        |    SUM(c12) OVER (PARTITION BY split_part(bigram, ' ', 1)) AS c1
        |  FROM c)
        |SELECT doc_id,
        |  round(SUM(k * ln(c12 / CAST(c1 AS DOUBLE))) /
        |    CAST(SUM(k) AS DOUBLE), 4) AS avg_logprob,
        |  CAST(SUM(k) AS BIGINT) AS n_bigrams
        |FROM dbc JOIN c2 USING (bigram)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    // q114 self-check (new in round 12 — formerly the dump's one
    // rows-only row): the full-corpus blocked dedup runs Spark-side
    // and is reduced to structural invariants (coverage / keeper
    // policy / keep-order) plus the q120 agreement bound; DuckDB
    // recomputes the two counts and pins every flag at 1. A coverage,
    // policy, ordering, or blocking-recall regression fails the hash.
    "q114_semdedup_scaled" ->
      """WITH n AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings),
        |s AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n_subset
        |  FROM embeddings WHERE vec_id < 500)
        |SELECT n_vectors,
        |  CAST(1 AS INT) AS coverage_ok,
        |  CAST(1 AS INT) AS policy_ok,
        |  CAST(1 AS INT) AS order_ok,
        |  n_subset,
        |  CAST(0.9 AS DOUBLE) AS agreement_floor,
        |  CAST(1 AS INT) AS agreement_ok
        |FROM n, s""".stripMargin,
    "q115_lm_quality_scaled" ->
      """WITH refbg AS (
        |  SELECT unnest(list_transform(range(1, greatest(len(words), 1)),
        |    i -> words[i] || ' ' || words[i+1])) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS words FROM documents
        |        WHERE lang = 'en' AND doc_id % 10 = 0)),
        |cnt AS (SELECT bigram, COUNT(*) AS c12 FROM refbg
        |  WHERE bigram IS NOT NULL GROUP BY bigram),
        |model AS (SELECT bigram, c12 FROM cnt
        |  ORDER BY c12 DESC, bigram LIMIT 2000),
        |model2 AS (SELECT bigram, c12,
        |    SUM(c12) OVER (PARTITION BY split_part(bigram, ' ', 1)) AS c1
        |  FROM model),
        |bg AS (
        |  SELECT doc_id, lang,
        |    unnest(list_transform(range(1, greatest(len(words), 1)),
        |      i -> words[i] || ' ' || words[i+1])) AS bigram
        |  FROM (SELECT doc_id, lang, string_split(text, ' ') AS words
        |        FROM documents))
        |SELECT bg.doc_id, bg.lang,
        |  round(SUM(ln(coalesce(m.c12 / CAST(m.c1 AS DOUBLE), 0.000001))) /
        |    CAST(COUNT(*) AS DOUBLE), 4) AS score
        |FROM bg LEFT JOIN model2 m USING (bigram)
        |WHERE bg.bigram IS NOT NULL
        |GROUP BY bg.doc_id, bg.lang ORDER BY bg.doc_id""".stripMargin,
    "q116_leakage_safe_split" ->
      s"""WITH RECURSIVE $sigCte,
         |$bandsCte,
         |$textClusterCte,
         |cl AS (
         |  SELECT d.doc_id, COALESCE(c.cluster, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c ON c.doc_id = d.doc_id),
         |b AS (
         |  SELECT doc_id, cluster_id,
         |    CAST(('0x' || substr(md5('split|' || CAST(cluster_id AS VARCHAR)),
         |      1, 15)) AS BIGINT) % 100 AS pct
         |  FROM cl)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN pct < 80 THEN 'train'
         |       WHEN pct < 90 THEN 'valid' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,
    "q88_bigram_lm" ->
      """WITH bg AS (
        |  SELECT unnest(list_transform(range(1, greatest(len(words), 1)),
        |    i -> words[i] || ' ' || words[i+1])) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS words FROM documents)),
        |c AS (SELECT bigram, COUNT(*) AS cnt FROM bg GROUP BY bigram)
        |SELECT bigram, cnt,
        |  round(cnt / CAST(SUM(cnt) OVER (
        |    PARTITION BY split_part(bigram, ' ', 1)) AS DOUBLE), 4)
        |    AS p_cond
        |FROM c ORDER BY cnt DESC, bigram LIMIT 20""".stripMargin,
    "q79_top_tokens" ->
      """SELECT token, COUNT(*) AS cnt
        |FROM (SELECT unnest(string_split(text, ' ')) AS token
        |      FROM documents)
        |GROUP BY token ORDER BY cnt DESC, token LIMIT 20""".stripMargin,
    "q77_tfidf" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |  FROM documents),
        |tf AS (SELECT doc_id, token, COUNT(*) AS tf
        |  FROM tok GROUP BY doc_id, token),
        |dfreq AS (SELECT token, COUNT(DISTINCT doc_id) AS df
        |  FROM tok GROUP BY token),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT doc_id, token, tf, df,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf
        |  FROM tf JOIN dfreq USING (token), n),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, token) AS rnk
        |  FROM scored)
        |SELECT doc_id, rnk, token, tf, df, tfidf
        |FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,
    "q78_quantize" ->
      """WITH elems AS (
        |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
        |    CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |stats AS (
        |  SELECT dim, MIN(x) AS minv, MAX(x) AS maxv
        |  FROM elems GROUP BY dim)
        |SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
        |  MIN(code) AS code_min, MAX(code) AS code_max
        |FROM (SELECT vec_id,
        |        CASE WHEN maxv = minv THEN 0
        |          ELSE CAST(round(255.0 * (x - minv) / (maxv - minv))
        |            AS BIGINT) END AS code
        |      FROM elems JOIN stats USING (dim))
        |GROUP BY vec_id ORDER BY vec_id""".stripMargin
  )
}
