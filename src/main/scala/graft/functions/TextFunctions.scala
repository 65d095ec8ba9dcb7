package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * All pure `Column` expressions over `functions._` — codegen'd, no UDFs, so
  * they run inside WholeStageCodegen at 100 TB. Each has an exact SQL
  * equivalent for the DuckDB oracle.
  */
object TextFunctions {

  /** Unicode normalization — see [[UnicodeNormalize]] (native codegen'd
    * expression; NFC|NFD|NFKC|NFKD). */
  def normalize(c: Column, form: String = "NFC"): Column = UnicodeNormalize(c, form)

  /** The standard pre-hash text canonicalization chain: NFC normalize, strip
    * C0/DEL control characters (newline survives), collapse space/tab runs,
    * trim. Run this before any hash-keyed dedup/decontamination pass so that
    * byte-level encoding noise (decomposed accents, stray control bytes,
    * ragged spacing) cannot split one logical document into many hash keys.
    * Pure codegen'd expressions — the chain fuses into the corpus scan. */
  def cleanText(c: Column): Column =
    trim(regexp_replace(
      regexp_replace(normalize(c, "NFC"), "[\\x00-\\x08\\x0B-\\x1F\\x7F]", ""),
      "[ \\t]+", " "))

  /** Whitespace token count (the BPE-ish regex variant is `tokenCountRegex`). */
  def tokenCount(c: Column): Column = size(split(c, " "))

  /** Lowercased alphanumeric word tokens — the shared tokenizer of the
    * oracle-mirrored overlap/co-occurrence ops ([[graft.ops.TextSim]],
    * [[graft.ops.Cooccur]]); ONE definition so the Scala side and the
    * DuckDB replay strings cannot drift apart per-op. */
  def alnumTokens(c: Column): Column =
    filter(split(lower(regexp_replace(c, "[^A-Za-z0-9]+", " ")), " "),
      t => length(t) > 0)

  /** BPE-ish token estimate: count word pieces and digits/punctuation runs,
    * approximating subword tokenizers without a vocab (offline container). */
  def tokenCountRegex(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  def charCount(c: Column): Column = length(c)

  def avgWordLength(c: Column): Column =
    length(regexp_replace(c, " ", "")).cast("double") / tokenCount(c)

  /** Fraction of characters that are punctuation. */
  def punctRatio(c: Column): Column =
    (length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))).cast("double") /
      length(c)

  val EnglishStopwords: Seq[String] = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "are", "was", "for",
    "on", "with", "as", "at", "by", "it", "that", "this")

  /** Fraction of whitespace tokens that are stopwords. */
  def stopwordRatio(c: Column, stopwords: Seq[String] = EnglishStopwords): Column = {
    val toks = split(lower(c), " ")
    val sw = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(sw, t))).cast("double") / size(toks)
  }

  /** Composite quality score in [0,1]: rewards mid-length docs, some
    * stopwords, low punctuation — the standard cheap pre-filter shape for
    * pretraining corpora (cf. C4/Gopher rules, public). */
  def qualityScore(c: Column): Column = {
    val lenScore = least(tokenCount(c).cast("double") / 100.0, lit(1.0))
    val swScore = least(stopwordRatio(c) * 5.0, lit(1.0))
    val punctPenalty = greatest(lit(0.0), lit(1.0) - punctRatio(c) * 5.0)
    round((lenScore + swScore + punctPenalty) / 3.0, 6)
  }

  /** Marker stopwords per language for the n-gram/marker language-ID
    * heuristic. Public-knowledge frequent words. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "las", "una", "para"),
    "de" -> Seq("der", "die", "und", "das", "mit"),
    "zh" -> Seq("的", "了", "是", "在", "我"))

  /** Count occurrences of `term` as a whitespace token. */
  private def tokenOccurrences(toks: Column, term: String): Column =
    size(filter(toks, t => t === term))

  /** Language ID: argmax of marker-token counts, ties broken by marker-list
    * order, "und" when nothing matches. Deterministic and SQL-expressible. */
  def langId(c: Column): Column = {
    val toks = split(lower(c), " ")
    val scored = LangMarkers.map { case (lang, markers) =>
      lang -> markers.map(m => tokenOccurrences(toks, m)).reduce(_ + _)
    }
    val best = scored.map(_._2).reduce((a, b) => greatest(a, b))
    val pick = scored.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
    pick
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased text.
    * Stable across engines (DuckDB md5 produces the same hex) — the exact
    * dedup key for `ExactDedup`. */
  def fingerprint(c: Column): Column =
    md5(regexp_replace(trim(lower(c)), "\\s+", " "))

  // --- repetition / duplication signals (Gopher-style quality rules,
  // publicly described in the Gopher paper's MassiveText filters and the
  // open Dolma toolkit). Per-row compute, embarrassingly parallel, no
  // shuffle — they run inside the scan stage at any corpus size. The
  // distinct counts and the mode counts are native expressions
  // ([[ShingleHashes]], [[TopGramCount]]): one counting pass per row, no
  // higher-order lambda, so nothing is evaluated interpreted.

  /** Fraction of whitespace tokens that are repeats of an earlier token:
    * 1 - distinct/total. High values mark degenerate boilerplate. */
  def dupTokenFraction(c: Column): Column = {
    val toks = split(c, " ")
    round(lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks), 6)
  }

  /** Frequency share of the single most common token (mode / total). */
  def topTokenFraction(c: Column): Column = topNgramFraction(c, 1)

  /** Fraction of word n-grams that are repeats: 1 - distinct/total. Distinct
    * counting rides the fused [[ShingleHashes]] pass (64-bit-collision
    * equivalence, as everywhere in the dedup family). Docs with fewer than n
    * tokens have one whole-text gram -> 0.0. */
  def dupNgramFraction(c: Column, n: Int): Column = {
    val total = greatest(size(split(c, " ")) - (n - 1), lit(1))
    round(lit(1.0) -
      size(ShingleHashes(c, n)).cast("double") / total, 6)
  }

  /** Frequency share of the most common word n-gram. Docs with fewer than n
    * tokens collapse to one whole-text gram -> 1.0 (maximally repetitive by
    * convention; filter short docs first). */
  def topNgramFraction(c: Column, n: Int): Column = {
    val total = greatest(size(split(c, " ")) - (n - 1), lit(1))
    round(TopGramCount(c, n).cast("double") / total, 6)
  }

  /** Word n-gram shingles as an array column (dedup building block).
    *
    * Built from n SHIFTED SLICES folded with zip_with, never a
    * transform(sequence(...), i => f(split(c), i)) lambda: a HOF lambda
    * re-evaluates every expression it closes over PER ELEMENT (the r10
    * winnow lesson), so the old sequence form re-split the text once
    * per gram position — O(tokens²) characters per row, and the whole
    * cost of the datacard/diversity gram passes (q128's gram branch
    * measured 1.1 s of its 1.9 s at sf0.1). zip_with takes its arrays
    * as ARGUMENTS, evaluated once per row, so this form is
    * O(n · tokens). zip_with pads to the longest input with nulls and
    * concat is null-intolerant, so the trailing i > size−n positions
    * come out null and are sliced away; gram strings are byte-identical
    * to the concat_ws(slice) form (split yields no null tokens, and
    * empty tokens join identically). */
  def shingles(c: Column, n: Int): Column = {
    val toks = split(c, " ")
    val shifted = (0 until n).map(k =>
      if (k == 0) toks
      else slice(toks, lit(k + 1), greatest(size(toks) - k, lit(0))))
    val joined = shifted.reduce((a, b) =>
      zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(slice(joined, lit(1), size(toks) - (n - 1)))
  }

  // --- PII scrubbing (the pre-release redaction pass every public corpus
  // pipeline runs — cf. the open Dolma toolkit's email/phone/IP taggers and
  // BigScience ROOTS PII filtering). Pure regexp_replace chains: codegen'd,
  // per-row, no shuffle, and every pattern stays inside the RE2-compatible
  // subset (no lookbehind/backrefs) so the DuckDB oracle replays them
  // byte-identically with regexp_replace(..., 'g').

  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  private val SsnRe = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
  // Optional +CC prefix, then (415)- or 415- style area code, then 555-0100.
  // No leading \b: "(" sits on a non-word boundary, which would unmatch
  // parenthesised area codes.
  private val PhoneRe =
    "(?:\\+?\\d{1,2}[ .-])?(?:\\(\\d{3}\\)[ .-]?|\\d{3}[ .-])\\d{3}[ .-]\\d{4}\\b"

  def redactEmails(c: Column, token: String = "<EMAIL>"): Column =
    regexp_replace(c, EmailRe, token)
  def redactIpv4(c: Column, token: String = "<IP>"): Column =
    regexp_replace(c, Ipv4Re, token)
  def redactSsns(c: Column, token: String = "<SSN>"): Column =
    regexp_replace(c, SsnRe, token)
  def redactPhones(c: Column, token: String = "<PHONE>"): Column =
    regexp_replace(c, PhoneRe, token)

  /** Full scrub. Order matters and is part of the contract: emails first
    * (their domains may contain dotted digits), then IPv4 (before phones —
    * both are digit runs, but IP octets are dot-separated), then SSNs
    * (xxx-xx-xxxx would half-match the looser phone pattern), then phones.
    * Idempotent: the placeholder tokens contain no redactable substrings. */
  def redactPii(c: Column): Column =
    redactPhones(redactSsns(redactIpv4(redactEmails(c))))

  /** The same four patterns as (name, regex, replacement) rows — the oracle
    * and YAML layers consume this so the SQL chain can never drift from the
    * Column chain. */
  val PiiPatterns: Seq[(String, String, String)] = Seq(
    ("email", EmailRe, "<EMAIL>"),
    ("ipv4", Ipv4Re, "<IP>"),
    ("ssn", SsnRe, "<SSN>"),
    ("phone", PhoneRe, "<PHONE>"))

  /** Per-row PII occurrence counts (the compliance AUDIT side of
    * [[redactPii]]: what a release report tallies before the scrub runs).
    * Counts apply sequentially in the redaction chain's order on the
    * partially-scrubbed text, so each character is attributed to exactly
    * one category — the same disambiguation the scrub itself performs
    * (IP octets never double-count as phones, SSNs never half-match the
    * looser phone pattern). Returns (name -> count Column) pairs; pure
    * codegen'd regexp_count, no shuffle. */
  def piiCounts(c: Column): Seq[(String, Column)] = {
    var cur = c
    PiiPatterns.map { case (name, re, token) =>
      val cnt = size(regexp_extract_all(cur, lit(re), lit(0))).cast("bigint")
      cur = regexp_replace(cur, re, token)
      (s"n_$name", cnt)
    }
  }

  /** Luhn checksum validity (ISO/IEC 7812) of the DIGITS of `num`
    * (separators stripped), plus the 13–19 length gate of real card
    * numbers. Pure fold expression over the reversed digit string — no
    * UDF — so candidate redaction can CHECK instead of pattern-matching
    * blindly: a 16-digit order id stops reading as a credit card. */
  def luhnValid(num: Column): Column = {
    val digits = reverse(regexp_replace(num, "[^0-9]", ""))
    val n = length(digits)
    val total = aggregate(sequence(lit(1), n), lit(0), (acc, i) => {
      val d = digits.substr(i, lit(1)).cast("int")
      acc + when((i - 1) % 2 === 1,
        when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
    })
    n >= 13 && n <= 19 && total % 10 === 0
  }

  /** Credit-card candidate patterns: contiguous 13–19 digit runs and the
    * grouped 4-4-4-4 form (space or dash separated). Word-boundaried,
    * RE2-safe. */
  val CardCandidateRes: Seq[String] = Seq(
    "\\b\\d{13,19}\\b",
    "\\b\\d{4}[- ]\\d{4}[- ]\\d{4}[- ]\\d{4}\\b")

  /** Replace every LUHN-VALID card-number candidate with `token` —
    * checksum-gated redaction (candidates failing Luhn pass through
    * untouched). Candidates extract per pattern, dedupe, validate, then a
    * fold applies WORD-BOUNDARIED regex replacements — a literal replace
    * would also rewrite a valid candidate appearing INSIDE a longer digit
    * run that was never a candidate (e.g. the first 16 digits of a
    * 20-digit id), partially corrupting that non-card number. Candidates
    * match only `[0-9 -]`, so they are regex-literal-safe unquoted. */
  def redactCreditCards(c: Column, token: String = "<CC>"): Column = {
    val cands = array_distinct(concat(
      CardCandidateRes.map(re => regexp_extract_all(c, lit(re), lit(0))): _*))
    val valid = filter(cands, x => luhnValid(x))
    aggregate(valid, c, (acc, cand) =>
      regexp_replace(acc, concat(lit("\\b"), cand, lit("\\b")), lit(token)))
  }

  /** ISO 13616 IBAN checksum (mod-97-10, ISO 7064): rotate the first 4
    * chars to the end, expand letters to two digits (A=10 … Z=35), and
    * the whole number must be ≡ 1 (mod 97). The running-mod fold keeps
    * every intermediate < 9700, so a 34-char IBAN never needs big
    * integers — and the identical fold replays in SQL on the oracle
    * side. Case-insensitive; requires the standard 2-letter country +
    * 2-digit check prefix and 15–34 total length. */
  def ibanValid(iban: Column): Column = {
    val up = upper(regexp_replace(iban, "[^A-Za-z0-9]", ""))
    val n = length(up)
    val rotated = concat(up.substr(lit(5), n - 4), up.substr(lit(1), lit(4)))
    val total = aggregate(sequence(lit(1), n), lit(0L), (acc, i) => {
      val ch = ascii(rotated.substr(i, lit(1)))
      when(ch >= 48 && ch <= 57, (acc * 10 + (ch - 48)) % 97)
        .otherwise((acc * 100 + (ch - 55)) % 97)
    })
    n >= 15 && n <= 34 &&
      regexp_like(up, lit("^[A-Z]{2}[0-9]{2}[A-Z0-9]+$")) &&
      total === 1
  }

  /** IBAN candidate pattern: country + check + 11–30 alphanumerics,
    * word-boundaried, RE2-safe. */
  val IbanCandidateRe: String = "\\b[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}\\b"

  /** IBAN candidate patterns: the contiguous electronic form plus the
    * ISO 13616 PRINT format (space-separated groups of 4, ragged final
    * group) — the analog of [[CardCandidateRes]]'s grouped 4-4-4-4
    * member. Case-insensitive ([[ibanValid]] upcases before the
    * checksum, so lowercase IBANs must also be candidates). */
  val IbanCandidateRes: Seq[String] = Seq(
    "\\b[A-Za-z]{2}[0-9]{2}[A-Za-z0-9]{11,30}\\b",
    "\\b[A-Za-z]{2}[0-9]{2}(?: [A-Za-z0-9]{4}){2,7}(?: [A-Za-z0-9]{1,4})?\\b")

  /** Replace every CHECKSUM-VALID IBAN candidate with `token` — the
    * mod-97 gate keeps random uppercase codes (order ids, tracking
    * numbers) untouched, same shape as [[redactCreditCards]]'s Luhn
    * gate. Covers contiguous, print-grouped, and lowercase forms.
    * Candidates match only `[A-Za-z0-9 ]`, regex-literal-safe. */
  def redactIbans(c: Column, token: String = "<IBAN>"): Column = {
    val cands = array_distinct(concat(
      IbanCandidateRes.map(re => regexp_extract_all(c, lit(re), lit(0))): _*))
    val valid = filter(cands, x => ibanValid(x))
    aggregate(valid, c, (acc, cand) =>
      regexp_replace(acc, concat(lit("\\b"), cand, lit("\\b")), lit(token)))
  }

  /** C4-style word blocklist test: true iff any whitespace token of the
    * lowercased text is in `words` (the public C4 recipe removes pages
    * containing listed words; the list itself is caller-supplied policy
    * data). Exact token match, not substring — "class" never trips an
    * "ass" entry. */
  def containsBlockedWord(c: Column, words: Seq[String]): Column =
    arrays_overlap(split(lower(c), "\\s+"),
      array(words.map(w => lit(w.toLowerCase)): _*))

  /** SUBSTRING-match blocklist (the RefinedWeb-style phrase variant of
    * the C4 word gate): true iff the lowercased text CONTAINS any
    * listed phrase — multi-word entries ("click here to subscribe")
    * and mid-token hits are the point here, where
    * [[containsBlockedWord]] deliberately refuses them. Bounded phrase
    * lists (policy data, tens–hundreds) stay a pure per-row expression
    * chain — no join, no shuffle; list each phrase lowercase. The tree
    * grows linearly with the phrase count — past a few hundred entries
    * use [[graft.ops.Blocklist]]'s broadcast Aho–Corasick kernel, which
    * scans once regardless of list size. */
  def containsBlockedPhrase(c: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty, "blocklist needs at least one phrase")
    val t = lower(coalesce(c, lit("")))
    phrases.map(p => t.contains(lit(p.toLowerCase(java.util.Locale.ROOT))))
      .reduce(_ || _)
  }

  /** Count of DISTINCT blocked phrases present — the reporting
    * companion (which rules fire, how often) a blocklist rollout tunes
    * against. */
  def blockedPhraseCount(c: Column, phrases: Seq[String]): Column = {
    require(phrases.nonEmpty, "blocklist needs at least one phrase")
    val t = lower(coalesce(c, lit("")))
    phrases.map(p =>
      when(t.contains(lit(p.toLowerCase(java.util.Locale.ROOT))), 1L)
        .otherwise(0L)).reduce(_ + _)
  }
}
