package graft.operators

import graft.plans.Spread
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/**
 * Text-analysis operators for large-scale training-data pipelines: token
 * stats, quality scoring, language identification, and content
 * fingerprinting. Everything is built from Spark built-in functions (split /
 * transform / filter / md5 — all codegen'd), so plans stay inside
 * whole-stage codegen and columns prune/push down normally.
 *
 * Determinism contract: each derived value is a pure rational/string
 * function of the input (no transcendentals, no engine-specific hashes), so
 * an external SQL engine evaluating the documented equivalent expression
 * produces bit-identical results — that is what the driver's DuckDB oracle
 * checks.
 */
object TextAnalysis {

  /** Whitespace tokens. Single-space tokenization matches the corpus format;
    * swap the pattern for `\\s+` corpora as needed. */
  def tokens(text: Column): Column = split(text, " ")

  /**
   * Distinct word n-gram shingles (the MinHash/Jaccard unit), sorted in
   * UTF8 binary order — [[graft.functions.TextOps.wordShingles]] kernel
   * (fewer than n tokens ⇒ empty array). The sorted contract enables the
   * allocation-free merge-intersect in the Jaccard refine.
   */
  def shingles(text: Column, n: Int): Column = {
    graft.functions.stf.word_shingles(text, n)
  }

  /**
   * Context-window chunking: each document explodes into fixed-size token
   * windows (`size` tokens, starting every `stride` tokens — stride < size
   * gives overlapping windows, stride == size gives a partition). The final
   * window may be shorter; every token starts at least one window. One
   * narrow `explode` — no shuffle, no state, and the chunk count per row is
   * bounded by ceil(n_tokens / stride), so executor memory stays flat at
   * any corpus size.
   *
   * Output columns: `chunk_id` (start / stride), `chunk_text`,
   * `chunk_tokens`.
   */
  def chunkTokens(df: DataFrame, textCol: Column, size: Int, stride: Int): DataFrame = {
    require(size > 0 && stride > 0, s"size/stride must be positive, got $size/$stride")
    require(!df.columns.exists(c =>
      c.equalsIgnoreCase("__toks") || c.equalsIgnoreCase("__chunk_start")),
      "chunkTokens: input must not contain columns named __toks/__chunk_start")
    // the token array is PINNED as a column below the explode: computed
    // expressions referenced above a Generate stay attributes (CollapseProject
    // does not cross Generate), so each chunk row slices the array in O(1)
    // instead of re-running the regex split — per-chunk slice(tokens(text))
    // would make a long document cost O(n_tokens²/stride)
    val withToks = df.withColumn("__toks", tokens(textCol)) // no spread: see withTokenStats
    val n = org.apache.spark.sql.functions.size(col("__toks"))
    // starts = 0, stride, 2·stride, … <= n-1  (split("") is [""], so n >= 1)
    withToks
      .withColumn("__chunk_start", explode(sequence(lit(0), greatest(n - 1, lit(0)), lit(stride))))
      .withColumn("chunk_id", (col("__chunk_start") / stride).cast("long"))
      .withColumn("chunk_text",
        array_join(slice(col("__toks"), col("__chunk_start") + 1, lit(size)), " "))
      .withColumn("chunk_tokens",
        org.apache.spark.sql.functions.size(slice(col("__toks"), col("__chunk_start") + 1, lit(size))).cast("long"))
      .drop("__chunk_start", "__toks")
  }

  /** BPE-ish subword count heuristic: whitespace tokens + extra splits at
    * letter/digit/punct boundaries (letters case-insensitive — 'NASA' is
    * one subword, not four punctuation splits), approximated as regex
    * token runs. */
  def subwordCount(text: Column): Column =
    size(filter(
      split(text, "(?<=[a-zA-Z])(?=[0-9])|(?<=[0-9])(?=[a-zA-Z])|\\s+|(?=[^a-zA-Z0-9\\s])"),
      t => length(t) > 0))

  /** Adds n_tokens / n_uniq_tokens / ttr_e6 (type-token ratio scaled 1e6). */
  def withTokenStats(df: DataFrame, textCol: Column): DataFrame = {
    val ws = tokens(textCol)
    // NO spread here (r14): these per-row kernels are cheap enough that the
    // round-robin exchange costs more than the serial compute it saves
    // (bench A/B: +0.20 s on q9) — and pure-map-with-zero-exchange is the
    // right shape at scale, where the scan is already parallel
    df.withColumn("n_tokens", size(ws).cast("long"))
      .withColumn("n_uniq_tokens", size(array_distinct(ws)).cast("long"))
      .withColumn("ttr_e6",
        round(lit(1000000.0) * col("n_uniq_tokens") / col("n_tokens")).cast("long"))
  }

  /** Stopwords used by the quality score (generic English function words). */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "in", "to", "is", "it")

  /**
   * Quality score in [0, 1e6]: mean of (type-token ratio) and (1 - stopword
   * ratio), both rational in token counts — a cheap proxy for repetitiveness
   * and boilerplate (cf. Gopher/C4-style quality rules). Returned scaled to
   * BIGINT so cross-engine comparison is exact.
   */
  def withQuality(df: DataFrame, textCol: Column): DataFrame = {
    val ws = tokens(textCol)
    val nTok = size(ws)
    val nUniq = size(array_distinct(ws))
    val nStop = size(filter(ws, w => w.isInCollection(stopwords)))
    df.withColumn("n_tokens", nTok.cast("long")) // no spread: see withTokenStats
      .withColumn("n_stopwords", nStop.cast("long"))
      .withColumn("quality_e6",
        round(lit(500000.0) * nUniq / nTok + lit(500000.0) * (nTok - nStop) / nTok)
          .cast("long"))
  }

  /**
   * Within-document repetition signals (the Gopher-report quality family):
   * the fraction of word n-grams that are duplicates of an earlier n-gram
   * (n = 2, 3) and the share of the single most frequent token. All three
   * are exact integers scaled by 1e6 — numerator·1e6 is divisible-adjusted
   * via pmod before the divide, so the double division is exact and any SQL
   * oracle's integer division (`//`) matches bit-for-bit. Documents shorter
   * than n words score 0.
   */
  def withRepetition(df: DataFrame, textCol: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    // one codegen'd kernel pass collects [n_tokens, distinct 2-grams,
    // distinct 3-grams, max token frequency]; only the rational e6 math —
    // the part the SQL oracle recomputes — stays in built-ins. The earlier
    // formulation (two shingle-set builds + an interpreted sort-scan
    // aggregate for the top-token run) cost ~6× more per document.
    val st = graft.functions.stf.repetition_stats(textCol)
    def e6(num: Column, den: Column): Column =
      ((num * 1000000L - pmod(num * 1000000L, den)) / den).cast("long")
    val nTok = element_at(st, 1)
    def dupFrac(n: Int): Column = {
      val total = nTok - (n - 1)
      val distinctN = element_at(st, n) // slot 2 = 2-grams, slot 3 = 3-grams
      when(total > 0, e6(total - distinctN, total)).otherwise(0L)
    }
    Spread(df).withColumn("dup_2gram_e6", dupFrac(2))
      .withColumn("dup_3gram_e6", dupFrac(3))
      .withColumn("top_token_e6",
        when(nTok > 0, e6(element_at(st, 4), nTok)).otherwise(0L))
  }

  /** Marker words per language for the n-gram/stopword language-ID heuristic. */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "in", "to"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht"),
    "fr" -> Seq("le", "la", "les", "et", "est", "une"),
    "es" -> Seq("el", "los", "y", "es", "una", "que"))

  /**
   * Language-ID: count marker-word occurrences per language, pick the argmax
   * with a fixed priority order (en > de > fr > es); all-zero → "und".
   * Deterministic and SQL-expressible — the oracle recomputes the same
   * scores. (Real-world accuracy needs char-n-gram models; the operator
   * shape — per-language score columns + argmax — is what matters at scale.)
   */
  def withLangId(df: DataFrame, textCol: Column): DataFrame = {
    val ws = tokens(textCol)
    val scored = langMarkers.foldLeft(df) { case (acc, (lang, markers)) => // no spread: see withTokenStats
      acc.withColumn(s"score_$lang", size(filter(ws, w => w.isInCollection(markers))))
    }
    val Seq(en, de, fr, es) = langMarkers.map { case (l, _) => col(s"score_$l") }
    scored.withColumn("lang_pred",
      // null text -> null scores; without the isNull arm every comparison
      // below is null and the chain would fall through to .otherwise("es")
      when(en.isNull || (en === 0 && de === 0 && fr === 0 && es === 0), "und")
        .when(en >= de && en >= fr && en >= es, "en")
        .when(de >= fr && de >= es, "de")
        .when(fr >= es, "fr")
        .otherwise("es"))
  }

  /**
   * Unicode-script composition counts — the writing-system signal next to
   * [[withLangId]]'s vocabulary signal (CJK/Cyrillic text defeats word-list
   * language ID; script fractions catch it, and mixed-script text is a
   * spam/injection flag). Adds `n_latin`, `n_cyrillic`, `n_han`,
   * `n_digit`, `n_len` (code-point class counts; fractions are
   * count/n_len). Counting is `length(text) - length(text without the
   * class)` over codegen'd regexp_replace — embarrassingly parallel, no
   * shuffle. Script classes are Unicode properties, so the oracle spells
   * the same classes in its own dialect (`\p{IsLatin}` Java ↔ `\p{Latin}`
   * RE2); counts agree for BMP text (Spark counts UTF-16 units, DuckDB
   * code points — equal below U+10000, the documented contract).
   */
  def withScripts(df: DataFrame, textCol: Column): DataFrame = {
    require(!df.columns.exists(c => Seq("n_latin", "n_cyrillic", "n_han",
      "n_digit", "n_len").exists(c.equalsIgnoreCase)),
      "withScripts: input must not contain the output column names")
    def cnt(cls: String): Column =
      (length(textCol) - length(regexp_replace(textCol, cls, ""))).cast("long")
    df.withColumn("n_latin", cnt("\\p{IsLatin}")) // no spread: see withTokenStats
      .withColumn("n_cyrillic", cnt("\\p{IsCyrillic}"))
      .withColumn("n_han", cnt("\\p{IsHan}"))
      .withColumn("n_digit", cnt("[0-9]"))
      .withColumn("n_len", length(textCol).cast("long"))
  }

  /**
   * Content fingerprints: `fp_md5` — exact-dup key; `fp_winnow` — smallest
   * polynomial hash over all character 5-grams (a 1-element winnowing
   * sketch: robust to local edits, cheap to compare).
   *
   * The documented hash (so any SQL engine reproduces it bit-for-bit):
   * `H(i) = Σ_{j=0..4} cp(text[i+j]) · 257^(4-j)` where `cp` is the
   * engine's `ascii()` (Unicode code point of a 1-char substring). No
   * modulus: 5 · 0x10FFFF · 257⁴ < 2⁶³, so int64 arithmetic is exact, and
   * for single-byte text the 5-gram → hash map is injective. This replaced
   * an md5-per-position variant that cost ~50× more per character (one
   * digest per window) for no extra dedup power — the min-of-windows sketch
   * only needs a well-mixing deterministic window hash, not a
   * cryptographic one. Docs shorter than 5 chars hash their whole text by
   * the same Horner rule (`acc·257 + cp`); empty text → 0; null → null.
   */
  def withFingerprints(df: DataFrame, textCol: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    df.withColumn("fp_md5", md5(textCol.cast("binary"))) // no spread: see withTokenStats
      .withColumn("fp_winnow", rollingMinFp(textCol))
  }

  /** The `fp_winnow` kernel: one codegen'd rolling pass
    * ([[graft.functions.TextOps.rollingMinFp]] holds the loop and the
    * formula constants). A built-in-functions formulation of the same
    * formula is a trap here: referencing the char array inside a
    * per-window lambda — `element_at(cps, i+j)` over `sequence(...)`, or
    * `substr(text, i, 1)` (an O(i) UTF8 seek) — re-evaluates the array
    * expression per lookup, because Spark's subexpression elimination never
    * hoists out of higher-order-function lambdas; both variants measured
    * O(len²) per document. Requires [[graft.functions.GraftFunctions]]
    * registration (done by [[withFingerprints]]). */
  def rollingMinFp(text: Column): Column =
    graft.functions.stf.rolling_min_fp(text)

  /** PII patterns, public so callers (and the SQL oracle builder) share the
    * exact strings. Every pattern is written in the common subset of Java
    * regex and RE2 — no lookaround, no backreferences, ASCII `\d`/`\b` —
    * so any RE2-based engine replaying them gets identical matches. */
  object Pii {
    /** RFC-loose mailbox: local part, @, dotted domain, 2+ letter TLD. */
    val Email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    /** Dotted-quad IPv4 (no octet-range check — redaction over-matches). */
    val Ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    /** Bare 13-19 digit runs: card / account numbers. */
    val LongNumber = "\\b\\d{13,19}\\b"
    /** US social security number shape. */
    val Ssn = "\\b\\d{3}-\\d{2}-\\d{4}\\b"
    /** Phone shapes: +CC and bare 1-3 digit prefix forms with separators,
      * US parenthesized area code, bare NNN-NNN-NNNN. Leading `\b` cannot
      * precede `\+` (both sides non-word), hence the split alternatives. */
    val Phone = "\\+\\d{1,3}[ -]\\d{3}[ -]\\d{3}[ -]\\d{4}\\b|" +
      "\\b\\d{1,3}[ -]\\d{3}[ -]\\d{3}[ -]\\d{4}\\b|" +
      "\\(\\d{3}\\)[ -]?\\d{3}-\\d{4}\\b|\\b\\d{3}-\\d{3}-\\d{4}\\b"
    /** Application order matters and is part of the contract: emails first
      * (their digits must not feed the number patterns), then IPs, then
      * long digit runs (so a 16-digit card is never half-eaten by a phone
      * alternative), then SSNs, then phones. */
    val Ordered: Seq[(String, String)] = Seq(
      Email -> "<EMAIL>", Ipv4 -> "<IP>", LongNumber -> "<NUM>",
      Ssn -> "<SSN>", Phone -> "<PHONE>")
  }

  /**
   * PII redaction — the scrubbing pass every training-corpus pipeline runs
   * before text leaves quarantine: emails, IPv4 addresses, long digit runs
   * (card/account numbers), SSNs, and phone numbers each collapse to a
   * typed placeholder token ([[Pii.Ordered]] holds the patterns, the
   * replacement tokens, and the documented application order). Pure
   * codegen'd `regexp_replace` chain — no shuffle, no UDF, prunes and
   * pushes down like any projection.
   */
  /**
   * Aho-Corasick multi-phrase scan — the blocklist / flagged-phrase
   * stage of a curation pipeline: mark every document containing any of
   * `phrases` (plain substring semantics, case-sensitive), in ONE pass
   * over the text regardless of how many phrases the list holds. Adds
   * `<outName>` (array&lt;string&gt; of the DISTINCT matched phrases,
   * sorted) and `<outName>_n` (its size) — filter on `_n = 0` to drop,
   * or keep the array for audit columns.
   *
   * Scale shape: the automaton (goto/fail/output over the phrase trie)
   * is built once on the driver — bounded by the blocklist, a
   * driver-size artifact by nature — and broadcast; each row costs
   * O(text length + matches). A `contains()` disjunction costs
   * O(text × phrases) and a regex alternation backtracks; this is the
   * classic fix (Aho & Corasick 1975).
   *
   * Determinism: matched-set semantics only (which phrases occur), no
   * positions — so the output is a pure function of (text, phrase set)
   * and a SQL engine replays it with a per-phrase `contains` filter.
   */
  def flagPhrases(df: DataFrame, textCol: Column, phrases: Seq[String],
                  outName: String = "flagged"): DataFrame = {
    require(phrases.nonEmpty, "flagPhrases: empty phrase list")
    require(phrases.forall(_.nonEmpty), "flagPhrases: empty-string phrase")
    require(phrases.distinct.length == phrases.length,
      "flagPhrases: duplicate phrases — deduplicate the blocklist")
    val ac = AhoCorasick.build(phrases)
    val bc = df.sparkSession.sparkContext.broadcast(ac)
    val scan = udf { (text: String) =>
      if (text == null) Seq.empty[String] else bc.value.matchSet(text)
    }
    df.withColumn(outName, scan(textCol))
      .withColumn(outName + "_n", size(col(outName)).cast("long"))
  }

  /** The classic goto/fail/output automaton over a phrase trie.
    * Serializable for broadcast; `matchSet` returns the distinct matched
    * phrases sorted (set semantics — see [[flagPhrases]]). */
  private[graft] final class AhoCorasick(
      gotoMap: Array[scala.collection.immutable.Map[Char, Int]],
      fail: Array[Int], out: Array[List[Int]],
      phrases: Array[String]) extends Serializable {
    def matchSet(text: String): Seq[String] = {
      var s = 0
      val hits = scala.collection.mutable.SortedSet.empty[Int]
      var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        while (s != 0 && !gotoMap(s).contains(c)) s = fail(s)
        s = gotoMap(s).getOrElse(c, 0)
        var o = out(s)
        while (o.nonEmpty) { hits += o.head; o = o.tail }
        i += 1
      }
      hits.iterator.map(phrases(_)).toSeq.sorted
    }
  }

  private[graft] object AhoCorasick {
    def build(phrases: Seq[String]): AhoCorasick = {
      val gotoBuf = scala.collection.mutable.ArrayBuffer(
        scala.collection.mutable.Map.empty[Char, Int])
      val outBuf = scala.collection.mutable.ArrayBuffer(List.empty[Int])
      phrases.zipWithIndex.foreach { case (p, pi) =>
        var s = 0
        p.foreach { c =>
          s = gotoBuf(s).getOrElseUpdate(c, {
            gotoBuf += scala.collection.mutable.Map.empty[Char, Int]
            outBuf += Nil
            gotoBuf.length - 1
          })
        }
        outBuf(s) = pi :: outBuf(s)
      }
      val n = gotoBuf.length
      val fail = new Array[Int](n)
      val queue = scala.collection.mutable.Queue.empty[Int]
      gotoBuf(0).valuesIterator.foreach(queue.enqueue(_))
      while (queue.nonEmpty) {
        val s = queue.dequeue()
        gotoBuf(s).foreach { case (c, t) =>
          queue.enqueue(t)
          var f = fail(s)
          while (f != 0 && !gotoBuf(f).contains(c)) f = fail(f)
          fail(t) = if (gotoBuf(f).contains(c) && gotoBuf(f)(c) != t) gotoBuf(f)(c) else 0
          outBuf(t) = outBuf(t) ::: outBuf(fail(t))
        }
      }
      new AhoCorasick(gotoBuf.iterator.map(_.toMap).toArray,
        fail, outBuf.toArray, phrases.toArray)
    }
  }

  def redactPii(df: DataFrame, textCol: Column,
                outName: String = "text_redacted"): DataFrame =
    df.withColumn(outName,
      Pii.Ordered.foldLeft(textCol) { case (c, (pat, repl)) =>
        regexp_replace(c, pat, repl)
      })

  /** Character class for [[normalizeText]]'s control strip: C0 controls and
    * DEL. Shared with the SQL oracle builder. */
  val ControlChars = "[\\x00-\\x1f\\x7f]"

  /**
   * Canonical text normalization: Unicode NFC composition (é as one code
   * point, not e + combining accent — without it, visually identical
   * strings hash apart and every downstream dedup silently misses), then
   * control characters (C0 + DEL, including tab/newline) become spaces,
   * space runs collapse to one, edges trim, and (by default) the result
   * lowercases. Unicode spaces outside C0 (NBSP etc.) pass through —
   * documented scope, not an oversight.
   *
   * NFC runs in the [[graft.functions.TextOps.nfc]] kernel (with an
   * already-normalized fast path, which ASCII corpora always hit); the rest
   * is built-in `regexp_replace`/`trim`/`lower`, so the whole pass stays
   * inside whole-stage codegen with zero shuffles.
   */
  def normalizeText(df: DataFrame, textCol: Column, lowercase: Boolean = true,
                    outName: String = "text_norm"): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession)
    val collapsed = trim(regexp_replace(
      regexp_replace(graft.functions.stf.nfc_normalize(textCol), ControlChars, " "),
      " +", " "))
    df.withColumn(outName, if (lowercase) lower(collapsed) else collapsed)
  }

  /**
   * Corpus vocabulary, top `k` tokens by frequency (ties by token) — the
   * precursor statistic for tokenizer training and OOV analysis. One
   * map-side-combined shuffle keyed by token (vocabulary-sized, never
   * corpus-sized), then Spark's distributed TakeOrdered for the top-k —
   * no global sort materializes.
   */
  def vocabTopK(df: DataFrame, textCol: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    df.select(explode(tokens(textCol)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("token")).limit(k)
  }

  /**
   * Adjacent-token pair counts, top `k` (the BPE merge-candidate
   * statistic): each document contributes its n-1 consecutive token pairs.
   * The pair explode is narrow (bounded by document length); the count is
   * one combined shuffle keyed by pair, then TakeOrdered. Ties break by
   * (t1, t2), so the top-k cut is deterministic.
   */
  def adjacentPairCounts(df: DataFrame, textCol: Column, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val ws = tokens(textCol)
    val n = size(ws)
    val pairs = zip_with(
      slice(ws, lit(1), greatest(n - 1, lit(0))),
      slice(ws, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("t1"), b.as("t2")))
    df.select(explode(pairs).as("__p"))
      .select(col("__p.t1").as("t1"), col("__p.t2").as("t2"))
      .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("t1"), col("t2")).limit(k)
  }

  /**
   * Collocation (phrase) mining — the word2vec phrase-detection statistic
   * (Mikolov et al. 2013, "Distributed Representations of Words and
   * Phrases", eq. 6): adjacent pair (a, b) scores
   *
   *   score(a,b) = (count(ab) − δ) · N / (count(a) · count(b))
   *
   * where δ discounts rare accidents and N is the corpus token count —
   * high score ⇒ "a b" co-occur far above independence and should become
   * one vocabulary unit ("new york"). The classic pre-tokenizer pass for
   * building phrase-aware BPE/unigram vocabularies.
   *
   * Exactness: the score is evaluated as ONE fixed double expression tree
   * — `((c_ab − δ)·N)·1e6 / (c_a·c_b)` with each count converted exactly
   * int→double — so any IEEE-754 engine computing the same tree produces
   * the identical bit pattern (the house double-fold contract), rounded
   * to a BIGINT `score_e6`.
   *
   * Plan: pair counts and unigram counts are two map-side-combined
   * groupBys (pair-/vocab-keyed, never corpus-row-keyed); the pair table
   * joins the unigram table twice by plain equi-join (AQE broadcasts a
   * small vocabulary on its own); N is ONE agg row cross-joined in — the
   * whitelisted scalar-stat shape. Top-k is TakeOrdered, not a global
   * sort. `minCount` prunes the pair table BEFORE the joins, so the
   * scored relation is bounded by genuinely frequent pairs.
   */
  def collocations(df: DataFrame, textCol: Column, k: Int,
                   minCount: Long = 5L, discount: Long = 5L): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minCount > discount,
      s"minCount ($minCount) must exceed discount ($discount) so scores stay positive")
    val ws = tokens(textCol)
    val uni = df.select(explode(ws).as("__w"))
      .groupBy(col("__w")).agg(count(lit(1)).as("__c"))
    val n = size(ws)
    val pairExpr = zip_with(
      slice(ws, lit(1), greatest(n - 1, lit(0))),
      slice(ws, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("t1"), b.as("t2")))
    val pairs = df.select(explode(pairExpr).as("__p"))
      .select(col("__p.t1").as("t1"), col("__p.t2").as("t2"))
      .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("c_pair"))
      .filter(col("c_pair") >= minCount)
    val tot = uni.agg(sum(col("__c")).cast("double").as("__nd"))
    pairs
      .join(uni.select(col("__w").as("t1"), col("__c").as("c1")), Seq("t1"))
      .join(uni.select(col("__w").as("t2"), col("__c").as("c2")), Seq("t2"))
      .crossJoin(broadcast(tot))
      .withColumn("score_e6",
        round(((col("c_pair") - lit(discount)).cast("double") * col("__nd"))
          * lit(1000000.0)
          / (col("c1").cast("double") * col("c2").cast("double"))).cast("long"))
      .select(col("t1"), col("t2"), col("c_pair"), col("c1"), col("c2"), col("score_e6"))
      .orderBy(col("score_e6").desc, col("t1"), col("t2")).limit(k)
  }

  /**
   * Bigram fluency score — the language-model quality signal of the CCNet
   * recipe (score each document by how probable its token sequence is
   * under a corpus-trained model), with the LM reduced to an exactly
   * replayable form: add-one-smoothed bigram conditional probabilities,
   *
   *   p(w2|w1) = (B(w1,w2) + 1) / (U(w1) + V)
   *
   * each floored to an e6 integer, averaged per document (floor again).
   * Natural text scores high (its bigrams are corpus-frequent), shuffled
   * or garbage text scores low. No logs, no doubles — any SQL engine
   * replays the score bit-for-bit (the repo's oracle-determinism rule).
   *
   * Adds `n_bigrams` and `fluency_e6` (0 for docs shorter than 2 tokens).
   *
   * Scale shape: unigram and bigram count tables are vocabulary-sized
   * (map-side-combined groupBys); the per-document pass joins each bigram
   * instance to its two counts on token keys — equi-joins, AQE
   * skew-splittable, never a window over a hot token. V rides a broadcast
   * one-row cross join. Self-scoring (model trained on the scored corpus
   * itself); to score against a reference corpus, train there and join —
   * same shape.
   *
   * CONTRACT: `idCol` non-null and unique (the per-doc aggregate joins
   * back on it).
   */
  def withBigramFluency(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    require(!df.columns.exists(c => c.toLowerCase.startsWith("__bf_") ||
      c.equalsIgnoreCase("n_bigrams") || c.equalsIgnoreCase("fluency_e6")),
      "withBigramFluency: input must not contain __bf_* columns or the " +
      "output names n_bigrams/fluency_e6")
    // e6 floor division in DECIMAL(38,0): exact past int64 (a trillion-token
    // corpus times 1e6 overflows a long)
    def e6(a: Column, b: Column): Column = {
      val A = a.cast(org.apache.spark.sql.types.DecimalType(38, 0)) * 1000000L
      val B = b.cast(org.apache.spark.sql.types.DecimalType(38, 0))
      ((A - pmod(A, B)) / B).cast("long")
    }
    val toks = Spread(
      df.select(idCol.as("__bf_id"), tokens(textCol).as("__bf_ws")))
    val uni = toks.select(explode(col("__bf_ws")).as("__bf_w"))
      .groupBy(col("__bf_w")).agg(count(lit(1)).as("__bf_u"))
    val vRow = uni.agg(count(lit(1)).as("__bf_v"))
    val ws = col("__bf_ws")
    val n = size(ws)
    val pairs = zip_with(
      slice(ws, lit(1), greatest(n - 1, lit(0))),
      slice(ws, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bi = toks.select(col("__bf_id"), explode(pairs).as("__bf_p"))
      .select(col("__bf_id"), col("__bf_p.w1").as("__bf_w1"), col("__bf_p.w2").as("__bf_w2"))
    val biCounts = bi.groupBy(col("__bf_w1"), col("__bf_w2"))
      .agg(count(lit(1)).as("__bf_b"))
    // self-scoring: every observed bigram/unigram is in its count table —
    // inner joins lose nothing
    val scored = bi
      .join(uni, col("__bf_w1") === col("__bf_w"))
      .join(biCounts, Seq("__bf_w1", "__bf_w2"))
      .crossJoin(broadcast(vRow))
      .withColumn("__bf_t", e6(col("__bf_b") + 1, col("__bf_u") + col("__bf_v")))
      .groupBy(col("__bf_id"))
      .agg(sum(col("__bf_t")).as("__bf_ts"), count(lit(1)).as("n_bigrams"))
      .withColumn("fluency_e6",
        ((col("__bf_ts") - pmod(col("__bf_ts"), col("n_bigrams"))) / col("n_bigrams"))
          .cast("long"))
      .select(col("__bf_id"), col("n_bigrams"), col("fluency_e6"))
    df.join(scored, idCol === col("__bf_id"), "left")
      .drop("__bf_id")
      .na.fill(0L, Seq("n_bigrams", "fluency_e6"))
  }

  /**
   * Persist the bigram LM ([[withBigramFluency]]'s statistics) — train
   * once on a reference corpus, score many batches/streams against the
   * FROZEN model (the CCNet deployment shape: the scorer must not drift
   * with batch composition). Layout: unigram and bigram count parquet
   * range-sorted by token key + a one-line vocabulary-size sidecar; same
   * rebuild-crash contract as every other store.
   */
  def buildLmStore(docs: DataFrame, path: String, textCol: Column): Unit = {
    val spark = docs.sparkSession
    graft.sources.Sidecar.invalidateMarker(spark, path)
    val toks = Spread(docs.select(tokens(textCol).as("__lm_ws")))
    toks.select(explode(col("__lm_ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("u"))
      .repartitionByRange(col("w")).sortWithinPartitions(col("w"))
      .write.mode("overwrite").parquet(path + "/unigrams")
    val ws = col("__lm_ws")
    val n = size(ws)
    val pairs = zip_with(
      slice(ws, lit(1), greatest(n - 1, lit(0))),
      slice(ws, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    toks.select(explode(pairs).as("__lm_p"))
      .select(col("__lm_p.w1").as("w1"), col("__lm_p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("b"))
      .repartitionByRange(col("w1")).sortWithinPartitions(col("w1"))
      .write.mode("overwrite").parquet(path + "/bigrams")
    toks.select(explode(triples(ws)).as("__lm_p"))
      .select(col("__lm_p.w1").as("w1"), col("__lm_p.w2").as("w2"),
        col("__lm_p.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("t"))
      .repartitionByRange(col("w1")).sortWithinPartitions(col("w1"))
      .write.mode("overwrite").parquet(path + "/trigrams")
    val v = spark.read.parquet(path + "/unigrams").count()
    graft.sources.Sidecar.writeText(spark, path + "/_graft_lm_stats", v.toString)
    graft.sources.Sidecar.markComplete(spark, path)
  }

  // ---- incremental (segmented) LM growth ----
  // N-gram counts are pure sums over disjoint document sets (bigrams never
  // cross document boundaries), so a growing reference corpus can land as
  // per-batch count segments — the KenLM shard-count-then-merge shape —
  // and every scorer folds segments at read time to EXACTLY the counts a
  // one-pass [[buildLmStore]] would have produced. No append rescans
  // history; a replayed batch overwrites only its own partition.

  /** Append one document batch's unigram/bigram counts to the segmented
    * LM store at `path` as segment `batchId`. CONTRACT: document sets are
    * disjoint across batches (each document counted exactly once).
    * Refuses a [[buildLmStore]] flat store loudly — its vocabulary-size
    * sidecar cannot absorb appends. */
  def appendLmBatch(docs: DataFrame, textCol: Column, path: String,
                    batchId: Long): Unit = {
    val spark = docs.sparkSession
    require(!graft.sources.Sidecar.exists(spark, path + "/_graft_lm_stats"),
      s"appendLmBatch: $path holds a buildLmStore flat store whose " +
      "vocabulary sidecar cannot absorb appends — rebuild it segmented " +
      "(appendLmBatch from an empty path) or keep rebuilding flat")
    val toks = Spread(
      docs.select(tokens(textCol).as("__lm_ws"))).localCheckpoint()
    toks.select(explode(col("__lm_ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("u"))
      .repartitionByRange(col("w")).sortWithinPartitions(col("w"))
      .write.mode("overwrite").parquet(s"$path/unigrams/batch_id=$batchId")
    val ws = col("__lm_ws")
    val n = size(ws)
    val pairs = zip_with(
      slice(ws, lit(1), greatest(n - 1, lit(0))),
      slice(ws, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    toks.select(explode(pairs).as("__lm_p"))
      .select(col("__lm_p.w1").as("w1"), col("__lm_p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("b"))
      .repartitionByRange(col("w1")).sortWithinPartitions(col("w1"))
      .write.mode("overwrite").parquet(s"$path/bigrams/batch_id=$batchId")
    toks.select(explode(triples(ws)).as("__lm_p"))
      .select(col("__lm_p.w1").as("w1"), col("__lm_p.w2").as("w2"),
        col("__lm_p.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg(count(lit(1)).as("t"))
      .repartitionByRange(col("w1")).sortWithinPartitions(col("w1"))
      .write.mode("overwrite").parquet(s"$path/trigrams/batch_id=$batchId")
    releaseCheckpoint(toks)
  }

  /** Drop a localCheckpoint's cached blocks (same helper as Dedup's). */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /**
   * Forget documents from a segmented LM store WITHOUT a rebuild (the
   * takedown twin of [[appendLmBatch]]): the deleted docs' unigram and
   * bigram counts land as NEGATIVE count segments in the reserved
   * negative batch-id range, which [[loadLmModel]]'s fold cancels
   * exactly — tokens whose count reaches zero drop out of the model AND
   * the vocabulary, so the store scores bit-identically to a one-pass
   * build over the remaining corpus. CONTRACT: forget exactly documents
   * previously appended, each at most once (the LM store holds no
   * per-document rows, so unlike the inverted index it cannot detect a
   * re-deletion itself).
   */
  def deleteFromLmStore(docs: DataFrame, textCol: Column, path: String,
                        batchId: Long): Unit = {
    val spark = docs.sparkSession
    require(!graft.sources.Sidecar.exists(spark, path + "/_graft_lm_stats"),
      s"deleteFromLmStore: $path holds a buildLmStore flat store — " +
      "takedown-by-append needs the segmented layout; rebuild it with " +
      "appendLmBatch (or rebuild flat without the deleted docs)")
    require(batchId >= 0, s"deleteFromLmStore: batchId must be >= 0, got $batchId")
    val segId = -batchId - 1
    val toks = Spread(
      docs.select(tokens(textCol).as("__lm_ws"))).localCheckpoint()
    toks.select(explode(col("__lm_ws")).as("w"))
      .groupBy(col("w")).agg((-count(lit(1))).as("u"))
      .repartitionByRange(col("w")).sortWithinPartitions(col("w"))
      .write.mode("overwrite").parquet(s"$path/unigrams/batch_id=$segId")
    val ws = col("__lm_ws")
    val n = size(ws)
    val pairs = zip_with(
      slice(ws, lit(1), greatest(n - 1, lit(0))),
      slice(ws, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    toks.select(explode(pairs).as("__lm_p"))
      .select(col("__lm_p.w1").as("w1"), col("__lm_p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg((-count(lit(1))).as("b"))
      .repartitionByRange(col("w1")).sortWithinPartitions(col("w1"))
      .write.mode("overwrite").parquet(s"$path/bigrams/batch_id=$segId")
    toks.select(explode(triples(ws)).as("__lm_p"))
      .select(col("__lm_p.w1").as("w1"), col("__lm_p.w2").as("w2"),
        col("__lm_p.w3").as("w3"))
      .groupBy(col("w1"), col("w2"), col("w3")).agg((-count(lit(1))).as("t"))
      .repartitionByRange(col("w1")).sortWithinPartitions(col("w1"))
      .write.mode("overwrite").parquet(s"$path/trigrams/batch_id=$segId")
    releaseCheckpoint(toks)
  }

  /**
   * Compact a segmented LM store: fold every count segment (including
   * deletion negatives) into ONE fresh segment, dropping zero-count
   * tokens — [[TextSearch.compactTextIndex]]'s twin (same staged-swap contract:
   * the old store stays intact until the staging dir is complete).
   * Scoring is identical before and after.
   */
  /** The reserved compacted-segment id (see TextSearch.CompactSegId). */
  private val CompactSegId: Long = Long.MinValue

  def compactLmStore(spark: org.apache.spark.sql.SparkSession,
                     path: String): Unit = {
    require(!graft.sources.Sidecar.exists(spark, path + "/_graft_lm_stats"),
      s"compactLmStore: $path holds a buildLmStore flat store — " +
      "already one segment, nothing to compact")
    val tmp = path + ".tmp"
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(tmp), true) // stale staging
    spark.read.parquet(path + "/unigrams")
      .groupBy(col("w")).agg(sum(col("u")).as("u")).filter(col("u") > 0)
      .repartitionByRange(col("w")).sortWithinPartitions(col("w"))
      .write.mode("overwrite").parquet(s"$tmp/unigrams/batch_id=$CompactSegId")
    spark.read.parquet(path + "/bigrams")
      .groupBy(col("w1"), col("w2")).agg(sum(col("b")).as("b")).filter(col("b") > 0)
      .repartitionByRange(col("w1")).sortWithinPartitions(col("w1"))
      .write.mode("overwrite").parquet(s"$tmp/bigrams/batch_id=$CompactSegId")
    // pre-trigram stores compact without a trigram table (and keep
    // refusing trigram scoring); trigram-capable stores carry it forward
    val triP = new org.apache.hadoop.fs.Path(path + "/trigrams")
    if (triP.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(triP))
      spark.read.parquet(path + "/trigrams")
        .groupBy(col("w1"), col("w2"), col("w3"))
        .agg(sum(col("t")).as("t")).filter(col("t") > 0)
        .repartitionByRange(col("w1")).sortWithinPartitions(col("w1"))
        .write.mode("overwrite").parquet(s"$tmp/trigrams/batch_id=$CompactSegId")
    graft.sources.Sidecar.markComplete(spark, tmp)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    require(fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(path)),
      s"compactLmStore: rename $tmp -> $path failed; the compacted " +
      s"store is intact at $tmp")
  }

  /** The frozen LM model of a store, whichever layout built it: vocabulary
    * size plus the (folded) unigram and bigram count tables. Flat stores
    * read the sidecar and fold over already-unique rows (the sums are the
    * identity); segmented stores sum per-batch counts — exact under the
    * disjoint-doc contract — and count the folded vocabulary (the same
    * `unigrams.count()` definition the flat build persisted). */
  private[graft] def loadLmModel(spark: org.apache.spark.sql.SparkSession,
                                 path: String): (Long, DataFrame, DataFrame) = {
    // the `> 0` filters drop tokens whose counts a deletion segment
    // cancelled to zero — exactly a rebuild-over-remaining's vocabulary
    // (identity on flat stores and never-deleted segmented stores)
    val uni = spark.read.parquet(path + "/unigrams")
      .groupBy(col("w")).agg(sum(col("u")).as("u"))
      .filter(col("u") > 0)
    val bi = spark.read.parquet(path + "/bigrams")
      .groupBy(col("w1"), col("w2")).agg(sum(col("b")).as("b"))
      .filter(col("b") > 0)
    val v =
      if (graft.sources.Sidecar.exists(spark, path + "/_graft_lm_stats"))
        graft.sources.Sidecar.readText(spark, path + "/_graft_lm_stats").toLong
      else uni.count()
    (v, uni, bi)
  }

  /**
   * [[withBigramFluency]] against a [[buildLmStore]] model: same e6 math,
   * counts joined from the store instead of recounted — unseen bigrams
   * score (0+1)/(U+V), unseen first-tokens (0+1)/(0+V) (add-one smoothing
   * covers them by construction). Scoring the training corpus itself
   * reproduces the live operator's output exactly. Scale shape: the count
   * joins are token-keyed equi-joins against vocabulary-sized tables —
   * the distributed path for corpus-sized batches.
   *
   * CONTRACT: `idCol` non-null and unique (same as the live operator).
   */
  def withBigramFluencyIndexed(df: DataFrame, idCol: Column, textCol: Column,
                               path: String): DataFrame = {
    require(!df.columns.exists(c => c.toLowerCase.startsWith("__bf_") ||
      c.equalsIgnoreCase("n_bigrams") || c.equalsIgnoreCase("fluency_e6")),
      "withBigramFluencyIndexed: input must not contain __bf_* columns or " +
      "the output names n_bigrams/fluency_e6")
    val spark = df.sparkSession
    val (v, uniT, biT) = loadLmModel(spark, path)
    def e6(a: Column, b: Column): Column = {
      val A = a.cast(org.apache.spark.sql.types.DecimalType(38, 0)) * 1000000L
      val B = b.cast(org.apache.spark.sql.types.DecimalType(38, 0))
      ((A - pmod(A, B)) / B).cast("long")
    }
    val uni = uniT.select(col("w").as("__bf_w1"), col("u").as("__bf_u"))
    val bi = biT.select(col("w1").as("__bf_w1"), col("w2").as("__bf_w2"), col("b").as("__bf_b"))
    val ws = col("__bf_ws")
    val n = size(ws)
    val pairs = zip_with(
      slice(ws, lit(1), greatest(n - 1, lit(0))),
      slice(ws, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val docBi = Spread(
        df.select(idCol.as("__bf_id"), tokens(textCol).as("__bf_ws")))
      .select(col("__bf_id"), explode(pairs).as("__bf_p"))
      .select(col("__bf_id"), col("__bf_p.w1").as("__bf_w1"), col("__bf_p.w2").as("__bf_w2"))
    val scored = docBi
      .join(uni, Seq("__bf_w1"), "left")
      .join(bi, Seq("__bf_w1", "__bf_w2"), "left")
      .withColumn("__bf_t", e6(coalesce(col("__bf_b"), lit(0L)) + 1,
        coalesce(col("__bf_u"), lit(0L)) + lit(v)))
      .groupBy(col("__bf_id"))
      .agg(sum(col("__bf_t")).as("__bf_ts"), count(lit(1)).as("n_bigrams"))
      .withColumn("fluency_e6",
        ((col("__bf_ts") - pmod(col("__bf_ts"), col("n_bigrams"))) / col("n_bigrams"))
          .cast("long"))
      .select(col("__bf_id"), col("n_bigrams"), col("fluency_e6"))
    df.join(scored, idCol === col("__bf_id"), "left")
      .drop("__bf_id")
      .na.fill(0L, Seq("n_bigrams", "fluency_e6"))
  }

  // ---- trigram stupid-backoff fluency (the KenLM-style next tier) ----

  /** The `(w1, w2, w3)` struct array of a token array — trigrams never
    * cross document boundaries, same as the bigram pair kernel. */
  private def triples(ws: Column): Column = {
    val n = size(ws)
    val m = greatest(n - 2, lit(0))
    zip_with(
      zip_with(slice(ws, lit(1), m), slice(ws, lit(2), m),
        (a, b) => struct(a.as("w1"), b.as("w2"))),
      slice(ws, lit(3), m),
      (p, c) => struct(p.getField("w1").as("w1"), p.getField("w2").as("w2"),
        c.as("w3")))
  }

  /** Exact floored `(a·scale)/b` in DECIMAL(38,0) — the house e6 integer
    * division, overflow-safe past int64 (trillion-token corpora). */
  private def fdiv(a: Column, scale: Long, b: Column): Column = {
    val A = a.cast(org.apache.spark.sql.types.DecimalType(38, 0)) * scale
    val B = b.cast(org.apache.spark.sql.types.DecimalType(38, 0))
    ((A - pmod(A, B)) / B).cast("long")
  }

  /**
   * The shared trigram scorer: per trigram instance the STUPID-BACKOFF
   * score (Brants et al. 2007, "Large Language Models in Machine
   * Translation" — the web-scale LM smoothing, backoff factor 0.4),
   *
   *   S(w3|w1,w2) = T(w1w2w3)/B(w1w2)      if the trigram was seen
   *               = 0.4 · B(w2w3)/U(w2)    else if the backoff bigram was
   *               = 0.4² · U(w3)/N         otherwise (0 for unseen w3)
   *
   * in the house exact-integer form: every branch floors to e6
   * (0.4·1e6 = 400000 and 0.16·1e6 = 160000 are exact integers, so the
   * backoff weights stay rational), the document score is the floored
   * mean over its trigram instances — no logs, no doubles, bit-for-bit
   * SQL-replayable like [[withBigramFluency]].
   *
   * Scale shape: five token-keyed equi-joins against vocabulary-sized
   * count tables (trigram/two bigram probes/two unigram probes) — all
   * AQE-skew-splittable hash joins, never a window over a hot token; N
   * rides a broadcast one-row cross join.
   */
  private def trigramScore(docTri: DataFrame, uni: DataFrame, bi: DataFrame,
                           tri: DataFrame, nRow: DataFrame): DataFrame = {
    val t = tri.select(col("w1").as("__tf_w1"), col("w2").as("__tf_w2"),
      col("w3").as("__tf_w3"), col("t").as("__tf_t"))
    val b12 = bi.select(col("w1").as("__tf_w1"), col("w2").as("__tf_w2"),
      col("b").as("__tf_b12"))
    val b23 = bi.select(col("w1").as("__tf_w2"), col("w2").as("__tf_w3"),
      col("b").as("__tf_b23"))
    val u2 = uni.select(col("w").as("__tf_w2"), col("u").as("__tf_u2"))
    val u3 = uni.select(col("w").as("__tf_w3"), col("u").as("__tf_u3"))
    docTri
      .join(t, Seq("__tf_w1", "__tf_w2", "__tf_w3"), "left")
      .join(b12, Seq("__tf_w1", "__tf_w2"), "left")
      .join(b23, Seq("__tf_w2", "__tf_w3"), "left")
      .join(u2, Seq("__tf_w2"), "left")
      .join(u3, Seq("__tf_w3"), "left")
      .crossJoin(broadcast(nRow))
      .withColumn("__tf_s",
        when(col("__tf_t").isNotNull, fdiv(col("__tf_t"), 1000000L, col("__tf_b12")))
          .when(col("__tf_b23").isNotNull,
            fdiv(col("__tf_b23"), 400000L, col("__tf_u2")))
          .otherwise(fdiv(coalesce(col("__tf_u3"), lit(0L)), 160000L,
            col("__tf_n"))))
      .groupBy(col("__tf_id"))
      .agg(sum(col("__tf_s")).as("__tf_ts"), count(lit(1)).as("n_trigrams"))
      .withColumn("fluency3_e6",
        ((col("__tf_ts") - pmod(col("__tf_ts"), col("n_trigrams"))) / col("n_trigrams"))
          .cast("long"))
      .select(col("__tf_id"), col("n_trigrams"), col("fluency3_e6"))
  }

  private def requireNoTrigramCols(df: DataFrame, op: String): Unit =
    require(!df.columns.exists(c => c.toLowerCase.startsWith("__tf_") ||
      c.equalsIgnoreCase("n_trigrams") || c.equalsIgnoreCase("fluency3_e6")),
      s"$op: input must not contain __tf_* columns or the output names " +
      "n_trigrams/fluency3_e6")

  /**
   * Trigram stupid-backoff fluency, self-scored on the input corpus —
   * [[withBigramFluency]]'s next-order sibling (see [[trigramScore]] for
   * the exact-integer backoff rule; when self-scoring, every observed
   * trigram is in its own count table, so the seen branch always fires —
   * the backoff branches matter when scoring held-out text through
   * [[withTrigramFluencyIndexed]]).
   *
   * Adds `n_trigrams` and `fluency3_e6` (0 for docs shorter than 3
   * tokens). CONTRACT: `idCol` non-null and unique.
   */
  def withTrigramFluency(df: DataFrame, idCol: Column, textCol: Column): DataFrame = {
    requireNoTrigramCols(df, "withTrigramFluency")
    val toks = Spread(
      df.select(idCol.as("__tf_id"), tokens(textCol).as("__tf_ws")))
    val uni = toks.select(explode(col("__tf_ws")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("u"))
    val nRow = uni.agg(sum(col("u")).as("__tf_n"))
    val ws = col("__tf_ws")
    val n = size(ws)
    val pairs = zip_with(
      slice(ws, lit(1), greatest(n - 1, lit(0))),
      slice(ws, lit(2), greatest(n - 1, lit(0))),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bi = toks.select(explode(pairs).as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("b"))
    val docTri = toks.select(col("__tf_id"), explode(triples(ws)).as("p"))
      .select(col("__tf_id"), col("p.w1").as("__tf_w1"),
        col("p.w2").as("__tf_w2"), col("p.w3").as("__tf_w3"))
    val tri = docTri.groupBy(col("__tf_w1").as("w1"), col("__tf_w2").as("w2"),
        col("__tf_w3").as("w3"))
      .agg(count(lit(1)).as("t"))
    val scored = trigramScore(docTri, uni, bi, tri, nRow)
    df.join(scored, idCol === col("__tf_id"), "left")
      .drop("__tf_id")
      .na.fill(0L, Seq("n_trigrams", "fluency3_e6"))
  }

  /** Folded trigram model of a store: the [[loadLmModel]] tables plus the
    * trigram counts and the total token count N as a one-row frame.
    * Refuses a pre-trigram store loudly, and for SEGMENTED stores
    * requires the trigram segments to cover exactly the unigram segments
    * — a store appended to by a pre-trigram engine version would
    * otherwise silently score with partial trigram mass. */
  private[graft] def loadLmModel3(spark: org.apache.spark.sql.SparkSession,
                                  path: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val triPath = new org.apache.hadoop.fs.Path(path + "/trigrams")
    require(triPath.getFileSystem(hconf).exists(triPath),
      s"trigram scoring needs a trigram-capable LM store; $path predates " +
      "trigram counts — rebuild it (buildLmStore / re-append) with the " +
      "current engine")
    val (_, uni, bi) = loadLmModel(spark, path)
    val triRaw = spark.read.parquet(path + "/trigrams")
    val tri = triRaw.groupBy(col("w1"), col("w2"), col("w3"))
      .agg(sum(col("t")).as("t")).filter(col("t") > 0)
    if (!graft.sources.Sidecar.exists(spark, path + "/_graft_lm_stats")) {
      // segmented store: every unigram segment must have its trigram twin
      val uniIds = spark.read.parquet(path + "/unigrams")
        .select(col("batch_id")).distinct()
      val triIds = triRaw.select(col("batch_id")).distinct()
      require(uniIds.exceptAll(triIds).isEmpty && triIds.exceptAll(uniIds).isEmpty,
        s"trigram segments of $path do not cover its unigram segments — " +
        "some batches were appended by a pre-trigram engine; re-append or " +
        "compact with the current engine")
    }
    val nRow = uni.agg(sum(col("u")).as("__tf_n"))
    (uni, bi, tri, nRow)
  }

  /**
   * [[withTrigramFluency]] against a FROZEN LM store — the held-out
   * scoring path where the backoff branches do real work: unseen
   * trigrams fall back to `0.4 · B(w2,w3)/U(w2)`, unseen backoff bigrams
   * to `0.16 · U(w3)/N`, unseen words to 0. Scoring the training corpus
   * itself reproduces the live operator exactly (every branch-1 hit).
   * Same store layout/fold/takedown/compaction machinery as the bigram
   * scorer — trigram counts are just a third count table.
   *
   * CONTRACT: `idCol` non-null and unique.
   */
  def withTrigramFluencyIndexed(df: DataFrame, idCol: Column, textCol: Column,
                                path: String): DataFrame = {
    requireNoTrigramCols(df, "withTrigramFluencyIndexed")
    val (uni, bi, tri, nRow) = loadLmModel3(df.sparkSession, path)
    val docTri = Spread(
        df.select(idCol.as("__tf_id"), tokens(textCol).as("__tf_ws")))
      .select(col("__tf_id"), explode(triples(col("__tf_ws"))).as("p"))
      .select(col("__tf_id"), col("p.w1").as("__tf_w1"),
        col("p.w2").as("__tf_w2"), col("p.w3").as("__tf_w3"))
    val scored = trigramScore(docTri, uni, bi, tri, nRow)
    df.join(scored, idCol === col("__tf_id"), "left")
      .drop("__tf_id")
      .na.fill(0L, Seq("n_trigrams", "fluency3_e6"))
  }

  /**
   * Cross-document duplicated-span stats — the exact-substring dedup signal
   * (cf. Lee et al., "Deduplicating Training Data Makes Language Models
   * Better"): for each document, how many of its distinct word k-gram spans
   * also occur in at least one OTHER document. High `n_dup_spans / n_spans`
   * flags boilerplate and template text that document-level dedup misses.
   *
   * Scale shape: span frequencies come from a groupBy on the span string
   * (vocabulary-sized, map-side partials) and meet the span instances again
   * in a hash join — deliberately a join, not a window over the span key, so
   * a hot span (a ubiquitous boilerplate phrase) is AQE-skew-splittable
   * instead of funnelling one window task. Documents shorter than k words
   * have no spans and report (0, 0).
   */
  def withDuplicatedSpans(df: DataFrame, idCol: Column, textCol: Column,
                          k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(!df.columns.exists(c =>
      c.equalsIgnoreCase("__ds_id") || c.equalsIgnoreCase("__ds_g") ||
      c.equalsIgnoreCase("__ds_n") || c.equalsIgnoreCase("n_spans") ||
      c.equalsIgnoreCase("n_dup_spans")),
      "withDuplicatedSpans: input must not contain columns named " +
      "__ds_id/__ds_g/__ds_n or the output names n_spans/n_dup_spans")
    val spans = Spread(df.select(idCol.as("__ds_id"), textCol.as("__ds_t")))
      .select(col("__ds_id"), explode(shingles(col("__ds_t"), k)).as("__ds_g"))
    // docs-per-span; spans are distinct within a doc, so count = doc count
    val counts = spans.groupBy(col("__ds_g")).agg(count(lit(1)).as("__ds_n"))
    val perDoc = spans.join(counts, "__ds_g")
      .groupBy(col("__ds_id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("__ds_n") > 1, 1L).otherwise(0L)).as("n_dup_spans"))
    df.join(perDoc, idCol === col("__ds_id"), "left")
      .drop("__ds_id")
      .na.fill(0L, Seq("n_spans", "n_dup_spans"))
  }

  /** Shared kernel of the span-dedup family: tokenized docs, the
    * duplicated k-gram occurrences, and the distinct covered token
    * indexes per doc. Same shapes as documented on
    * [[removeDuplicateSpans]] — the frequency table is a vocabulary-keyed
    * groupBy meeting the instances in an AQE-skew-splittable hash join;
    * the index explode factor is exactly k. */
  private def dupSpanCoverage(df: DataFrame, idCol: Column, textCol: Column,
                              k: Int, minDocs: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = Spread(
      df.select(idCol.as("__rs_id"), split(textCol, " ").as("__rs_ws")))
    // all span occurrences with their 0-based start token index
    val occ = base
      .filter(size(col("__rs_ws")) >= k)
      .select(col("__rs_id"), explode(transform(
        sequence(lit(0), size(col("__rs_ws")) - k),
        i => struct(i.as("s"),
          array_join(slice(col("__rs_ws"), i + 1, lit(k)), " ").as("g")))).as("__rs_o"))
      .select(col("__rs_id"), col("__rs_o.s").as("__rs_s"), col("__rs_o.g").as("__rs_g"))
    // span -> distinct-document frequency; keep only the duplicated ones
    val dup = occ.select(col("__rs_id"), col("__rs_g")).distinct()
      .groupBy(col("__rs_g")).agg(count(lit(1)).as("__rs_n"))
      .filter(col("__rs_n") >= minDocs).select(col("__rs_g"))
    val dupOcc = occ.join(dup, "__rs_g")
    // covered token indexes per doc (distinct: overlapping spans share tokens)
    val removed = dupOcc
      .select(col("__rs_id"),
        explode(sequence(col("__rs_s"), col("__rs_s") + (k - 1))).as("__rs_i"))
      .distinct()
    (base, dupOcc, removed)
  }

  /** Maximal contiguous runs of the covered token indexes — the classic
    * gaps-and-islands fold (i - row_number is constant within a run); the
    * window is doc-partitioned, skew bounded by the longest document.
    * Shared by [[maximalDuplicateSpans]] (the report) and
    * [[removeDuplicateSpans]] (the excision rebuilds from the island
    * complement). Returns (__rs_id, span_start, span_len). */
  private def coverageIslands(removed: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__rs_id")).orderBy(col("__rs_i"))
    removed
      .withColumn("__rs_grp", col("__rs_i") - row_number().over(w))
      .groupBy(col("__rs_id"), col("__rs_grp"))
      .agg(min(col("__rs_i")).as("span_start"),
        count(lit(1)).cast("long").as("span_len"))
      .drop("__rs_grp")
  }

  /**
   * MAXIMAL variable-length duplicated spans — the report form of Lee et
   * al.'s exact-substring semantics (arXiv:2107.06499 §4.1 uses suffix
   * arrays; this computes the identical token regions distributively):
   * per document, the maximal contiguous token runs covered by word
   * k-grams that occur in >= `minDocs` distinct documents. A duplicated
   * substring of length L >= k is covered by duplicated k-windows at every
   * offset, so the union of duplicated k-window tokens IS the union of all
   * duplicated substrings of length >= k — merging overlapping k-gram
   * seeds into islands yields exactly the maximal duplicated regions,
   * with their true (variable) lengths, not fixed-k fragments. Lee et
   * al.'s min-match-length threshold IS k: a longer floor on the *merged*
   * region would excise stitched runs no single duplicated substring
   * spans.
   *
   * Output: one row per maximal span occurrence —
   * (doc_id, span_start, span_len, span_text), span_start 0-based in
   * tokens. [[removeDuplicateSpans]]'s removed-token set equals the union
   * of these spans (spec-pinned), so this adds reporting power at the
   * same candidate volume: the only machinery on top of the shared kernel
   * is a doc-partitioned island window (bounded by document length, never
   * corpus size) and a slice of the doc's own token array.
   */
  def maximalDuplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
                            k: Int, minDocs: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val (base, _, removed) = dupSpanCoverage(df, idCol, textCol, k, minDocs)
    val islands = coverageIslands(removed)
    islands.join(base, "__rs_id")
      .select(col("__rs_id").as("doc_id"),
        col("span_start").cast("long").as("span_start"),
        col("span_len"),
        array_join(slice(col("__rs_ws"), col("span_start") + 1,
          col("span_len").cast("int")), " ").as("span_text"))
  }

  /**
   * Exact-substring EXCISION — the destructive half of span dedup (cf. Lee
   * et al., "Deduplicating Training Data Makes Language Models Better"):
   * every occurrence of a word k-gram that appears in at least `minDocs`
   * DISTINCT documents is cut out of the text, and the surviving tokens are
   * re-joined with single spaces. [[withDuplicatedSpans]] is the cheap
   * counting signal; this rewrites the corpus;
   * [[maximalDuplicateSpans]] reports the same regions as variable-length
   * maximal spans (the removed-token set here equals their union).
   *
   * Semantics (deterministic, symmetric — replayable in plain SQL):
   *  - tokens are the single-space split; spans are ALL k-token windows
   *    (every start index, not the distinct set);
   *  - a span string is "duplicated" when its distinct-document frequency is
   *    >= minDocs — repeats *within* one document do not count, so
   *    self-repetition is untouched (that is [[withRepetition]]'s job);
   *  - a token is removed iff it lies inside any duplicated-span occurrence
   *    (all copies are excised — boilerplate stripping, not keep-one dedup:
   *    for keep-one document-level semantics use `Dedup.dropNearDuplicates`);
   *  - docs with fewer than k tokens, or no duplicated span, pass through
   *    unchanged; a fully-covered doc becomes the empty string.
   *
   * Output: input columns + `clean_text` + `n_removed_tokens`.
   *
   * Scale shape: every exchange is keyed by either the span string
   * (vocabulary-sized; the frequency table is a groupBy with map-side
   * partials and meets the instances again in an AQE-skew-splittable hash
   * join, never a window) or by (doc, token-index) / doc (bounded by
   * document length). The per-doc reconstruction folds the covered indexes
   * into maximal islands and rebuilds clean_text from GAP SLICES of the
   * doc's own token array — rows past the coverage kernel are bounded by
   * island counts (≪ tokens), memory by the longest document, never the
   * corpus. The removal-index explode factor is exactly k.
   */
  def removeDuplicateSpans(df: DataFrame, idCol: Column, textCol: Column,
                           k: Int, minDocs: Int = 2): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(!df.columns.exists(c =>
      c.toLowerCase.startsWith("__rs_") ||
      c.equalsIgnoreCase("clean_text") || c.equalsIgnoreCase("n_removed_tokens")),
      "removeDuplicateSpans: input must not contain __rs_* columns or the " +
      "output names clean_text/n_removed_tokens")

    val (base, _, removed) = dupSpanCoverage(df, idCol, textCol, k, minDocs)
    // Rebuild from the ISLAND COMPLEMENT (round 9; previously a per-token
    // posexplode + anti-join + collect_list): the covered indexes fold
    // into maximal islands (rows bounded by islands ≪ tokens), each island
    // contributes the gap ending at it, and clean_text is the
    // concatenation of gap slices of the doc's own token array plus the
    // trailing slice past the last island. Exactly the docs with >= 1
    // island get a rewritten text, so a fully-excised doc ("" — the
    // trailing slice is empty) stays distinguishable from an untouched
    // one. Every row past the coverage kernel is island- or doc-keyed.
    val isl = coverageIslands(removed)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__rs_id")).orderBy(col("span_start"))
    val gaps = isl
      .withColumn("__rs_pe", coalesce(
        lag(col("span_start") + col("span_len"), 1).over(w), lit(0L)))
      .select(col("__rs_id"),
        struct(col("__rs_pe").as("st"),
          (col("span_start") - col("__rs_pe")).as("len")).as("__rs_gap"),
        (col("span_start") + col("span_len")).as("__rs_en"),
        col("span_len"))
    val perDoc = gaps.groupBy(col("__rs_id"))
      .agg(sort_array(collect_list(col("__rs_gap"))).as("__rs_gaps"),
        max(col("__rs_en")).as("__rs_last"),
        sum(col("span_len")).as("__rs_cnt"))
    val rewritten = perDoc.join(base, "__rs_id")
      .select(col("__rs_id"),
        array_join(flatten(concat(
          transform(filter(col("__rs_gaps"), g => g.getField("len") > 0L),
            g => slice(col("__rs_ws"), g.getField("st").cast("int") + 1,
              g.getField("len").cast("int"))),
          array(slice(col("__rs_ws"), col("__rs_last").cast("int") + 1,
            greatest(size(col("__rs_ws")) - col("__rs_last").cast("int"),
              lit(0)))))), " ").as("__rs_clean"),
        col("__rs_cnt"))
    df.join(rewritten, idCol === col("__rs_id"), "left")
      .withColumn("clean_text", coalesce(col("__rs_clean"), textCol))
      .withColumn("n_removed_tokens", coalesce(col("__rs_cnt"), lit(0L)))
      .drop("__rs_id", "__rs_clean", "__rs_cnt")
  }
}
