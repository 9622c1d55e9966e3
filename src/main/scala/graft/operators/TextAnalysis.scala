package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-quality / language-ID / token-statistics operators
  * (SURVEY.md §2-E). Everything is built from codegen'd built-ins (or
  * native expressions) — no UDFs — so at 100 TB these run inside the
  * scan's whole-stage-codegen pass, one streaming pass per document.
  */
object TextAnalysis {

  val Stopwords: Seq[String] = Seq("the", "a", "and", "of", "to")

  /** BPE-ish pre-tokenizer: letter runs, digit runs, single punct. */
  val BpeTokenPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  def whitespaceTokens(text: Column): Column = split(text, " ")

  def tokenStats(docs: DataFrame): DataFrame = {
    val st = graft.functions.Fns.text_scan(col("text"))
    docs.select(
      col("doc_id"),
      st.getField("chars").as("n_chars"),
      st.getField("tokens").as("n_ws_tokens"),
      st.getField("bpe_tokens").as("n_bpe_tokens"))
  }

  /** Heuristic quality signals: punctuation density, stopword ratio,
    * mean word length — the standard cheap pre-filters for LLM corpus
    * curation (cf. C4/Gopher rules). All ratios are single double
    * divisions (oracle-parity safe); a ratio over zero chars (the `""`
    * document) is null, as in the DuckDB oracle, not an ANSI error. */
  def qualityScore(docs: DataFrame): DataFrame = {
    val st = graft.functions.Fns.text_scan(col("text"))
    // ppb integer ratios (floor): numerators stay < 2^53 after the 1e9
    // scaling and the quotient sits >= 1/den from any integer, so the
    // double floor equals the integer division either engine computes —
    // no dependence on ROUND(double) half-edge behavior.
    def ppb(num: Column, den: Column): Column =
      floor(try_divide(num.cast("double") * 1e9, den)).cast("long").cast("double") / 1e9
    docs.select(
      col("doc_id"),
      st.getField("chars").as("n_chars"),
      st.getField("tokens").as("n_tokens"),
      ppb(st.getField("punct"), st.getField("chars")).as("punct_ratio"),
      ppb(st.getField("stop_hits"), st.getField("tokens")).as("stopword_ratio"),
      ppb(st.getField("word_chars"), st.getField("tokens")).as("mean_word_len"))
  }

  /** n-gram-profile language ID: score = stop-token hits per language
    * profile; deterministic argmax with 'und' fallback. Profiles are
    * tiny hardcoded common-token sets (public langid heuristics). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "los"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "fr" -> Seq("le", "la", "de", "et", "les", "un"))

  def langId(docs: DataFrame): DataFrame = {
    val ws = whitespaceTokens(col("text"))
    val hitCols = LangProfiles.map { case (lang, prof) =>
      size(filter(ws, t => t.isin(prof.map(x => x: Any): _*))).as(s"hits_$lang")
    }
    val scored = docs.select((col("doc_id") +: hitCols): _*)
    val best = LangProfiles.map(_._1).foldLeft(lit(0)) { (acc, lang) =>
      greatest(acc, col(s"hits_$lang"))
    }
    // argmax with first-profile-wins tie-break, 'und' when no hits
    val pred = LangProfiles.map(_._1).foldRight(lit("und"): Column) { (lang, acc) =>
      when(col(s"hits_$lang") === col("best_hits") && col("best_hits") > 0, lit(lang)).otherwise(acc)
    }
    scored
      .withColumn("best_hits", best)
      .withColumn("pred_lang", pred)
      .select(col("doc_id"), col("pred_lang"), col("best_hits").cast("long").as("score"))
  }

  /** Char-trigram language profiles — the langid.py / CLD character-
    * n-gram shape reduced to deterministic hardcoded profiles (public
    * linguistic heuristics). Unlike [[LangProfiles]]' whitespace-token
    * stopword sets, character trigrams need no tokenizer, see inside
    * words (morphology: -ing/-ado/-cht), and survive concatenated or
    * lightly-mangled crawl text. Profiles stay ASCII so the substring
    * parity between engines is byte-trivial; the canonical table
    * lives beside the native scan kernel. */
  val CharProfiles: Seq[(String, Seq[String])] =
    graft.functions.Kernels.LangTrigramProfiles

  /** Char-trigram language ID: score = profile-trigram occurrences in
    * the lowercased text, deterministic argmax with first-profile-wins
    * tie-break and 'und' when nothing fires (ASCII case fold — see the
    * kernel's locale rationale). The per-language counts
    * come from ONE codegen'd pass over the UTF-8 bytes
    * ([[graft.functions.LangTrigramHits]]) — the declarative form
    * (materialize every char trigram, filter per language) allocates
    * a String per character and re-walks the array once per profile;
    * the native kernel made the gated key ~10× cheaper (4.4 s →
    * 0.27-0.54 s at sf0.1 depending on suite warmth). Map-only
    * in-scan work: no explode, no shuffle — at 100 TB this is pure
    * scan-side CPU like the quality stats. */
  def langIdNgram(docs: DataFrame): DataFrame = {
    val withHits = docs.withColumn("lh",
      graft.functions.Fns.lang_trigram_hits(col("text")))
    val hitCols = CharProfiles.zipWithIndex.map { case ((lang, _), i) =>
      element_at(col("lh"), i + 1).as(s"hits_$lang")
    }
    val scored = withHits.select((col("doc_id") +: hitCols): _*)
    val best = CharProfiles.map(_._1).foldLeft(lit(0)) { (acc, lang) =>
      greatest(acc, col(s"hits_$lang"))
    }
    val pred = CharProfiles.map(_._1).foldRight(lit("und"): Column) { (lang, acc) =>
      when(col(s"hits_$lang") === col("best_hits") && col("best_hits") > 0,
        lit(lang)).otherwise(acc)
    }
    scored
      .withColumn("best_hits", best)
      .withColumn("pred_lang", pred)
      .select(col("doc_id"), col("pred_lang"),
        col("best_hits").cast("long").as("score"))
  }

  /** Rolling polynomial-hash fingerprint (native expression). */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.Fns.rolling_hash(col("text")).as("fingerprint"))

  /** PII scrub patterns (pre-training corpus hygiene): email addresses
    * and ≥3-digit runs. Pure codegen'd regex — runs inside the scan. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val DigitRunPattern = "[0-9]{3,}"

  /** Redact PII-shaped substrings of `text`: emails → [EMAIL], digit
    * runs → [NUM]. */
  def redactPii(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailPattern, "[EMAIL]"),
      DigitRunPattern, "[NUM]")

  /** Word n-grams of `text` as an array column — computed in-scan
    * (codegen'd higher-order functions, no explode until the caller
    * wants one). Empty array when the doc has fewer than n tokens. */
  def wordNgrams(text: Column, n: Int): Column = {
    val ws = whitespaceTokens(text)
    when(size(ws) >= n,
      transform(sequence(lit(0), size(ws) - n),
        i => concat_ws(" ", slice(ws, i + 1, lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Fixed-width token chunking with overlap — the document-splitting
    * step of a RAG / pretraining pipeline. Chunk c covers tokens
    * [c·stride, c·stride+width) with stride = width − overlap; the
    * last chunk may be shorter; a doc shorter than `width` yields one
    * chunk. Map-only: an arithmetic `sequence` explode inside the scan
    * stage — no shuffle, no state, so at 100 TB it parallelizes purely
    * on input splits and streams straight into the next operator. */
  def chunk(docs: DataFrame, width: Int, overlap: Int): DataFrame = {
    require(width > overlap && overlap >= 0, "need width > overlap >= 0")
    val stride = width - overlap
    docs
      .select(col("doc_id"), whitespaceTokens(col("text")).as("_toks"))
      .withColumn("_start",
        explode(sequence(lit(0), greatest(size(col("_toks")) - 1, lit(0)), lit(stride))))
      .select(
        col("doc_id"),
        (col("_start") / stride).cast("long").as("chunk_id"),
        concat_ws(" ", slice(col("_toks"), col("_start") + 1, lit(width))).as("chunk"),
        least(lit(width), size(col("_toks")) - col("_start")).cast("long")
          .as("chunk_tokens"))
  }

  /** Benchmark decontamination: which corpus docs share any word
    * n-gram with the benchmark/eval set, and how many distinct grams
    * leak. The benchmark side (eval suites — tiny next to a training
    * corpus) collapses to distinct grams and broadcasts; corpus grams
    * stream through the broadcast join inside the scan stage, so the
    * only shuffle is the final per-doc count over *hits* — contaminated
    * grams only, never the full corpus n-gram stream. */
  def contamination(corpus: DataFrame, benchmark: DataFrame, n: Int): DataFrame = {
    val grams = (df: DataFrame) =>
      df.select(col("doc_id"), explode(wordNgrams(col("text"), n)).as("gram"))
    val benchGrams = grams(benchmark).select(col("gram")).distinct()
    grams(corpus)
      .join(broadcast(benchGrams), "gram")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("gram")).as("n_hits"))
  }

  /** Gopher-style composite document filter (Rae et al. 2021 §A1.1
    * adapted to the synthetic corpus): each rule is a pure in-scan
    * predicate; `fail_mask` records which rules fired (bit k = rule k)
    * and `keep` is their conjunction. All ratios are single divisions
    * of exact integer counts, so threshold comparisons are
    * bit-identical across engines. Every leg comes from two one-pass
    * native kernels: `text_scan` (stopwords, word length, punctuation)
    * and `token_repetition` (token count, top-word and 3-gram counts).
    * The punctuation ratio of the `""` document (zero chars) is null,
    * as in the DuckDB oracle, so rule 5 does not fire on it. */
  def gopherFilter(docs: DataFrame): DataFrame = {
    val st = graft.functions.Fns.text_scan(col("text"))
    val rep = graft.functions.Fns.token_repetition(col("text"))
    val nTok = rep.getField("tokens")
    val stopRatio = st.getField("stop_hits").cast("double") /
      st.getField("tokens").cast("double")
    val mwl = st.getField("word_chars").cast("double") /
      st.getField("tokens").cast("double")
    val punct = try_divide(st.getField("punct").cast("double"),
      st.getField("chars").cast("double"))
    val g3 = rep.getField("grams_3")
    val dup3 = when(g3 > 0,
      (g3 - rep.getField("distinct_3")).cast("double") / g3.cast("double"))
      .otherwise(lit(0.0))
    val topWord = rep.getField("top_count").cast("double") / nTok.cast("double")
    val rules: Seq[(Int, Column)] = Seq(
      0 -> (nTok < 20),             // too short
      1 -> (stopRatio < 0.03),      // not natural-language-like
      2 -> (mwl < 3.0 || mwl > 10.0), // gibberish token lengths
      3 -> (topWord > 0.15),        // single-token domination
      4 -> (dup3 > 0.1),            // boilerplate repetition
      5 -> (punct > 0.3))           // symbol soup
    val mask = rules.foldLeft(lit(0L)) { case (acc, (bit, cond)) =>
      acc + when(cond, lit(1L << bit)).otherwise(lit(0L))
    }
    docs.select(
      col("doc_id"),
      nTok.as("n_tokens"),
      mask.as("fail_mask"))
      .withColumn("keep", col("fail_mask") === 0L)
  }

  /** Gopher-style repetition signals, computed entirely in-scan (no
    * shuffle — every metric is a pure function of one document):
    *  - top_word_frac: occurrences of the most frequent token / tokens;
    *  - dup_2gram_frac / dup_3gram_frac: fraction of n-gram occurrences
    *    that are repeats beyond the first (1 − distinct/total).
    * All counts come from one `token_repetition` pass over the bytes. */
  def repetitionStats(docs: DataFrame): DataFrame = {
    val rep = graft.functions.Fns.token_repetition(col("text"))
    def ppbFrac(num: Column, den: Column): Column =
      floor(num.cast("double") * 1e9 / den).cast("long").cast("double") / 1e9
    def dupFrac(n: Int): Column = {
      val grams = rep.getField(s"grams_$n")
      when(grams > 0, ppbFrac(grams - rep.getField(s"distinct_$n"), grams))
        .otherwise(lit(0.0))
    }
    docs.select(
      col("doc_id"),
      ppbFrac(rep.getField("top_count"), rep.getField("tokens")).as("top_word_frac"),
      dupFrac(2).as("dup_2gram_frac"),
      dupFrac(3).as("dup_3gram_frac"))
  }

  /** Result of [[htmlMainText]]: the extracted main text plus the
    * structural census the curation pipeline records per page. */
  case class HtmlExtract(text: String, nLinks: Int, nScripts: Int,
                         droppedBlocks: Int)

  /** HTML main-text extraction — step one of web-corpus curation
    * (the trafilatura/jusText job), as a single-pass tag walker:
    *
    *  - `<script>`/`<style>` content is RAW-skipped to the matching
    *    close tag (markup inside scripts never creates blocks),
    *  - block boundaries at `<p>`/`<div>` open/close; each block
    *    counts its words and its link words (text inside `<a>`),
    *  - BOILERPLATE blocks are dropped by link density — more than
    *    half the block's words inside links kills it (navs, footers,
    *    related-links bars die; prose with incidental links lives),
    *  - entities decoded (`&amp; &lt; &gt; &quot; &#39; &nbsp;`),
    *    whitespace collapsed, surviving blocks joined by one space.
    *
    * Tolerant by construction: unclosed tags, stray `</...>`, and
    * truncated input never throw — the walker just finalizes what it
    * has. (Attribute values containing a raw `>` end the tag early —
    * the classic cheap-parser tradeoff; real crawls escape these.)
    * Per-doc CPU inside one scan stage; nothing here shuffles. */
  def htmlMainText(html: String): HtmlExtract = {
    val out = new StringBuilder
    // Raw-section close-tag scan via regionMatches(ignoreCase): a
    // per-tag html.toLowerCase would copy the WHOLE document per
    // script/style block (O(doc × blocks) on real pages with dozens of
    // scripts), and locale-sensitive case mapping either shifts
    // offsets (U+0130 lowers to two chars) or misses '</SCRIPT' on a
    // Turkish-locale JVM. Char-wise ignore-case matching is
    // locale-free, allocation-free, and index-exact.
    def indexOfIgnoreCase(needle: String, from: Int): Int = {
      var p = from
      val last = html.length - needle.length
      while (p <= last) {
        if (html.regionMatches(true, p, needle, 0, needle.length)) return p
        p += 1
      }
      -1
    }
    var nLinks = 0; var nScripts = 0; var dropped = 0
    var blockWords = 0; var blockLinkWords = 0
    val blockText = new StringBuilder
    var inLink = false
    def decode(s: String): String = s
      .replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")
    def addText(raw: String): Unit = {
      val words = decode(raw).split("\\s+").filter(_.nonEmpty)
      words.foreach { w =>
        if (blockText.nonEmpty) blockText += ' '
        blockText ++= w
        blockWords += 1
        if (inLink) blockLinkWords += 1
      }
    }
    def closeBlock(): Unit = {
      if (blockWords > 0) {
        if (blockLinkWords * 2 > blockWords) dropped += 1
        else {
          if (out.nonEmpty) out += ' '
          out ++= blockText
        }
      }
      blockText.clear(); blockWords = 0; blockLinkWords = 0
    }
    var i = 0
    val n = html.length
    while (i < n) {
      val lt = html.indexOf('<', i)
      if (lt < 0) { addText(html.substring(i)); i = n }
      else {
        if (lt > i) addText(html.substring(i, lt))
        val gt = html.indexOf('>', lt)
        if (gt < 0) { i = n } // truncated tag: drop the tail
        else {
          val inner = html.substring(lt + 1, gt).trim
          val closing = inner.startsWith("/")
          val name = inner.stripPrefix("/").takeWhile(c => !c.isWhitespace && c != '/')
            .toLowerCase(java.util.Locale.ROOT)
          i = gt + 1
          name match {
            case "script" | "style" if !closing =>
              if (name == "script") nScripts += 1
              val end = indexOfIgnoreCase(s"</$name", i)
              // skip raw content; truncated raw section eats the tail
              i = if (end < 0) n else html.indexOf('>', end) match {
                case -1 => n
                case e => e + 1
              }
            case "a" =>
              if (!closing) { nLinks += 1; inLink = true } else inLink = false
            case "p" | "div" => closeBlock()
            case _ => // inline/unknown tags are transparent
          }
        }
      }
    }
    closeBlock()
    HtmlExtract(out.toString, nLinks, nScripts, dropped)
  }

  /** URL canonicalization — the crawl-side dedup key (one page, many
    * spellings): lowercase scheme and host, strip default ports
    * (http:80 / https:443), drop the fragment, remove tracking
    * parameters (utm_*, gclid, fbclid, ref), sort surviving query
    * parameters by key-then-value, and trim one trailing slash off a
    * non-root path. Inputs that do not parse as scheme://host...
    * canonicalize to themselves trimmed — a crawl frontier must never
    * throw on a weird URL. */
  def canonicalUrl(url: String): String = {
    val trimmed = url.trim
    val schemeEnd = trimmed.indexOf("://")
    if (schemeEnd <= 0) return trimmed
    val scheme = trimmed.substring(0, schemeEnd).toLowerCase
    val rest0 = trimmed.substring(schemeEnd + 3)
    // fragment first: it never reaches the server
    val rest = rest0.indexOf('#') match {
      case -1 => rest0
      case h => rest0.substring(0, h)
    }
    val (authorityAndPath, query) = rest.indexOf('?') match {
      case -1 => (rest, "")
      case q => (rest.substring(0, q), rest.substring(q + 1))
    }
    val slash = authorityAndPath.indexOf('/')
    val (authority, path0) =
      if (slash < 0) (authorityAndPath, "")
      else (authorityAndPath.substring(0, slash), authorityAndPath.substring(slash))
    val host = authority.toLowerCase match {
      case h if scheme == "http" && h.endsWith(":80") => h.stripSuffix(":80")
      case h if scheme == "https" && h.endsWith(":443") => h.stripSuffix(":443")
      case h => h
    }
    val path = if (path0.length > 1 && path0.endsWith("/")) path0.dropRight(1)
      else path0
    val tracking = Set("gclid", "fbclid", "ref")
    val params = query.split("&").filter(_.nonEmpty).toSeq
      .map { kv => kv.indexOf('=') match {
        case -1 => (kv, None)
        case e => (kv.substring(0, e), Some(kv.substring(e + 1)))
      }}
      .filterNot { case (k, _) =>
        k.toLowerCase.startsWith("utm_") || tracking.contains(k.toLowerCase) }
      .sortBy { case (k, v) => (k, v.getOrElse("")) }
      .map { case (k, v) => v.fold(k)(vv => s"$k=$vv") }
    val q = if (params.isEmpty) "" else params.mkString("?", "&", "")
    s"$scheme://$host$path$q"
  }
}
