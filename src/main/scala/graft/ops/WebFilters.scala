package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Crawl-hygiene filters — the URL/domain and line-level half of a web-scale
  * curation pipeline: UT1-style domain blocklist filtering (the
  * RefinedWeb/FineWeb "URL filtering" stage: Penedo et al. 2023 §3.1 filter
  * against the UT1 adult/malware blocklists) and RefinedWeb-style line-wise
  * correction (ibid. §3.2: navigation/social-counter/all-caps boilerplate
  * lines removed in place, documents dropped when the edit is too large).
  *
  * Both are flag-don't-drop: the blocklist filter annotates every document
  * with its matched category (callers filter on it), and the line fix keeps
  * the document row with a `doc_kept` verdict next to the cleaned text.
  *
  * Shuffle shapes at 10^12 docs:
  *   - blocklistFilter: ZERO exchanges on the corpus. Host-suffix matching
  *     ("ads.example.com" matches a blocklist entry "example.com") is a
  *     bounded chain of broadcast LEFT joins — one per suffix level — so the
  *     corpus never moves; the only exchange is the one-row-per-host
  *     dedup aggregation of the (small, ~4M-row UT1-sized) blocklist itself
  *     before its broadcast. No suffix explode + groupBy(doc) join-back:
  *     that formulation shuffles the corpus twice.
  *   - lineFix: pure narrow projection (split → filter → rejoin per row);
  *     no exchange at all.
  */
object WebFilters {

  /** UT1-style domain blocklist filter. A document whose `hostCol` equals a
    * blocklist host, or sits on any subdomain of one, is annotated with that
    * entry's category; when several entries match (e.g. "cdn.x.com" and
    * "x.com" both listed), the MOST SPECIFIC (longest-suffix) entry wins —
    * hosts-file semantics. Suffixes shorter than 2 labels never match (bare
    * TLDs are not blocklistable). Duplicate blocklist hosts are collapsed to
    * their lexicographically smallest category (deterministic on any engine).
    *
    * `levels` bounds the suffix depth considered (host itself + levels-1
    * parents); real-world hosts are < 8 labels deep.
    *
    * Output: input columns + `block_category` (null = unlisted) + `blocked`
    * (0/1 int — int not boolean so every oracle engine hashes it alike).
    * These names and the `_bl_host_*` / `_bl_cat_*` join columns are
    * reserved: an input frame that already has one is rejected, never
    * silently overwritten or shadowed. */
  /** DNS names are case-insensitive and may arrive as FQDNs with a root
    * dot; UT1 lists are lowercase without one. Normalize both sides the
    * same way before any comparison. */
  private def normHost(h: Column): Column = lower(rtrim(h, "."))

  def blocklistFilter(df: DataFrame, blocklist: DataFrame,
      hostCol: String = "host", levels: Int = 4,
      blHostCol: String = "host", blCatCol: String = "category"): DataFrame = {
    require(levels >= 1 && levels <= 8, s"levels must be in [1,8], got $levels")
    for (c <- df.columns)
      require(c != "block_category" && c != "blocked" &&
        !c.startsWith("_bl_host_") && !c.startsWith("_bl_cat_"),
        s"blocklistFilter: input column '$c' collides with a reserved output column")
    val bl = blocklist
      .select(normHost(col(blHostCol).cast("string")).as("bl_host"),
        col(blCatCol).cast("string").as("bl_cat"))
      .groupBy(col("bl_host")).agg(min(col("bl_cat")).as("bl_cat"))
    val labels = split(normHost(col(hostCol)), "\\.", -1)
    var out = df
    val catCols = (0 until levels).map { i =>
      // suffix at level i = host minus its first i labels; null (never
      // joins) when fewer than 2 labels would remain
      val sfx = when(size(labels) - i >= 2,
        array_join(slice(labels, lit(i + 1), size(labels) - i), "."))
      val side = broadcast(bl.select(
        col("bl_host").as(s"_bl_host_$i"), col("bl_cat").as(s"_bl_cat_$i")))
      out = out.join(side, sfx === col(s"_bl_host_$i"), "left")
        .drop(s"_bl_host_$i")
      col(s"_bl_cat_$i")
    }
    out
      .withColumn("block_category", coalesce(catCols: _*))
      .withColumn("blocked",
        col("block_category").isNotNull.cast("int"))
      .drop((0 until levels).map(i => s"_bl_cat_$i"): _*)
  }

  /** A line is boilerplate when its trimmed form is (a) a bare navigation
    * word/phrase, (b) a social counter ("34 comments"), or (c) an all-caps
    * run of at least 4 ASCII letters on a short line (menu bars, "HOME |
    * ABOUT | CONTACT"). Anchored ASCII-only patterns keep Java regex and
    * RE2/utf8proc oracle semantics identical. */
  private val NavLineRe =
    "^(?:home|about(?: us)?|contact(?: us)?|sign in|sign up|log in|login|logout|register|subscribe|read more|learn more|menu|search|share|print|previous|next|back to top|skip to content)$"
  private val CounterLineRe =
    "^[0-9]+ (?:likes?|comments?|shares?|views?|replies|votes?|followers)$"

  private def isBoilerplateLine(line: Column): Column = {
    // strip CR first: lines from CRLF text end in \r, and Java's '$'
    // matches before a final line terminator while RE2's does not — with
    // no \r (and no \n, post-split) in the subject, '$' means end-of-text
    // in both engines and the oracle twin stays exact
    val t = trim(regexp_replace(line, "\r", ""))
    val letters = regexp_replace(t, "[^A-Za-z]", "")
    lower(t).rlike(NavLineRe) ||
      lower(t).rlike(CounterLineRe) ||
      (length(letters) >= 4 && letters === upper(letters) && length(t) <= 80)
  }

  /** RefinedWeb-style line-wise correction: boilerplate lines are removed in
    * place, the document is rebuilt from the survivors, and the row is
    * flagged dropped (`doc_kept` = 0) when more than half its lines were
    * removed — a document that is mostly chrome was never content. Empty
    * lines are content (paragraph structure), never removed.
    *
    * Output: (idCol, n_lines, n_removed, doc_kept 0/1, fixed_text). Purely
    * narrow — one pass over each row, no exchange. */
  def lineFix(df: DataFrame, textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val lines = split(coalesce(col(textCol), lit("")), "\n", -1)
    val kept = filter(lines, l => !isBoilerplateLine(l))
    df.select(
      col(idCol).cast("long").as("doc_id"),
      size(lines).cast("long").as("n_lines"),
      (size(lines) - size(kept)).cast("long").as("n_removed"),
      ((size(lines) - size(kept)) * 2 <= size(lines)).cast("int").as("doc_kept"),
      array_join(kept, "\n").as("fixed_text"))
  }
}
