package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** URL canonicalization and per-domain curation for web-crawl corpora —
  * the dedup-by-URL / "no domain dominates the mix" passes every
  * CommonCrawl-scale pipeline runs before text-level dedup.
  *
  * Everything here is a pure projection built from regex/string
  * primitives that exist verbatim in any ANSI-ish engine (no lookarounds,
  * no engine-private hash), so normalized URLs, registered domains, and
  * cap-sample membership are all oracle-checkable cross-engine — same
  * posture as [[Sampling]]'s identity-hash membership.
  *
  * Scale shape: normalization and domain extraction are per-row
  * expressions (scan-speed, no shuffle). The domain cap is the one
  * shuffling op and runs SKEW-SAFE in two phases: a salted per-bucket
  * pre-cap bounds any mega-domain's partition at `cap` rows per salt
  * before the real per-domain rank — a 100M-page domain never lands in
  * one task. */
object UrlFunctions {

  /** Multi-part public suffixes recognized by [[registeredDomain]].
    * A deliberately small embedded subset of the public-suffix list (the
    * full Mozilla PSL is ~9k entries and revisioned); unknown multi-part
    * suffixes fall back to the last-two-labels rule. Documented deviation,
    * same shape as the reference's heuristic tables. */
  val MultiPartSuffixes: Seq[String] = Seq(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "or.jp", "ne.jp", "co.in", "co.nz", "com.br", "com.cn",
    "com.mx", "com.sg", "com.tr", "co.za", "com.ar", "co.kr")

  private val SchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://.*"
  private val AuthRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*).*"
  private val RestRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(.*)"

  /** Lowercased authority (host[:port], userinfo stripped). */
  def urlAuthority(url: Column): Column =
    regexp_replace(lower(regexp_extract(url, AuthRe, 1)), "^[^@]*@", "")

  /** Host only: authority minus any port. */
  def urlHost(url: Column): Column =
    regexp_replace(urlAuthority(url), ":[0-9]+$", "")

  /** Canonical form: fragment stripped; scheme+host lowercased; userinfo
    * and default ports (http:80 / https:443) dropped; tracking params
    * (utm_*, fbclid, gclid, ref) removed; empty path → "/", trailing
    * slashes trimmed. Non-absolute inputs pass through unchanged (a
    * crawler's relative refs are the caller's resolution problem). */
  def normalizeUrl(url: Column): Column = {
    val u = regexp_replace(url, "#.*", "") // fragment off first
    val scheme = lower(regexp_extract(u, SchemeRe, 1))
    val auth0 = regexp_replace(lower(regexp_extract(u, AuthRe, 1)), "^[^@]*@", "")
    val auth = when(scheme === "http", regexp_replace(auth0, ":80$", ""))
      .when(scheme === "https", regexp_replace(auth0, ":443$", ""))
      .otherwise(auth0)
    val rest = regexp_extract(u, RestRe, 1)
    val path0 = regexp_extract(rest, "^([^?]*)", 1)
    val path = when(length(regexp_replace(path0, "/+$", "")) === 0, lit("/"))
      .otherwise(regexp_replace(path0, "/+$", ""))
    val query0 = regexp_extract(rest, "\\?(.*)", 1)
    // dropping "(^|&)tracker=value" consumes the joining separator, so the
    // leftovers need only a leading-& trim; no lookarounds (RE2-safe)
    val query = regexp_replace(
      regexp_replace(query0, "(?:^|&)(?:utm_[^=&]*|fbclid|gclid|ref)=[^&]*", ""),
      "^&+", "")
    when(scheme === "", url).otherwise(
      concat(scheme, lit("://"), auth, path,
        when(query === "", lit("")).otherwise(concat(lit("?"), query))))
  }

  /** Registrable domain (eTLD+1) of a host column: last two labels, or
    * last three when the two-label tail is a known multi-part suffix
    * ([[MultiPartSuffixes]]). Hosts with <2 labels come back whole. */
  def registeredDomain(host: Column): Column = {
    val l = split(host, "\\.")
    val n = size(l)
    val last2 = concat_ws(".", element_at(l, -2), element_at(l, -1))
    val last3 = concat_ws(".", element_at(l, -3), last2)
    when(n >= 3 && last2.isin(MultiPartSuffixes: _*), last3)
      .when(n >= 2, last2)
      .otherwise(host)
  }

  /** Keep at most `cap` documents per registered domain, chosen by the
    * same identity-hash order as every [[Sampling]] op (engine /
    * partitioning / run stable; a domain's survivors don't change when
    * the corpus around them grows). Adds `domain` and `domain_rank`
    * (1-based) to the kept rows.
    *
    * Two-phase, skew-proof: phase 1 ranks within (domain, salt) and keeps
    * ≤ cap per bucket — any row in the domain's true top-cap has ≤ cap−1
    * rows ahead of it in its own bucket, so phase 1 never drops a final
    * survivor and the per-task row bound is cap. Phase 2 ranks the
    * ≤ cap·salts survivors per domain exactly. The salt never affects the
    * result — only the partition sizes. */
  def domainCapSample(df: DataFrame, idCol: String, urlCol: String,
      cap: Int, salts: Int = 64): DataFrame = {
    require(cap > 0, s"cap must be positive: $cap")
    // withColumn replaces silently: refuse if the OUTPUT names are taken,
    // and pick collision-free names for the internal helpers
    Seq("domain", "domain_rank").foreach { c =>
      require(!df.columns.contains(c),
        s"domainCapSample adds output column '$c' but the frame already " +
          "has one — rename it first")
    }
    val keyC = graft.core.Names.fresh("_key", df.columns)
    val r1C = graft.core.Names.fresh("_r1", df.columns)
    val key = md5(concat(lit("dc#"), col(idCol).cast(StringType)))
    val withD = df
      .withColumn("domain", registeredDomain(urlHost(col(urlCol))))
      .withColumn(keyC, key)
    val pre = Window.partitionBy(col("domain"),
        pmod(xxhash64(col(idCol)), lit(salts)))
      .orderBy(col(keyC), col(idCol))
    val fin = Window.partitionBy(col("domain"))
      .orderBy(col(keyC), col(idCol))
    withD
      .withColumn(r1C, row_number().over(pre)).filter(col(r1C) <= cap)
      .withColumn("domain_rank", row_number().over(fin))
      .filter(col("domain_rank") <= cap)
      .drop(r1C, keyC)
  }

  /** Per-domain corpus report: docs, tokens, token share — the "which
    * domains dominate the crawl" table that motivates [[domainCapSample]].
    * One scan to a domain-sized frame; share via a single-row total
    * broadcast back (no corpus-wide window). */
  def domainStats(df: DataFrame, urlCol: String, textCol: String): DataFrame = {
    val dom = df
      .withColumn("domain", registeredDomain(urlHost(col(urlCol))))
      .withColumn("_tok", TextFunctions.tokenCount(col(textCol)).cast(LongType))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("_tok")).as("n_tokens"))
    dom.crossJoin(broadcast(dom.agg(sum(col("n_tokens")).as("_tot"))))
      .withColumn("token_share_x10k",
        floor(col("n_tokens") * lit(10000.0) / col("_tot") + lit(0.5))
          .cast(LongType))
      .drop("_tot")
  }
}
