package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines (SURVEY.md
  * §2.11): tokenization, quality scoring, language ID, fingerprinting.
  *
  * Everything is composed from codegen'd built-ins operating row-local —
  * no shuffle, no UDFs — so these scale linearly with the scan and run
  * inside WholeStageCodegen. At 100 TB these are pure map-side work.
  */
object TextFunctions {

  /** Whitespace tokens. The fixtures are single-space separated; `split` on
    * a literal space mirrors DuckDB's string_split exactly (including empty
    * tokens), which the oracle comparisons rely on.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** The named entities [[htmlToText]] decodes (a documented subset —
    * the ones boilerplate markup actually carries; numeric forms are out
    * of scope for the builtin-composition tier). `&amp;` is decoded LAST
    * so `&amp;lt;` yields the literal text `&lt;`, not `<` — the
    * single-decode rule real parsers follow.
    */
  private val htmlEntities = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&apos;" -> "'",
    "&nbsp;" -> " ", "&copy;" -> "©", "&amp;" -> "&")

  /** Markup strip — the FIRST text step of a web-corpus pipeline
    * (C4-style extraction): drop script/style blocks wholesale (their
    * content is code, not text), replace every remaining tag with a
    * space, decode the named entities (AFTER tag-strip, so decoded
    * angle brackets are text, never markup), collapse whitespace,
    * trim. Pure builtin composition (regexp_replace + literal
    * replace): fully codegen'd, no UDF, scale shape identical to any
    * projected expression.
    */
  def htmlToText(html: Column): Column = {
    // comments first (they may contain '<', '>', even '<script');
    // then script/style blocks wholesale; then tags with a QUOTE-AWARE
    // body — real markup routinely carries '>' inside quoted attribute
    // values (<img alt="a>b">), which a naive <[^>]*> cuts short,
    // leaking attribute fragments into the extracted text
    val noComment = regexp_replace(html, "(?s)<!--.*?-->", " ")
    val noScript = regexp_replace(noComment, "(?is)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?is)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "(?s)<(?:[^>\"']|\"[^\"]*\"|'[^']*')*>", " ")
    val decoded = htmlEntities.foldLeft(noTags) { case (acc, (ent, ch)) =>
      replace(acc, lit(ent), lit(ch))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Inverse of [[htmlToText]]'s entity decode for the two markup-
    * significant characters — what a generator must apply to text
    * before embedding it in markup (`&` first, then `<`, so escaping
    * never double-fires).
    */
  def htmlEscape(text: Column): Column =
    replace(replace(text, lit("&"), lit("&amp;")), lit("<"), lit("&lt;"))

  /** DNS hostname normalization: names are case-insensitive and a
    * trailing dot is the same FQDN, so lowercase + root-dot strip. ONE
    * definition shared by the denylist suffix chain (q215) and the URL
    * canonical key (q219) — if host rules ever change (IDN etc.) the two
    * dedup/filter paths must move together, never diverge.
    */
  def normalizeHost(host: Column): Column =
    regexp_replace(lower(host), "\\.$", "")

  /** The dot-suffix chain of a hostname — `a.b.c` → [a.b.c, b.c, c] —
    * the matching domain a deny/allow list entry governs at any depth
    * (blocking `example.org` must block `docs.example.org`). The host is
    * [[normalizeHost]]-ed FIRST — otherwise `Docs.Example.ORG` or
    * `docs.example.org.` would bypass a deny list. (Deny entries are the
    * caller's to lowercase; they are config, not data.) Pure builtin
    * composition, codegen'd.
    */
  def domainSuffixes(host: Column): Column = {
    val h = normalizeHost(host)
    val parts = split(h, "\\.")
    transform(sequence(lit(0), size(parts) - 1),
      i => array_join(slice(parts, i + 1, size(parts) - i), "."))
  }

  /** Crawl URL canonicalization as pure builtin composition (codegen'd,
    * no UDF, no parse_url dependence — the rules must be ours to pin, not
    * a library's): strip userinfo (RFC 3986 §3.2.1 — `user@ex.com` and
    * `ex.com` are the same page, and credentials must never become dedup
    * keys), lowercase scheme+host, strip `www.` and a root trailing dot
    * ([[normalizeHost]]), drop scheme-default ports (https:443 /
    * http:80), strip one trailing path slash (empty path → "/"), drop
    * `utm_*` and empty query params, sort the survivors, drop the
    * fragment. The query-string extraction is anchored at the FIRST '?'
    * and BEFORE the first '#' — a literal '?' inside the query is query
    * text (…/p?a=1?b=2 keeps `a=1?b=2`, legal per RFC 3986), and a '?'
    * inside a fragment is fragment text, never a query (…/p#a?b=1
    * canonicalizes to …/p). Bracketed IPv6 hosts keep their brackets as
    * the host token and are normalized to the RFC 5952 canonical text
    * form via the codegen'd [[graft.expressions.Ipv6Normalize]]
    * (`[0:0:0:0:0:0:0:1]` and `[::0:0:1]` become the same key `[::1]`;
    * a literal the normalizer does not understand — zone id, IPv4-mixed
    * form — passes through lowercased but otherwise unchanged). The q219
    * gate proves the composition against construction-time ground truth
    * and q263 proves the IPv6 leg the same way; adversarial shapes
    * (non-default port, all-utm query, repeated `&`, '?' in fragment AND
    * in query, userinfo, RFC 5952 tie/single-zero/edge-run cases) are
    * spec-pinned in WebCurationSpec.
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    // strip an optional userinfo prefix BEFORE the host/port split — a
    // '@' inside the authority can only introduce userinfo (RFC 3986)
    val hostport = regexp_replace(
      regexp_extract(url, "^[^:]+://([^/?#]+)", 1), "^[^@]*@", "")
    // a bracketed IPv6 literal is one host token (its colons are not a
    // port separator); otherwise host = everything before the first ':'
    val rawHost = when(hostport.startsWith("["),
      regexp_extract(hostport, "^(\\[[^\\]]*\\])", 1))
      .otherwise(regexp_extract(hostport, "^([^:]+)", 1))
    // bracketed literals take the RFC 5952 canonical form (after the
    // lowercase rule — 5952's own first requirement); names take the
    // host rules (trailing-dot strip + www. strip)
    val host = when(rawHost.startsWith("["),
      graft.expressions.Ipv6Normalize(lower(rawHost)))
      .otherwise(regexp_replace(normalizeHost(rawHost), "^www\\.", ""))
    val port = regexp_extract(hostport, "\\]?:([0-9]+)$", 1)
    val keepPort = port =!= "" &&
      !(scheme === "https" && port === "443") &&
      !(scheme === "http" && port === "80")
    val path0 = regexp_extract(url, "^[^:]+://[^/?#]+([^?#]*)", 1)
    val path = when(path0 === "" || path0 === "/", lit("/"))
      .otherwise(regexp_replace(path0, "/$", ""))
    // anchored at the FIRST '?' ([^?#]* cannot cross it) and never past
    // a '#' — a later '?' stays query TEXT, a '?' after '#' is fragment
    val qs = regexp_extract(url, "^[^?#]*\\?([^#]*)", 1)
    val params = filter(split(qs, "&"),
      p => p =!= "" && substring(p, 1, 4) =!= "utm_")
    val qcanon = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host,
      when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
      path,
      when(qcanon === "", lit("")).otherwise(concat(lit("?"), qcanon)))
  }

  /** Escape for embedding text as XML character data: `&`, `<` (the two
    * HTML-significant ones, via [[htmlEscape]]) AND `>` — XML forbids the
    * literal sequence `]]>` in character data, so a body containing it
    * would otherwise make the record ill-formed and silently break the
    * escape∘embed∘parse identity q216 pins. The parser decodes `&gt;`
    * back to `>`, so the identity holds for any text free of literal
    * control characters (which XML 1.0 cannot carry at all — the honest
    * boundary of text-in-XML, documented here rather than papered over).
    */
  def xmlEscape(text: Column): Column =
    replace(htmlEscape(text), lit(">"), lit("&gt;"))

  /** Content-defined chunking (the CDC/FastCDC shape, q223): a chunk
    * boundary falls after position i iff the 8-char window ending at i
    * hashes to 0 (mod 61) — boundaries are a pure function of LOCAL
    * content, so an edit re-cuts only the chunks it touches, while
    * fixed-width chunking would shift every chunk after the edit (the
    * property CDC storage dedup and corpus near-dup both rely on;
    * spec-pinned in SemanticCurationSpec). Expected chunk ≈ 61 chars.
    *
    * The window hash is a POLYNOMIAL over the code points — Horner with
    * base 131 over the 8 window chars, REDUCED mod 61 at every step so
    * the accumulator stays < 61·131 + maxCodepoint < 2^21 on ANY
    * Unicode input (an unreduced fold overflows BIGINT — and throws
    * under Spark's default ANSI mode — once 8 window codepoints exceed
    * ~14.6k, i.e. on ordinary CJK text; per-step reduction is congruent
    * to the end-reduced form, so ASCII boundaries are bit-identical).
    * This is the FastCDC/gear discipline: O(1) integer work per
    * position instead of a full digest (the per-position md5 this
    * replaced made q223 the slowest query in the suite, ~100× the
    * arithmetic cost, for zero extra dedup power — any well-mixing
    * content hash defines equally valid boundaries). The codepoint array
    * is computed ONCE per document and bound through a single-element
    * `transform` lambda, so the per-position work is 8 O(1) array
    * indexes — never a re-split. Exactly replayable in any engine with
    * codepoint-indexed substr/ascii + integer arithmetic (Spark 4's
    * split(text,"")/length/substring and DuckDB's substr/ascii are both
    * codepoint-consistent, astral chars included — verified, not
    * assumed). Empty text → empty array.
    */
  def cdcChunks(text: Column): Column =
    // native codegen'd kernel (graft.expressions.CdcChunks) since r9: the
    // previous filter/transform higher-order composition was semantically
    // identical but ran on the SHARED interpreted eval path (HOFs are
    // CodegenFallback), whose JIT state after a ~250-query session
    // sometimes degraded this — the suite's most arithmetic-dense query —
    // by 10× (measured 2.2 s vs a flat 22 s in otherwise-identical full
    // runs; stack-sampled to Remainder.eval/ArrayTransform.eval). One
    // tight primitive loop per document is immune to that and faster
    // outright.
    graft.expressions.CdcChunks(text)

  def tokenCount(text: Column): Column = size(tokens(text))

  def distinctTokenCount(text: Column): Column = size(array_distinct(tokens(text)))

  /** A 60-bit deterministic hash derived from md5 — reproducible in any
    * engine with an md5 function (the DuckDB oracle uses
    * `CAST('0x'||substr(md5(x),1,15) AS BIGINT)`), unlike xxhash64 whose
    * seed/algorithm is Spark-specific. 15 hex chars = 60 bits, always
    * non-negative, so cross-engine sign semantics never matter.
    * For throughput-critical paths that need no oracle, prefer
    * [[org.apache.spark.sql.functions.xxhash64]].
    */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  private val md5s = ThreadLocal.withInitial[java.security.MessageDigest](
    () => java.security.MessageDigest.getInstance("MD5"))

  /** [[md5Hash60]] of one string on the JVM, for the native kernels and
    * driver-side literal tables: the first 15 hex chars of md5 are bytes
    * 0..6 plus the HIGH nibble of byte 7 (two hex chars per byte,
    * big-endian within the string).
    */
  def md5Hash60Of(s: String): Long = {
    val d = md5s.get().digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) & 0xf0L) >> 4)
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercase text.
    * Collapsing runs of whitespace + trim + lower makes the fingerprint
    * robust to formatting-only edits; md5 keeps it 128-bit
    * collision-resistant for exact-dedup at corpus scale.
    */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")))

  /** Word n-gram shingles (distinct), the unit set for Jaccard similarity /
    * MinHash. Empty when the document has fewer than n tokens. Native
    * [[graft.expressions.WordShingles]] kernel since r9 (bit-identical to
    * the old array_distinct∘transform composition — LawsSpec pins it);
    * the coalesce preserves the old `when().otherwise(empty)` null law.
    */
  def wordShingles(text: Column, n: Int): Column =
    coalesce(graft.expressions.WordShingles(text, n, distinct = true, hashed = false),
      array().cast("array<string>"))

  /** Distinct 60-bit hashes of word n-gram shingles: hash each occurrence
    * first, dedup after (same set cardinality as
    * `wordShingles(...).map(md5Hash60)` — md5 collisions inside one
    * document are beyond negligible at 60 bits). Native fused kernel:
    * tokenize → shingle → md5-60 → first-occurrence dedup in one loop.
    */
  def wordShingleHashes(text: Column, n: Int): Column =
    coalesce(graft.expressions.WordShingles(text, n, distinct = true, hashed = true),
      array().cast("array<long>"))

  /** 60-bit hashes of EVERY word n-gram occurrence, in position order
    * (the positional form q125/q175/q176 posexplode) — fused native
    * replacement for `transform(wordShinglesAll(text, n), md5Hash60)`.
    */
  def wordShingleHashesAll(text: Column, n: Int): Column =
    coalesce(graft.expressions.WordShingles(text, n, distinct = false, hashed = true),
      array().cast("array<long>"))

  /** Word n-grams WITH duplicates (multiset form, for frequency counting —
    * [[wordShingles]] is the distinct/set form for similarity).
    */
  def wordShinglesAll(text: Column, n: Int): Column =
    coalesce(graft.expressions.WordShingles(text, n, distinct = false, hashed = false),
      array().cast("array<string>"))

  /** Adjacent token pairs as an array of (w1, w2) structs (multiset form —
    * every occurrence kept, for bigram frequency/context statistics à la
    * q121/q122). Empty when the document has fewer than 2 tokens; callers
    * explode it. One definition so bigram semantics cannot drift between
    * the corpus-statistics gates.
    */
  def bigramPairs(text: Column): Column = {
    val ws = tokens(text)
    when(size(ws) >= 2,
      transform(sequence(lit(1), size(ws) - 1), i =>
        struct(element_at(ws, i).as("w1"), element_at(ws, i + 1).as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
  }

  /** Exact Jaccard similarity of two string sets (int/int division — exact
    * and order-free in IEEE double on every engine).
    */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Quality-score feature block: char/token counts, mean token length,
    * stopword ratio, punctuation ratio. Ratios are int/int divisions —
    * deterministic across engines.
    */
  def qualityFeatures(text: Column, stopwords: Seq[String]): Seq[(String, Column)] = {
    val ws = tokens(text)
    val nTok = size(ws)
    val nChars = length(text)
    Seq(
      "n_chars" -> nChars.cast("long"),
      "n_tokens" -> nTok.cast("long"),
      "n_distinct_tokens" -> size(array_distinct(ws)).cast("long"),
      // single-space-joined text: chars minus separators, over token count
      "mean_token_len" -> ((nChars - (nTok - lit(1))).cast("double") / nTok),
      "stopword_ratio" ->
        (size(filter(ws, w => w.isin(stopwords.map(x => x: Any): _*))).cast("double") / nTok),
      "punct_ratio" ->
        (size(regexp_extract_all(text, lit("[.,;:!?]"), lit(0))).cast("double") / nChars))
  }

  val defaultStopwords: Seq[String] = Seq("the", "a", "to", "of")

  /** Language-ID heuristic: count marker-token hits per language, take the
    * argmax with a fixed precedence order (deterministic ties), "und" when
    * nothing matches. Marker lists are tiny and inlined into codegen —
    * this is the classic n-gram/stopword LID shape at map-side cost.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and"),
    "de" -> Seq("der", "die", "das", "und"),
    "es" -> Seq("el", "la", "de", "y"),
    "fr" -> Seq("le", "la", "et", "les"),
    "zh" -> Seq("的", "是", "了", "在"))

  def langScores(text: Column): Seq[(String, Column)] = {
    val ws = tokens(text)
    langMarkers.map { case (lang, markers) =>
      lang -> size(filter(ws, w => w.isin(markers.map(x => x: Any): _*))).cast("long")
    }
  }

  def langId(text: Column): Column = {
    val scores = langScores(text)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // fixed precedence: first language in declaration order wins ties
    scores.foldRight(lit("und")) { case ((lang, score), acc) =>
      when(score === best && score > 0, lit(lang)).otherwise(acc)
    }
  }
}
