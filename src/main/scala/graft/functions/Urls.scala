package graft.functions

import java.net.{IDN, URI, URL}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.util.Locale

/** Pure-Scala URL utilities — the scalar-function layer of the engine.
  *
  * Semantics follow the reference's normalizer/partitioner:
  *  - `BasicURLNormalizer` (`core/.../filtering/basic/BasicURLNormalizer
  *    .java:46-…`): strip fragment, lowercase scheme+host, IDN→ASCII,
  *    remove default port, RFC-3986 percent-escape normalization, remove
  *    configured query params, resolve path dot-segments.
  *  - `URLPartitioner` (`core/.../util/URLPartitioner.java:44-93`): key =
  *    host | paid-level domain | IP (with `ip` metadata shortcut).
  *  - sha256 URL ids (`AbstractStatusUpdaterBolt.java:251-253`).
  *
  * Pure functions so they unit-test without Spark and register cleanly as
  * UDFs; hot ones also have SQL-expressible equivalents used by the
  * DuckDB oracles.
  */
object Urls {

  /** Characters that must stay escaped in a URL path/query (subset of
    * RFC 3986 reserved+unsafe, cf. BasicURLNormalizer's escape table
    * lines 60-84). */
  private val unescapedOk: Set[Char] =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).toSet ++ "-_.~!$&'()*+,;=:@/".toSet

  /** Only RFC-3986 unreserved characters may be DECODED from %XX form —
    * decoding a reserved char (e.g. %2F -> '/') would change which path
    * segment boundaries exist. */
  private val unreserved: Set[Char] =
    (('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9')).toSet ++ "-_.~".toSet

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Normalize percent-escapes in a path/query: decode escapes of
    * unreserved chars, uppercase hex of the rest, escape raw chars that
    * must be escaped (space, quotes, <>, etc.). */
  private[functions] def normalizeEscapes(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length && hexVal(s.charAt(i + 1)) >= 0 && hexVal(s.charAt(i + 2)) >= 0) {
        val v = hexVal(s.charAt(i + 1)) * 16 + hexVal(s.charAt(i + 2))
        val ch = v.toChar
        if (v < 128 && unreserved.contains(ch)) sb.append(ch)
        else sb.append('%').append(f"$v%02X")
        i += 3
      } else if (c > 127 || !unescapedOk.contains(c)) {
        if (c == '%') { sb.append('%'); i += 1 } // lone '%' kept
        else {
          for (b <- c.toString.getBytes(StandardCharsets.UTF_8))
            sb.append('%').append(f"${b & 0xff}%02X")
          i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Remove path dot-segments per RFC 3986 §5.2.4. */
  private[functions] def removeDotSegments(path: String): String = {
    if (path.isEmpty) return path
    val out = new scala.collection.mutable.ArrayBuffer[String]
    val trailingSlash = path.endsWith("/") || path.endsWith("/.") || path.endsWith("/..")
    for (seg <- path.split("/", -1) if seg.nonEmpty) seg match {
      case "."  => // skip
      case ".." => if (out.nonEmpty) out.remove(out.length - 1)
      case s    => out += s
    }
    val abs = path.startsWith("/")
    val body = out.mkString("/")
    val r = (if (abs) "/" else "") + body + (if (trailingSlash && body.nonEmpty) "/" else "")
    if (r.isEmpty) { if (abs) "/" else path } else r
  }

  /** Query params dropped by default (session-id noise), mirroring the
    * reference's configurable `queryElementsToRemove`
    * (test fixture `basicurlnormalizer.json`). */
  val defaultRemovedParams: Set[String] = Set("sid", "phpsessid", "sessionid", "jsessionid")

  /** BasicURLNormalizer.filter — returns None when the URL is
    * irreparably malformed (reference returns null => drop). */
  def normalize(urlRaw: String, removeParams: Set[String] = defaultRemovedParams): Option[String] = {
    if (urlRaw == null) return None
    var url = urlRaw.trim
    if (url.isEmpty) return None
    // strip fragment first (BasicURLNormalizer.java:93-…)
    val hash = url.indexOf('#')
    if (hash >= 0) url = url.substring(0, hash)
    if (url.isEmpty) return None
    val schemeEnd = url.indexOf("://")
    if (schemeEnd <= 0) return None
    val scheme = url.substring(0, schemeEnd).toLowerCase(Locale.ROOT)
    if (scheme != "http" && scheme != "https" && scheme != "file" && scheme != "ftp") return None
    val rest = url.substring(schemeEnd + 3)
    val pathStart = {
      val i = rest.indexWhere(c => c == '/' || c == '?')
      if (i < 0) rest.length else i
    }
    var authority = rest.substring(0, pathStart)
    var pathQuery = rest.substring(pathStart)
    if (authority.isEmpty && scheme != "file") return None
    // userinfo kept verbatim; host lowercased + IDN→ASCII; default port dropped
    val (userinfo, hostPort) = {
      val at = authority.lastIndexOf('@')
      if (at >= 0) (authority.substring(0, at + 1), authority.substring(at + 1)) else ("", authority)
    }
    val (hostRaw, port) = {
      val colon = hostPort.lastIndexOf(':')
      val bracket = hostPort.lastIndexOf(']') // IPv6 literal
      val digits = if (colon >= 0) hostPort.substring(colon + 1) else ""
      // toIntOption: an oversized all-digit "port" must degrade to
      // malformed-URL handling, not throw out of the filter chain
      if (colon > bracket && colon >= 0 && digits.nonEmpty && digits.forall(_.isDigit))
        digits.toIntOption match {
          case Some(pn) if pn <= 65535 => (hostPort.substring(0, colon), pn)
          case _ => return None // nonsense port: malformed URL
        }
      else (hostPort, -1)
    }
    var host = hostRaw.toLowerCase(Locale.ROOT)
    if (host.endsWith(".")) host = host.dropRight(1)
    host =
      try IDN.toASCII(host)
      catch { case _: Exception => host }
    val defaultPort = scheme match {
      case "http" => 80; case "https" => 443; case "ftp" => 21; case _ => -1
    }
    val portPart = if (port < 0 || port == defaultPort) "" else s":$port"
    authority = userinfo + host + portPart
    // split path / query
    val qIdx = pathQuery.indexOf('?')
    var (path, query) =
      if (qIdx >= 0) (pathQuery.substring(0, qIdx), pathQuery.substring(qIdx + 1))
      else (pathQuery, null: String)
    if (path.isEmpty) path = "/"
    path = normalizeEscapes(removeDotSegments(path))
    if (query != null) {
      val kept = query.split("&", -1).filter { p =>
        val k = p.takeWhile(_ != '=').toLowerCase(Locale.ROOT)
        p.nonEmpty && !removeParams.contains(k)
      }
      query = if (kept.isEmpty) null else kept.map(normalizeEscapes).mkString("&")
    }
    val res = scheme + "://" + authority + path + (if (query != null) "?" + query else "")
    Some(res)
  }

  /** Resolve a possibly-relative link against a base URL (outlink
    * resolution in `JSoupParserBolt.java:253-318`). */
  def resolve(base: String, rel: String): Option[String] = {
    if (rel == null) return None
    val r = rel.trim
    if (r.isEmpty) return None
    val lower = r.toLowerCase(Locale.ROOT)
    if (lower.startsWith("javascript:") || lower.startsWith("mailto:") || lower.startsWith("data:") ||
        lower.startsWith("tel:") || lower.startsWith("about:")) return None
    try {
      val resolved = new URL(new URL(base), r).toExternalForm
      // java.net.URL renders empty-authority file URLs as "file:/x";
      // canonicalize back to the "file:///x" form our normalizer expects
      if (resolved.startsWith("file:") && !resolved.startsWith("file://"))
        Some("file://" + resolved.substring(5))
      else Some(resolved)
    } catch { case _: Exception => None }
  }

  def host(url: String): Option[String] =
    try {
      val u = new URI(url)
      Option(u.getHost).map(_.toLowerCase(Locale.ROOT))
    } catch {
      case _: Exception =>
        // manual parse fallback for URLs URI rejects
        val i = url.indexOf("://")
        if (i <= 0) None
        else {
          val rest = url.substring(i + 3)
          val end = rest.indexWhere(c => c == '/' || c == '?' || c == '#')
          val auth = if (end < 0) rest else rest.substring(0, end)
          val at = auth.lastIndexOf('@')
          val hp = if (at >= 0) auth.substring(at + 1) else auth
          val colon = hp.lastIndexOf(':')
          val h = if (colon >= 0 && hp.substring(colon + 1).forall(_.isDigit)) hp.substring(0, colon) else hp
          if (h.isEmpty) None else Some(h.toLowerCase(Locale.ROOT))
        }
    }

  /** Multi-label public suffixes we special-case (tiny stand-in for the
    * public-suffix list used by crawler-commons' EffectiveTldFinder). */
  private val twoLevelSuffixes: Set[String] = Set(
    "co.uk", "org.uk", "ac.uk", "gov.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "com.br", "com.cn", "com.mx", "co.in",
    "co.nz", "com.sg", "com.tr", "co.za", "com.ar", "com.hk")

  /** Stable, ordered view of [[twoLevelSuffixes]] for column expressions. */
  val twoLevelSuffixList: Seq[String] = twoLevelSuffixes.toSeq.sorted

  /** Paid-level ("registered") domain of a host. */
  def paidLevelDomain(h: String): String = {
    val labels = h.split('.')
    if (labels.length <= 2) h
    else {
      val lastTwo = labels.takeRight(2).mkString(".")
      if (twoLevelSuffixes.contains(lastTwo)) labels.takeRight(3).mkString(".")
      else lastTwo
    }
  }

  private def isIpV4(h: String): Boolean = {
    val parts = h.split('.')
    // length cap BEFORE toInt: an 11-digit label would overflow
    parts.length == 4 && parts.forall(p =>
      p.nonEmpty && p.length <= 3 && p.forall(_.isDigit) && p.toInt <= 255)
  }

  /** URLPartitioner.getPartition (`core/.../util/URLPartitioner.java:44-93`):
    * mode ∈ {byHost, byDomain, byIP}. For byIP we use the `ip` metadata
    * shortcut if given, else fall back to the host literal (no DNS on the
    * hot path — DNS-at-partition-time does not scale to 100 TB). */
  def partitionKey(url: String, mode: String, ipMeta: Option[String] = None): Option[String] =
    host(url).map { h =>
      mode match {
        case "byDomain"           => if (isIpV4(h)) h else paidLevelDomain(h)
        case "byIP"               => ipMeta.getOrElse(h)
        case _                    => h // byHost default
      }
    }

  private val hexDigits = "0123456789abcdef".toCharArray

  private def digestHex(algo: String, s: String): String = {
    val d = MessageDigest.getInstance(algo).digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(i * 2) = hexDigits((d(i) >> 4) & 0xf)
      out(i * 2 + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Page signature md5 (`MD5SignatureParseFilter.java:48`). */
  def md5Hex(s: String): String = digestHex("MD5", s)
}
