package graft.fetch

import java.util.concurrent.ConcurrentHashMap
import java.util.Locale

/** Minimal robots.txt semantics (`core/.../protocol/RobotsRulesParser
  * .java:44`, `HttpRobotRulesParser.java:38`): user-agent groups,
  * longest-prefix-match Allow/Disallow, Crawl-delay; cached per
  * `scheme://host:port` with a TTL (reference: Caffeine
  * maximumSize=10000, expireAfterWrite=6h, `crawler-default.yaml:
  * 166-167`). Executor-local cache — robots lookups never cross the
  * network twice per host per TTL.
  */
final case class RobotRules(
    allows: Seq[String], disallows: Seq[String], crawlDelayMs: Option[Long],
    /** `Sitemap:` directives — global per RFC 9309, not group-scoped
      * (`FetcherBolt.java:557` reads them for autodiscovery). */
    sitemaps: Seq[String] = Nil) {

  /** Longest-match wins; Allow beats Disallow on equal length (Google
    * semantics). Empty Disallow = allow all. */
  def isAllowed(path: String): Boolean = {
    val a = allows.filter(path.startsWith).map(_.length).maxOption.getOrElse(-1)
    val d = disallows.filter(p => p.nonEmpty && path.startsWith(p)).map(_.length).maxOption.getOrElse(-1)
    a >= d
  }
}

object RobotsCache {
  private val jvmCache = new ConcurrentHashMap[String, (Long, RobotRules)]()
  /** Test hook: drop all cached rules in this JVM. */
  def clearForTesting(): Unit = jvmCache.clear()
}

object RobotRules {
  val allowAll: RobotRules = RobotRules(Nil, Nil, None)

  /** Parse robots.txt for a given agent: the group matching the agent
    * name (substring, case-insensitive) or `*`. */
  def parse(content: String, agent: String): RobotRules = {
    var inMatchingGroup = false
    var sawSpecific = false
    var groupIsSpecific = false
    var allows = Vector.empty[String]
    var disallows = Vector.empty[String]
    var delay: Option[Long] = None
    var sitemaps = Vector.empty[String]
    var lastWasAgent = false
    val agentLc = agent.toLowerCase(Locale.ROOT)

    for (raw <- content.linesIterator) {
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val field = line.substring(0, colon).trim.toLowerCase(Locale.ROOT)
        val value = line.substring(colon + 1).trim
        field match {
          case "user-agent" =>
            val matches = value == "*" || agentLc.contains(value.toLowerCase(Locale.ROOT))
            val specific = value != "*"
            if (!lastWasAgent) { // new group starts
              inMatchingGroup = matches
              groupIsSpecific = specific && matches
            } else { // additional agent line in same group
              if (matches) { inMatchingGroup = true; groupIsSpecific ||= specific }
            }
            // a specific group overrides any previously-collected * group
            if (matches && specific && !sawSpecific) {
              sawSpecific = true; allows = Vector.empty; disallows = Vector.empty; delay = None
            }
            lastWasAgent = true
          case "allow" if inMatchingGroup && (groupIsSpecific || !sawSpecific) =>
            if (value.nonEmpty) allows :+= value
            lastWasAgent = false
          case "disallow" if inMatchingGroup && (groupIsSpecific || !sawSpecific) =>
            disallows :+= value
            lastWasAgent = false
          case "crawl-delay" if inMatchingGroup && (groupIsSpecific || !sawSpecific) =>
            delay = value.toDoubleOption.map(d => (d * 1000).toLong)
            lastWasAgent = false
          case "sitemap" => // group-independent
            if (value.nonEmpty) sitemaps :+= value
            lastWasAgent = false
          case _ =>
            lastWasAgent = false
        }
      } else if (line.isEmpty) lastWasAgent = false
    }
    RobotRules(allows, disallows.filter(_.nonEmpty), delay, sitemaps.distinct)
  }
}

/** Executor-local TTL cache of robots rules per host, fetched through
  * the given protocol factory. The backing map is a JVM singleton
  * (companion object): RobotsCache instances are captured in task
  * closures and deserialized per task, so an instance-held map would
  * start empty on every micro-batch and re-fetch robots.txt for every
  * host on every trigger — the shared map is what makes the 6 h TTL
  * real across batches. Entries are keyed by (host, agent) so caches
  * configured for different agents don't cross-talk. */
final class RobotsCache(protocols: ProtocolFactory,
                        ttlMs: Long = 6L * 3600 * 1000,
                        errorTtlMs: Long = 3600 * 1000,
                        agent: String = "graft-crawler") extends Serializable {

  private def cache = RobotsCache.jvmCache

  private def hostKey(url: String): Option[String] = {
    val i = url.indexOf("://")
    if (i <= 0) None
    else {
      val rest = url.substring(i + 3)
      val end = rest.indexWhere(c => c == '/' || c == '?' || c == '#')
      Some(url.substring(0, i + 3) + (if (end < 0) rest else rest.substring(0, end)))
    }
  }

  /** Rules + whether they came from the cache — autodiscovery emits a
    * host's sitemaps only on a fresh robots fetch
    * (`FetcherBolt.java:537-539`: "if the robot file did not come from
    * the cache, to avoid sending them unnecessarily"). */
  def rulesForCached(url: String): (RobotRules, Boolean) = hostKey(url) match {
    case None => (RobotRules.allowAll, true)
    case Some(hk) =>
      val nowMs = System.currentTimeMillis()
      val key = s"$hk|$agent"
      val cached = cache.get(key)
      if (cached != null && cached._1 > nowMs) (cached._2, true)
      else {
        val resp = protocols.fetch(s"$hk/robots.txt", Map.empty)
        val (rules, ttl) = resp.statusCode match {
          case 200 => (RobotRules.parse(new String(resp.content, "UTF-8"), agent), ttlMs)
          case 403 | 401 => (RobotRules(Nil, Seq("/"), None), ttlMs) // deny-all like 403 policy
          case c if c >= 500 || c < 0 => (RobotRules.allowAll, errorTtlMs)
          case _ => (RobotRules.allowAll, ttlMs) // 404: allow all
        }
        cache.put(key, (nowMs + ttl, rules))
        (rules, false)
      }
  }
}
