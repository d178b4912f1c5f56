package graft.ingest

import java.util.Locale
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** robots.txt PARSING + URL ADMISSION — the gatekeeper pass of a web
  * crawl/curation pipeline (REP, RFC 9309): which fetched or frontier
  * URLs is the bot allowed to keep?
  *
  * Semantics implemented (the RFC 9309 / Google subset that decides real
  * corpora): user-agent GROUP selection (most-specific UA token match,
  * `*` fallback), `Allow`/`Disallow` path rules with `*` wildcards and
  * `$` end anchor, LONGEST-PATTERN-wins conflict resolution with Allow
  * winning exact ties, empty `Disallow:` = allow all, `Crawl-delay`
  * carried per group.
  *
  * Scale shape: robots bodies are a HOST-KEYED DIMENSION (one row per
  * host — millions, not billions) parsed ONCE into a rules table; the URL
  * fire-hose joins that table by host (broadcast at gate scale, co-hash
  * at 100 TB where the URL table is already host-bucketed for politeness)
  * and admission is a pure per-row function — no shuffle beyond the one
  * equi-join. Parsing is JVM string code in a typed map, the same
  * discipline as the WARC/tar parsers.
  */
object RobotsTxt {

  /** One admission rule: `allow`, raw `pattern`, and its specificity
    * (pattern length — the RFC longest-match key).
    */
  case class Rule(allow: Boolean, pattern: String)

  case class RobotsGroup(rules: Seq[Rule], crawlDelay: Option[Double])

  /** Parse one robots.txt body and select the group governing
    * `userAgent`: the group whose UA token is the LONGEST substring of
    * `userAgent` (case-insensitive); `*` matches any bot with specificity
    * 0; no matching group → everything allowed.
    */
  def selectGroup(body: String, userAgent: String): RobotsGroup = {
    val ua = userAgent.toLowerCase(Locale.ROOT)
    // group = consecutive User-agent lines + the rules until the next
    // User-agent line that starts a NEW group (per RFC: a rule line ends
    // the UA-collecting state)
    final case class G(agents: List[String], rules: List[Rule], delay: Option[Double])
    val groups = scala.collection.mutable.ListBuffer.empty[G]
    var cur: G = G(Nil, Nil, None)
    var collectingAgents = false
    def flush(): Unit = { if (cur.agents.nonEmpty) groups += cur; cur = G(Nil, Nil, None) }
    body.split("\n").foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val idx = line.indexOf(':')
      if (idx > 0) {
        val key = line.substring(0, idx).trim.toLowerCase(Locale.ROOT)
        val value = line.substring(idx + 1).trim
        key match {
          case "user-agent" =>
            if (!collectingAgents) { flush(); collectingAgents = true }
            cur = cur.copy(agents = value.toLowerCase(Locale.ROOT) :: cur.agents)
          case "allow" | "disallow" =>
            collectingAgents = false
            // empty Disallow means "allow all" — representable as no rule
            if (value.nonEmpty)
              cur = cur.copy(rules = Rule(key == "allow", value) :: cur.rules)
          case "crawl-delay" =>
            collectingAgents = false
            cur = cur.copy(delay = value.toDoubleOption.orElse(cur.delay))
          case _ => // non-group records (Sitemap, Host, …) neither end UA
          // collection nor split the group (RFC 9309 §2.2.2)
        }
      }
    }
    flush()
    val candidates = groups.toList.flatMap { g =>
      val best = g.agents.collect {
        case "*" => 0
        case tok if ua.contains(tok) => tok.length
      }
      if (best.isEmpty) None else Some((best.max, g))
    }
    if (candidates.isEmpty) RobotsGroup(Nil, None)
    else {
      val g = candidates.maxBy(_._1)._2
      RobotsGroup(g.rules.reverse, g.delay)
    }
  }

  /** Does `pattern` (with `*` wildcards, optional `$` anchor) match the
    * start of `path`? Greedy leftmost segment walk — linear in path
    * length; under `$` the LAST literal segment anchors at the end of the
    * path instead (the one case where leftmost-greedy is wrong).
    */
  private[ingest] def matches(pattern: String, path: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.dropRight(1) else pattern
    val segs = pat.split("\\*", -1)
    var pos = 0
    var i = 0
    while (i < segs.length) {
      val seg = segs(i)
      val lastAndAnchored = anchored && i == segs.length - 1
      if (i == 0) {
        if (!path.startsWith(seg)) return false
        pos = seg.length
        if (lastAndAnchored && pos != path.length) return false
      } else if (lastAndAnchored) {
        // '$': the final literal must END the path, at or after pos
        if (seg.isEmpty) return pos <= path.length
        if (!path.endsWith(seg) || path.length - seg.length < pos) return false
        pos = path.length
      } else {
        val at = path.indexOf(seg, pos)
        if (at < 0) return false
        pos = at + seg.length
      }
      i += 1
    }
    true
  }

  /** RFC longest-match admission for one path against a group. */
  def isAllowed(group: RobotsGroup, path: String): Boolean = {
    val hits = group.rules.filter(r => matches(r.pattern, path))
    if (hits.isEmpty) true
    else {
      // longest pattern wins; Allow wins exact-length ties
      val maxLen = hits.map(_.pattern.length).max
      hits.filter(_.pattern.length == maxLen).exists(_.allow)
    }
  }

  /** Admit `urls(hostCol, pathCol)` against the per-host robots
    * dimension: output is `(host, path, allowed, crawl_delay)`. One
    * equi-join on host (broadcast the parsed side — hosts are the small
    * dimension), then a typed map — nothing else shuffles.
    */
  def admit(urls: DataFrame, urlHostCol: String, pathCol: String,
            robots: DataFrame, hostCol: String, bodyCol: String,
            userAgent: String): DataFrame = {
    import urls.sparkSession.implicits._
    val grouped = robots.select(col(hostCol).as("host"), col(bodyCol).as("body"))
      .as[(String, String)]
      .map { case (host, body) =>
        val g = selectGroup(body, userAgent)
        (host, g.rules.map(r => (r.allow, r.pattern)), g.crawlDelay.getOrElse(0.0))
      }
      .toDF("host", "rules", "crawl_delay")
    urls.select(col(urlHostCol).as("host"), col(pathCol).as("path"))
      .join(broadcast(grouped), Seq("host"), "left")
      .select(col("host"), col("path"), col("rules"),
        coalesce(col("crawl_delay"), lit(0.0)).as("crawl_delay"))
      .as[(String, String, Seq[(Boolean, String)], Double)]
      .map { case (host, path, rules, delay) =>
        val g = RobotsGroup(Option(rules).getOrElse(Nil).map(t => Rule(t._1, t._2)), None)
        (host, path, isAllowed(g, path), delay)
      }
      .toDF("host", "path", "allowed", "crawl_delay")
  }
}
