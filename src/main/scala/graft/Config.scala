package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** INI-style application config — the engine-relevant slice of the
  * reference's AppConfig (`/root/reference/lib/maillogsentinel/config.py:
  * 61-169`): sectioned key=value files, every accessor falling back to a
  * default on absent file, absent key, or unparseable value (the
  * reference logs-and-defaults rather than failing, config.py behavior
  * pinned by tests/test_config.py:24-366).
  */
object Config {

  final case class AppConfig(sections: Map[String, Map[String, String]]) {

    def get(section: String, key: String, default: String): String =
      sections.getOrElse(section, Map.empty).getOrElse(key, default)

    def getInt(section: String, key: String, default: Int): Int =
      sections.getOrElse(section, Map.empty).get(key)
        .flatMap(_.trim.toIntOption).getOrElse(default)

    def getLong(section: String, key: String, default: Long): Long =
      sections.getOrElse(section, Map.empty).get(key)
        .flatMap(_.trim.toLongOption).getOrElse(default)

    def getBoolean(section: String, key: String, default: Boolean): Boolean =
      sections.getOrElse(section, Map.empty).get(key)
        .map(_.trim.toLowerCase) match {
        case Some(v) if Set("true", "1", "yes", "on").contains(v)  => true
        case Some(v) if Set("false", "0", "no", "off").contains(v) => false
        case _ => default
      }

    // --- typed views with the reference's defaults ---

    /** [dns_cache] size/ttl (config.py:36-40 defaults). */
    def dnsCacheSize: Int = getInt("dns_cache", "size", 128)
    def dnsCacheTtl: Long = getLong("dns_cache", "ttl", 3600L)

    /** [report] recipient — empty means "refuse to send"
      * (report.py:250-261). */
    def reportRecipient: String = get("report", "email", "")

    /** [paths] working/state dirs. */
    def stateDir(default: String): String = get("paths", "state_dir", default)
  }

  val empty: AppConfig = AppConfig(Map.empty)

  /** Parse an INI file; absent file ⇒ empty config (all defaults).
    * Tolerates comments (#/;), blank lines, keys outside a section
    * (collected under ""), and malformed lines (skipped). */
  def load(path: Path): AppConfig = {
    if (!Files.exists(path)) return empty
    var section = ""
    val acc = scala.collection.mutable.Map
      .empty[String, scala.collection.mutable.Map[String, String]]
    Files.readAllLines(path, StandardCharsets.UTF_8).asScala.foreach { raw =>
      val line = raw.trim
      if (line.nonEmpty && !line.startsWith("#") && !line.startsWith(";")) {
        if (line.startsWith("[") && line.endsWith("]")) {
          section = line.substring(1, line.length - 1).trim
        } else {
          val eq = line.indexOf('=')
          if (eq > 0) {
            val k = line.substring(0, eq).trim
            val v = line.substring(eq + 1).trim
            acc.getOrElseUpdate(section,
              scala.collection.mutable.Map.empty).update(k, v)
          } // malformed line: skipped, like the reference's fallback path
        }
      }
    }
    AppConfig(acc.map { case (s, m) => s -> m.toMap }.toMap)
  }
}
