package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.IpFunctions

/** Event enrichment: GeoIP/ASN range lookups + reverse-DNS lookup.
  *
  * Geo path (the reference's `bin/ipinfo.py:217-238,309-339`): one
  * binary search per dimension over a broadcast sorted table
  * ([[RangeJoin.lookup]]), built once per session and dim-file identity,
  * misses defaulting to the stringly "N/A" sentinel — which must stay a
  * plain string through the analytics path (it ranks in top-k reports;
  * SURVEY §7.4.6).
  *
  * rDNS path (`/root/reference/lib/maillogsentinel/dns_utils.py`): a
  * side-effecting network lookup — necessarily a UDF, marked
  * nondeterministic (retries/speculation may re-execute it), backed by a
  * per-executor TTL cache mirroring the reference's LRU(128)/TTL(3600)
  * (dns_utils.py:92-106,147-162). The resolver is injectable, as the
  * reference's tests mock it everywhere (test_parser.py:81-85).
  */
object Enrich {

  /** Country dim schema: lo, hi, country_code (ipinfo.py:149-172).
    * ASN dim schema: lo, hi, asn, aso (ipinfo.py:173-190). A dim read
    * from files is re-read only when a file's identity changes; a refresh
    * is then seen by the next call (and by the held dim frame). */
  def withGeo(events: DataFrame, country: DataFrame, asn: DataFrame,
              ipCol: String = "ip"): DataFrame =
    RangeJoin.lookup(
        events.withColumn("ip_int", IpFunctions.ipToInt(col(ipCol))),
        col("ip_int"),
        country.select(col("lo"), col("hi"), col("country_code")),
        asn.select(col("lo"), col("hi"), col("asn"), col("aso")))
      .drop("ip_int")
      .withColumn("country_code", coalesce(col("country_code"), lit("N/A")))
      .withColumn("asn", coalesce(col("asn").cast("string"), lit("N/A")))
      .withColumn("aso", coalesce(col("aso"), lit("N/A")))

  /** Geo columns when no databases are configured — the reference emits
    * the same sentinels when managers are absent (log_utils.py:115-123). */
  def withGeoDefaults(events: DataFrame): DataFrame =
    events
      .withColumn("country_code", lit("N/A"))
      .withColumn("asn", lit("N/A"))
      .withColumn("aso", lit("N/A"))

  /** Resolver contract: ip → Right(hostname) | Left(status string from the
    * reference taxonomy: "ERRNO <n>" | "Timeout" | "Failed (Unknown)"
    * (dns_utils.py:40-50)). Must be Serializable (ships to executors). */
  type Resolver = String => Either[String, String]

  /** JVM resolver via InetAddress; errors mapped onto the reference
    * taxonomy. UNBOUNDED: `getCanonicalHostName` never throws
    * SocketTimeoutException — a hung PTR lookup blocks the calling task
    * indefinitely. Production callers should wrap with [[bounded]]
    * (mirroring the reference's socket-timeout semantics,
    * dns_utils.py:21-50) — see [[boundedInetResolver]]. */
  val inetResolver: Resolver = { ip =>
    try {
      val addr = java.net.InetAddress.getByName(ip)
      val host = addr.getCanonicalHostName
      if (host == ip) Left("ERRNO 1") // no PTR record resolved
      else Right(host)
    } catch {
      case _: java.net.UnknownHostException => Left("ERRNO 1")
      case _: java.net.SocketTimeoutException => Left("Timeout")
      case scala.util.control.NonFatal(_) => Left("Failed (Unknown)")
    }
  }

  /** Deadline wrapper: runs `resolver` on a daemon worker and returns
    * `Left("Timeout")` if no answer arrives within `timeoutMs` — making
    * the reference's "Timeout" taxonomy branch (dns_utils.py:40-50,
    * socket.timeout) actually reachable on the JVM, where the stock
    * InetAddress API exposes no per-call deadline. A timed-out lookup's
    * thread keeps running until the OS resolver gives up (same as an
    * abandoned socket in the reference); the pool is daemon + cached so
    * stragglers never block JVM exit and threads are reused. */
  def bounded(resolver: Resolver, timeoutMs: Long): Resolver = { ip =>
    val task = new java.util.concurrent.FutureTask(
      new java.util.concurrent.Callable[Either[String, String]] {
        def call(): Either[String, String] = resolver(ip)
      })
    DaemonPool.executor.execute(task)
    try task.get(timeoutMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    catch {
      case _: java.util.concurrent.TimeoutException =>
        task.cancel(true)
        Left("Timeout")
      case _: InterruptedException =>
        Thread.currentThread().interrupt()
        Left("Timeout")
      case scala.util.control.NonFatal(_) => Left("Failed (Unknown)")
    }
  }

  /** The production default: [[inetResolver]] with a deadline (5 s,
    * matching the reference's dns lookup timeout default). */
  def boundedInetResolver(timeoutMs: Long = 5000L): Resolver =
    bounded(inetResolver, timeoutMs)

  /** Adds hostname + reverse_dns_status via the cached, nondeterministic
    * UDF. Hostname is the literal "null" on failure (log_utils.py:105-113).
    * Cost note: the cache makes repeated IPs cheap within an executor; for
    * high-cardinality IP streams prefer `dedupThenResolve` below. */
  def withRdns(events: DataFrame, resolver: Resolver,
               cacheSize: Int = 128, ttlSeconds: Long = 3600,
               ipCol: String = "ip"): DataFrame = {
    val look = udf { ip: String =>
      val (h, s) = RdnsCache.lookup(ip, resolver, cacheSize, ttlSeconds)
      (h, s)
    }.asNondeterministic()
    events
      .withColumn("_r", look(col(ipCol)))
      .withColumn("hostname", col("_r._1"))
      .withColumn("reverse_dns_status", col("_r._2"))
      .drop("_r")
  }

  /** The 100-TB shape for rDNS: resolve each distinct IP once (one small
    * shuffle of the distinct set), then broadcast-join results back —
    * turning O(rows) network calls into O(distinct ips). The reference
    * gets a weaker version of this from cache hits (SURVEY §4). */
  def dedupThenResolve(events: DataFrame, resolver: Resolver,
                       ipCol: String = "ip"): DataFrame = {
    val distinctIps = events.select(col(ipCol)).distinct()
    val resolved = withRdns(distinctIps, resolver, ipCol = ipCol)
    events.join(broadcast(resolved), Seq(ipCol), "left")
  }
}

/** Daemon worker pool backing [[Enrich.bounded]] (executor-JVM-local,
  * shared across tasks like RdnsCache) and the driver-side table builds of
  * [[RangeJoin.lookup]]. Cached pool: idle threads are reclaimed after
  * 60 s, bursts grow it as needed. */
private[operators] object DaemonPool {
  val executor: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-worker-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
}

/** Executor-local rDNS cache: true LRU (access-ordered) + TTL, bounded,
  * thread-safe. Lives in the executor JVM as object state (one instance
  * per executor, shared across tasks — exactly the locality the
  * reference's process-wide lru_cache(128) has, dns_utils.py:92-100).
  * The resolver runs OUTSIDE the lock — a slow DNS call must not block
  * sibling tasks; concurrent duplicate resolutions of the same IP are
  * benign (idempotent value). */
object RdnsCache {
  private val lock = new Object
  private val cache =
    new java.util.LinkedHashMap[String, (String, String, Long)](
      16, 0.75f, /*accessOrder=*/ true)

  def lookup(ip: String, resolver: Enrich.Resolver,
             maxSize: Int, ttlSeconds: Long): (String, String) = {
    val now = System.currentTimeMillis() / 1000
    val hit = lock.synchronized {
      val v = cache.get(ip) // get() refreshes LRU order
      if (v != null && now - v._3 < ttlSeconds) Some((v._1, v._2)) else None
    }
    hit.getOrElse {
      val (h, s) = resolver(ip) match {
        case Right(host) => (host, "OK")
        case Left(err)   => ("null", err) // literal "null": log_utils.py:105-113
      }
      lock.synchronized {
        while (cache.size >= maxSize) {
          val it = cache.keySet.iterator()
          if (it.hasNext) { it.next(); it.remove() } // eldest-by-access
        }
        cache.put(ip, (h, s, now))
      }
      (h, s)
    }
  }

  def clear(): Unit = lock.synchronized(cache.clear())
  def size: Int = lock.synchronized(cache.size)
}
