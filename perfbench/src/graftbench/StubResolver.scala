package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport

import org.apache.spark.TaskContext

import graft.operators.Enrich

/** Deterministic rDNS stand-in for `Enrich.Resolver`: never touches the
  * network, costs a fixed 0.5 ms per call and counts its calls. An IP whose
  * FNV-1a hash is divisible by five fails with `ERRNO 1`; every other IP
  * resolves to `host-a-b-c-d.pool.example.net`. `gen.stub_resolve` is the
  * Python twin the oracle uses. Counters are JVM-wide, which on `local[n]`
  * covers every task thread. */
object StubResolver {
  val CostNanos: Long = 500000L

  val calls = new AtomicLong()
  val waitNanos = new AtomicLong()
  val tasks: java.util.Set[java.lang.Long] = ConcurrentHashMap.newKeySet()

  def fnv1a32(s: String): Long = {
    var h = 0x811C9DC5L
    s.getBytes("UTF-8").foreach { b =>
      h = ((h ^ (b & 0xFF)) * 0x01000193L) & 0xFFFFFFFFL
    }
    h
  }

  def answer(ip: String): Either[String, String] =
    if (fnv1a32(ip) % 5 == 0) Left("ERRNO 1")
    else Right("host-" + ip.replace('.', '-') + ".pool.example.net")

  val resolver: Enrich.Resolver = { ip =>
    val t0 = System.nanoTime()
    val deadline = t0 + CostNanos
    var now = t0
    while (now < deadline) {
      LockSupport.parkNanos(deadline - now)
      now = System.nanoTime()
    }
    calls.incrementAndGet()
    waitNanos.addAndGet(now - t0)
    val tc = TaskContext.get()
    if (tc != null) tasks.add(tc.taskAttemptId())
    answer(ip)
  }

  def reset(): Unit = {
    calls.set(0); waitNanos.set(0); tasks.clear()
  }
}
