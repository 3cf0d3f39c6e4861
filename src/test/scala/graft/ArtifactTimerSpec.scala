package graft

import org.scalatest.funsuite.AnyFunSuite

/** Focused pins for the r13 bench-accounting seam: ArtifactTimer wraps
  * every Shared* getter's build expression, so it must (a) pass the
  * build value through unchanged, (b) accumulate repeated builds under
  * one name (parameterised getters), (c) reset on clear and (d) charge
  * a parent only its own seconds, not its child builds' — the
  * properties Bench.scala's "artifacts" JSON field relies on. */
class ArtifactTimerSpec extends AnyFunSuite {

  test("timed passes the build value through and records a duration") {
    ArtifactTimer.clear()
    val r = ArtifactTimer.timed("spec.one") { 42 }
    assert(r == 42)
    val snap = ArtifactTimer.snapshot
    assert(snap.contains("spec.one"))
    assert(snap("spec.one") >= 0.0)
  }

  test("repeated builds under one name accumulate, not overwrite") {
    ArtifactTimer.clear()
    ArtifactTimer.timed("spec.acc") { Thread.sleep(5); 1 }
    val t1 = ArtifactTimer.snapshot("spec.acc")
    ArtifactTimer.timed("spec.acc") { Thread.sleep(5); 2 }
    val t2 = ArtifactTimer.snapshot("spec.acc")
    assert(t2 > t1, s"expected accumulation, got $t1 -> $t2")
  }

  test("clear empties the ledger (Bench's per-run reset)") {
    ArtifactTimer.timed("spec.gone") { 0 }
    ArtifactTimer.clear()
    assert(ArtifactTimer.snapshot.isEmpty)
  }

  test("a throwing build records nothing and propagates") {
    ArtifactTimer.clear()
    intercept[RuntimeException] {
      ArtifactTimer.timed("spec.boom") {
        throw new RuntimeException("build failed")
      }
    }
    assert(!ArtifactTimer.snapshot.contains("spec.boom"))
  }

  test("a parent's entry excludes the child builds it triggers") {
    ArtifactTimer.clear()
    val r = ArtifactTimer.timed("spec.parent") {
      val c = ArtifactTimer.timed("spec.child") { Thread.sleep(500); 1 }
      Thread.sleep(20)
      c + 1
    }
    assert(r == 2)
    val snap = ArtifactTimer.snapshot
    assert(snap("spec.child") >= 0.5)
    assert(snap("spec.parent") >= 0.02)
    assert(snap("spec.parent") < 0.4,
      s"parent charged its child's build: ${snap("spec.parent")} s")
  }
}
