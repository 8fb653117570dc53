package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a function of the seed alone. */
class TrafficSpec extends AnyFunSuite {

  test("the same seed gives byte-identical request bodies and headers") {
    Seq(Traffic.trickle, Traffic.backlog).foreach { shape =>
      val a = (0 until 6).map(Traffic.request(42L, _, shape))
      val b = (0 until 6).map(Traffic.request(42L, _, shape))
      a.zip(b).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(x.body, y.body))
        assert((x.requestId, x.accessKey, x.gzipBody) == ((y.requestId, y.accessKey, y.gzipBody)))
      }
    }
  }

  test("request k does not depend on the requests generated before it") {
    val alone = Traffic.request(7L, 5, Traffic.trickle)
    val inStream = (0 to 5).map(Traffic.request(7L, _, Traffic.trickle)).last
    assert(java.util.Arrays.equals(alone.body, inStream.body))
  }

  test("another seed gives other bodies") {
    assert(!java.util.Arrays.equals(Traffic.request(1L, 0, Traffic.trickle).body,
      Traffic.request(2L, 0, Traffic.trickle).body))
  }

  test("every request carries a valid record and the mix has every kind") {
    val reqs = (0 until 200).map(Traffic.request(3L, _, Traffic.trickle))
    assert(reqs.forall(_.docs > 0))
    val kinds = reqs.flatMap(_.records).map(_.kind).toSet
    assert(kinds == Set("axway", "json", "text", "bad_gzip", "non_envelope", "empty_events"))
    val axway = reqs.flatMap(_.records).flatMap(_.events).flatMap(_.axway)
    assert(axway.exists(!_.grokMatch) && axway.exists(_.grokMatch))
    assert(reqs.exists(_.gzipBody) && reqs.exists(!_.gzipBody))
  }

  test("backlog requests are about 1 MiB; event ids parse back to their position") {
    val r = Traffic.request(9L, 3, Traffic.backlog)
    assert(r.body.length > (1 << 20) * 9 / 10 && r.body.length < (1 << 20) * 11 / 10 || r.gzipBody)
    val e = r.records.find(_.events.nonEmpty).get
    val c = r.records.indexOf(e)
    assert(Traffic.parseId(e.events.last.id) == ((3, c, e.events.size - 1)))
  }
}
