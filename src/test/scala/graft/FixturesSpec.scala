package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.Fixtures

class FixturesSpec extends AnyFunSuite {

  test("ensure: a build that throws is not recorded, so the next call builds again") {
    val path = s"${Fixtures.targetDir}/fixtures_spec/${System.nanoTime}"
    var builds = 0
    intercept[IllegalStateException] {
      Fixtures.ensure(path) { builds += 1; throw new IllegalStateException("first build fails") }
    }
    assert(Fixtures.ensure(path) { builds += 1 } == path)
    assert(builds == 2)
    // built now: later calls return the path without building
    assert(Fixtures.ensure(path) { builds += 1 } == path)
    assert(builds == 2)
  }
}
