package graft

import graft.model.SumRecord
import graft.oracle.{OracleCompiler, OracleContext}
import graft.store.RecordStore

/** [[OracleCompiler]]'s cache of compiled JS oracles: a hit is the same
  * program under the new name, SQL text never enters it, and it keeps at
  * most its fixed number of programs, dropping the least recently used.
  */
class OracleCompileCacheSpec extends SparkSpec {

  private def compile(name: String, code: String) =
    OracleCompiler.compile(spark, name, code).fold(m => fail(s"compile failed: $m"), identity)

  test("a cache hit is the compiled program under the caller's name") {
    val code = "function twice(x) { return 2 * x + records.All().length; } // hit"
    val first = compile("first", code)
    val hits = OracleCompiler.jsCache.hits
    val second = compile("second", code)
    assert(OracleCompiler.jsCache.hits === hits + 1)
    assert(second.name === "second" && first.name === "first")
    assert(second.params === Seq("x") && second.code === Some(code))
    val store = RecordStore.fromRecords(spark, Seq(SumRecord(1L, Array(1f))))
    val args = Seq(org.json4s.JInt(20))
    assert(second.body(new OracleContext, store, args) ===
      first.body(new OracleContext, store, args))
  }

  test("SQL text is never cached") {
    val sql = "SELECT id FROM records ORDER BY id"
    val size = OracleCompiler.jsCache.size
    val hits = OracleCompiler.jsCache.hits
    compile("q1", sql)
    compile("q2", sql)
    assert(OracleCompiler.jsCache.size === size)
    assert(OracleCompiler.jsCache.hits === hits)
  }

  test("the cache holds its bound and evicts the least recently used program") {
    val n = OracleCompiler.JsCacheEntries
    def src(i: Int) = s"function f$i() { return $i; } // bound"
    (0 until n + 10).foreach(i => compile(s"o$i", src(i)))
    assert(OracleCompiler.jsCache.size === n)
    val misses = OracleCompiler.jsCache.misses
    compile("newest", src(n + 9))
    assert(OracleCompiler.jsCache.misses === misses)
    compile("oldest", src(0))
    assert(OracleCompiler.jsCache.misses === misses + 1)
    assert(OracleCompiler.jsCache.size === n)
  }
}
