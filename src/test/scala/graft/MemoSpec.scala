package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared session-memo lifecycle: superseded tokens and invalidated
  * scopes release their values exactly once, sub-keys coexist, and a
  * failed build memoizes nothing.
  */
class MemoSpec extends AnyFunSuite with SparkSpec {

  /** A memo over string values that records every release. */
  private def recording[K]() = {
    val released = scala.collection.mutable.ArrayBuffer.empty[String]
    (new Memo[K, String](v => released.synchronized { released += v }),
     released)
  }

  test("latest releases the superseded value exactly once") {
    val (memo, released) = recording[String]()
    assert(memo.latest(spark, "t", "tok1")("v1") == "v1")
    assert(memo.latest(spark, "t", "tok1")("rebuilt") == "v1",
           "same token must serve the memoized value")
    assert(memo.latest(spark, "t", "tok2")("v2") == "v2")
    assert(released.toSeq == Seq("v1"))
    assert(memo.size("t") == 1)
    memo.latest(spark, "t", "tok2")("unused")
    assert(released.toSeq == Seq("v1"), "a hit must release nothing")
  }

  test("invalidate(scope) drops every session's entries and releases each once") {
    val (memo, released) = recording[Unit]()
    val other = spark.newSession()
    memo(spark, "corpus")("a")
    memo(other, "corpus")("b")
    memo(spark, "elsewhere")("c")
    assert(memo.size("corpus") == 2)
    memo.invalidate("corpus")
    assert(memo.size("corpus") == 0)
    assert(released.toSeq.sorted == Seq("a", "b"))
    assert(memo.size("elsewhere") == 1, "other scopes must survive")
    memo.invalidate("corpus")
    assert(released.size == 2, "a second invalidate has nothing to release")
    assert(memo(spark, "corpus")("a2") == "a2", "the next access rebuilds")
  }

  test("keys that differ only in the sub-key coexist") {
    val (memo, released) = recording[Int]()
    assert(memo(spark, "corpus", 8)("k8") == "k8")
    assert(memo(spark, "corpus", 16)("k16") == "k16")
    assert(memo(spark, "corpus", 8)("rebuilt") == "k8")
    assert(memo(spark, "corpus", 16)("rebuilt") == "k16")
    assert(memo.size("corpus") == 2 && released.isEmpty)
    memo.invalidateWhere((scope, k) => scope == "corpus" && k == 8)
    assert(released.toSeq == Seq("k8"))
    assert(memo(spark, "corpus", 16)("rebuilt") == "k16")
  }

  test("a build that throws leaves no entry") {
    val (memo, released) = recording[Unit]()
    intercept[IllegalStateException] {
      memo(spark, "corpus")(throw new IllegalStateException("build failed"))
    }
    assert(memo.size("corpus") == 0)
    intercept[IllegalStateException] {
      memo.latest(spark, "corpus", ())(
        throw new IllegalStateException("build failed"))
    }
    assert(memo.size("corpus") == 0 && released.isEmpty)
    assert(memo(spark, "corpus")("ok") == "ok", "a retry builds afresh")
  }
}
