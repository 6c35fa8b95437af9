package graft.sources.mem

import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Scan-scoped store state must be BOUNDED (ADVICE r11 #4): derived
  * pushed-join collections and runtime (DPP) filter entries used to
  * accumulate for the JVM lifetime of a bench/test session — one leak per
  * pushed-join/DPP query. Both stores are FIFO-capped; this spec drives
  * the registration paths directly and asserts the caps hold. */
class MemStoreBoundsSpec extends AnyFunSuite {

  private val schema = StructType(Seq(StructField("k", LongType)))

  test("derived join collections are FIFO-bounded, newest survive") {
    val names = (0 until 200).map(i => s"bounds#join#scan$i")
    names.foreach(n => MemStore.registerRaw(n, schema, Array(InternalRow(1L))))
    val live = names.filter(MemStore.hasCollection)
    assert(live.size <= 64, s"derived collections must be capped: ${live.size}")
    // eviction is FIFO: the most recent registrations are still readable
    names.takeRight(32).foreach { n =>
      assert(MemStore.hasCollection(n), s"newest derived collection $n evicted")
      assert(MemStore.rowsOf(n).length === 1)
    }
    assert(!MemStore.hasCollection(names.head), "oldest entry should be evicted")
  }

  test("runtime (DPP) filter entries are FIFO-bounded, newest survive") {
    val before = MemStore.runtimeFilters.keys.size
    val keys = (0 until 200).map(i => ("bounds_coll", s"scan$i"))
    keys.foreach(k =>
      MemStore.recordRuntimeFilters(k, Seq[Filter](EqualTo("k", 1L))))
    val mine = MemStore.runtimeFilters.keys.count(_._1 == "bounds_coll")
    assert(mine <= 64, s"runtime filter entries must be capped: $mine (before=$before)")
    keys.takeRight(32).foreach { k =>
      assert(MemStore.runtimeFilters.contains(k), s"newest runtime entry $k evicted")
    }
    assert(!MemStore.runtimeFilters.contains(keys.head))
  }

  test("re-recording the SAME scan key updates in place without growing the order") {
    val key = ("bounds_coll2", "scan-same")
    (0 until 100).foreach(i =>
      MemStore.recordRuntimeFilters(key, Seq[Filter](EqualTo("k", i.toLong))))
    assert(MemStore.runtimeFilters(key) === Seq(EqualTo("k", 99L)),
      "latest recording must win")
  }
}
