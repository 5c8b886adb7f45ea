package graft.perfbench

import java.util.concurrent.atomic.AtomicLong
import graft.io.{InMemoryKV, KVSink}

/** [[InMemoryKV]] that also records when values are written: the time of
  * the latest put and the number of puts, JVM-global like the store itself
  * so the executor threads that write and the thread that reads share one
  * clock. */
class TimingKV extends KVSink {
  private val inner = new InMemoryKV
  def put(key: String, value: String): Unit = {
    inner.put(key, value)
    TimingKV.puts.incrementAndGet()
    TimingKV.lastPutNs.accumulateAndGet(System.nanoTime(), math.max(_, _))
    ()
  }
  def get(key: String): Option[String] = inner.get(key)
}

object TimingKV {
  val puts = new AtomicLong
  val lastPutNs = new AtomicLong

  def snapshot: Map[String, String] = InMemoryKV.snapshot
  def clear(): Unit = InMemoryKV.clear()
}
