package perfbench

import java.util.concurrent.LinkedBlockingQueue

import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the same seed gives the same generator digest") {
    assert(new Envelope(7).digest(0, 5000) == new Envelope(7).digest(0, 5000))
    assert(new Envelope(7).record(123).value.sameElements(new Envelope(7).record(123).value))
  }

  test("different seeds give different digests") {
    val digests = (1L to 5L).map(s => new Envelope(s).digest(0, 2000))
    assert(digests.distinct.size == digests.size)
  }

  test("the digest ignores order but sees a changed, lost or duplicated record") {
    val env = new Envelope(3)
    val recs = (0L until 500L).map(env.record)
    def of(rs: Seq[Rec]) = { val d = new Digest; rs.foreach(d.add); d }
    assert(of(recs.reverse) == env.digest(0, 500))
    val altered = recs.updated(10, recs(10).copy(timestampMs = recs(10).timestampMs + 1))
    assert(of(altered) != env.digest(0, 500))
    assert(of(recs.tail) != env.digest(0, 500))
    assert(of(recs :+ recs.head) != env.digest(0, 500))
  }

  test("the generated records vary in the properties replication cost depends on") {
    val env = new Envelope(11)
    val recs = (0L until 4000L).map(env.record)
    assert(recs.count(_.key == null) > 300)
    assert(recs.map(_.headers.size).distinct.sorted == Seq(2, 3, 4))
    assert(recs.map(_.value.length).distinct.sorted == (3 to 9).map(_ * Envelope.ChunkBytes))
    assert(recs.filter(_.key != null).forall(_.key.length == Envelope.KeyBytes))
    assert(env.topicPartitions.forall(Envelope.PartitionCounts.contains))
    assert((1L to 20L).map(new Envelope(_).topicPartitions).distinct.size > 1)
    assert(recs.map(_.topic).distinct.size == Envelope.Topics)
    assert(recs.forall(r => Envelope.seqOf(r.headers) >= 0))
  }

  test("the sender's committed digest equals the generator's; duplicates are counted") {
    val env = new Envelope(5)
    Sink.reset(System.nanoTime(), 0L, 1L)
    val s = new BenchSender(Map.empty)
    def send(seq: Long): Unit = {
      val r = env.record(seq)
      s.send(r.topic, Some(r.partition), r.timestampMs, r.key, r.value, r.headers)
    }
    (0L until 300L).foreach(send)
    s.flush()
    send(7L)
    s.close() // an aborted transaction is never visible
    send(9L)
    s.flush()
    val snap = Sink.snapshot()
    assert(snap.digest == env.digest(0, 300))
    assert(snap.distinct == 300 && snap.duplicates == 1)
  }

  test("the open-loop schedule does not slow when the sink is slow; lateness is reported") {
    val periodNs = 20000000L
    val queue = new LinkedBlockingQueue[Int]()
    val publishedAt = new Array[Long](30)
    val loop = new OpenLoop(30, periodNs, i => {
      publishedAt(i) = System.nanoTime()
      // the sink stalls the publisher once, for five periods
      if (i == 5) Thread.sleep(100)
      queue.put(i)
    })
    // a consumer ten times slower than the offered rate
    val consumer = new Thread(() => {
      try while (true) { queue.take(); Thread.sleep(200) }
      catch { case _: InterruptedException => () }
    })
    consumer.start()
    val start = System.nanoTime() + 10000000L
    loop.start(start)
    loop.join()
    consumer.interrupt()
    consumer.join()
    val late = loop.lateness.map(_ / 1e6)
    // the stall shows as lateness of the ticks right after it ...
    assert(late(6) > 50.0)
    // ... and the schedule catches up instead of shifting
    assert(late.drop(15).forall(_ < 15.0), late.mkString(" "))
    (15 until 30).foreach(i => assert(publishedAt(i) - (start + i * periodNs) < 15000000L))
    // all 30 ticks went out in about 30 periods, far ahead of the consumer
    assert((publishedAt(29) - start) / 1e6 < 29 * 20 + 50)
    assert(queue.size() > 20)
  }
}
