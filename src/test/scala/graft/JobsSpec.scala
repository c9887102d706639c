package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Jobs.all`: results in argument order, every action awaited before a
  * failure surfaces, the caller's Spark local properties on every job,
  * and no thread left behind. */
class JobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** `Jobs.all` over `actions`, each wrapped to record the thread it ran
    * on; returns the outcome and those threads. */
  def traced[T](actions: (() => T)*): (Either[Throwable, Seq[T]], Seq[Thread]) = {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val wrapped = actions.map(a => () => { threads.add(Thread.currentThread()); a() })
    val out = try Right(Jobs.all(wrapped: _*)) catch { case e: Throwable => Left(e) }
    (out, threads.asScala.toSeq)
  }

  test("results come back in argument order, each action on its own thread") {
    val (out, threads) = traced((0 until 4).map(i => () => { Thread.sleep(40L * (4 - i)); i }): _*)
    assert(out == Right(Seq(0, 1, 2, 3)))
    assert(threads.distinct.size == 4 && !threads.contains(Thread.currentThread()))
    assert(Jobs.all[Int]().isEmpty)
  }

  test("a failure surfaces only after a slower sibling has finished") {
    val siblingDone = new AtomicBoolean(false)
    val (out, _) = traced(
      () => throw new IllegalStateException("fast failure"),
      () => { Thread.sleep(300); siblingDone.set(true) })
    assert(out.left.map(_.getMessage) == Left("fast failure"))
    // the sibling's side effect is visible when the exception arrives
    assert(siblingDone.get())
  }

  test("the first failure in argument order is thrown, the others suppressed") {
    val (out, _) = traced[Int](
      () => 1,
      () => { Thread.sleep(200); throw new IllegalStateException("second arg") },
      () => throw new IllegalArgumentException("third arg"),
      () => throw new Error("fourth arg"))
    val e = out.left.getOrElse(fail(s"no failure: $out"))
    assert(e.getMessage == "second arg")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("third arg", "fourth arg"))
  }

  test("a job started inside an action carries the caller's job description") {
    val descriptions = new ConcurrentLinkedQueue[Option[String]]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        descriptions.add(Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description"))))
        ()
      }
    }
    val sc = spark.sparkContext
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setJobDescription("jobs-spec caller")
    try assert(Jobs.all(() => spark.range(100).count(), () => spark.range(10).count()) == Seq(100L, 10L))
    finally {
      sc.setJobDescription(null)
      ListenerBusDrain(sc)
      sc.removeSparkListener(listener)
    }
    val seen = descriptions.asScala.toSeq
    assert(seen.size >= 2 && seen.forall(_.contains("jobs-spec caller")), seen)
  }

  test("no helper thread is alive after it returns or throws") {
    val (ok, okThreads) = traced(() => Thread.sleep(50), () => Thread.sleep(100))
    assert(ok.isRight)
    val (failed, failedThreads) = traced(() => throw new RuntimeException("x"), () => Thread.sleep(100))
    assert(failed.isLeft)
    assert(okThreads.size == 2 && failedThreads.size == 2)
    (okThreads ++ failedThreads).foreach(t => assert(!t.isAlive, t.getName))
  }

  test("an interrupted caller still awaits every action, then keeps its interrupt") {
    val actionDone = new AtomicBoolean(false)
    @volatile var sawDone = false
    @volatile var stillInterrupted = false
    val caller = new Thread(() => {
      Jobs.all(() => { Thread.sleep(300); actionDone.set(true) })
      sawDone = actionDone.get()
      stillInterrupted = Thread.currentThread().isInterrupted
    })
    caller.start()
    Thread.sleep(50)
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive && sawDone && stillInterrupted)
  }
}
