package graft

/** Independent actions run as concurrent Spark jobs. Each job alone
  * underfills the executor cores at this repo's bounded task counts, so
  * overlapping independent writes spares their serial fixed costs. */
object Jobs {

  /** Run each action on its own daemon thread and return the results in
    * argument order. The threads are created by the calling thread, so
    * they inherit its Spark local properties (job group, description,
    * SQL root execution id) and its active session.
    *
    * Every action is awaited before anything is thrown: throwing at the
    * first failure would orphan sibling jobs that still write, and a
    * retry would race them on the same files. The catch is `Throwable`,
    * not `NonFatal`. The first failure in argument order is thrown, with
    * the later ones attached by `addSuppressed`. An interrupt of the
    * caller does not cut the wait short; it is re-asserted on the
    * calling thread once every action is done. No helper thread is alive
    * after this returns or throws. */
  def all[T](actions: (() => T)*): Seq[T] = {
    val results = new Array[Any](actions.size)
    val failures = new Array[Throwable](actions.size)
    val threads = actions.zipWithIndex.map { case (action, i) =>
      val t = new Thread(
        () => try results(i) = action() catch { case e: Throwable => failures(i) = e },
        s"graft-jobs-$i")
      t.setDaemon(true)
      t
    }
    // a thread that cannot start fails its action; the started ones are
    // still awaited below (join on an unstarted thread returns at once)
    threads.zipWithIndex.foreach { case (t, i) =>
      try t.start() catch { case e: Throwable => failures(i) = e }
    }
    var interrupted = false
    threads.foreach { t =>
      while (t.isAlive)
        try t.join() catch { case _: InterruptedException => interrupted = true }
    }
    if (interrupted) Thread.currentThread().interrupt()
    failures.filter(_ != null) match {
      case Array(first, rest @ _*) =>
        rest.filter(_ ne first).foreach(first.addSuppressed)
        throw first
      case _ => results.toSeq.map(_.asInstanceOf[T])
    }
  }
}
