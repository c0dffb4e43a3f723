package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.Materialized

/** Per-layer numbers of a traced run, from the spans, the listener's
  * job/task records and the benchmark's own call log.
  */
object Layers {
  /** Bytes and regular-file count under `root/<name>` for each name. */
  def storeFiles(root: Path, names: Set[String]): (Long, Long) = {
    val files = names.toSeq.map(root.resolve).filter(Files.isDirectory(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }
    (files.map(Files.size).sum, files.size.toLong)
  }

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def report(r: Run): Unit = {
    val tr = r.tracer
    tr.listener.settle()
    val spans = tr.all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.layer).foreach { case (layer, ss) =>
      r.metric(s"$layer.self_s", ss.map(s => tr.selfSeconds(s, children.getOrElse(s.id, Nil))).sum, "s", ss.size)
    }

    def callMs(layer: String, name: String, metric: String): Unit = {
      val ms = spans.filter(s => s.layer == layer && s.name == name).map(_.seconds * 1e3)
      r.metric(metric, if (ms.isEmpty) 0.0 else Run.median(ms), "ms", ms.size)
    }
    callMs("graph.GraphStore", "save", "graph.GraphStore.save_ms")
    callMs("graph.GraphStore", "upsert", "graph.GraphStore.upsert_ms")
    callMs("graph.GraphStore", "load", "graph.GraphStore.load_ms")
    callMs("graph.GraphStore", "text_parse", "graph.GraphStore.text_parse_ms")

    // Spark work per GraphOps call.
    val opsSpans = spans.filter(_.layer == "graph.GraphOps")
    val st = opsSpans.map(tr.statsOf)
    val n = opsSpans.size.toLong
    r.metric("graph.GraphOps.jobs_per_call", mean(st.map(_.jobs.toDouble)), "count", n)
    r.metric("graph.GraphOps.tasks_per_call", mean(st.map(_.tasks.toDouble)), "count", n)
    r.metric("graph.GraphOps.shuffle_mb_per_call", mean(st.map(_.shuffleBytes / 1048576.0)), "MB", n)
    r.metric("graph.GraphOps.executor_cpu_s", mean(st.map(_.cpuNs / 1e9)), "s", n)
    r.metric("graph.GraphOps.driver_s", mean(opsSpans.map(tr.driverSeconds)), "s", n)

    val calls = r.calls.asScala.toSeq
    r.metric("graph.GraphOps.path", mean(calls.map(c => if (c.distributed) 1.0 else 0.0)), "share", calls.size)
    val leveled = calls.filter(_.levels > 0)
    r.metric("graph.GraphOps.levels", if (leveled.isEmpty) 0.0 else Run.median(leveled.map(_.levels.toDouble)),
      "count", leveled.size)
    r.metric("graph.GraphOps.s_per_level",
      if (leveled.isEmpty) 0.0 else Run.median(leveled.map(c => c.seconds / c.levels)), "s", leveled.size)

    val l = tr.listener
    val waits = l.schedWaitMs.asScala.map(_.toDouble).toSeq
    r.metric("sched.wait_ms", mean(waits), "ms", waits.size)
    r.metric("sched.jobs", l.jobs.get.toDouble, "count", 1)
    r.metric("sched.tasks_failed", l.tasksFailed.get.toDouble, "count", 1)
    r.metric("sched.stage_retries", l.stageRetries.get.toDouble, "count", 1)

    val derived = Materialized.deriveSeconds
    r.metric("Materialized.build_s", derived.values.sum, "s", derived.size)
    derived.toSeq.sortBy(-_._2).take(5).foreach { case (k, v) =>
      r.metric(s"Materialized.build_s.${k.replace(':', '-')}", v, "s", 1)
    }
  }
}
