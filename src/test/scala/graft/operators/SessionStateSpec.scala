package graft.operators

import graft.{SparkEntry, SparkSpec}

/** Bounded session state: a registered entry leaves nothing behind in the
  * session that runs it. No frame stays in the CacheManager, because every
  * reuse point goes through [[Ckpt]], whose blocks the ContextCleaner
  * frees with the frame. No session conf changes, because scoped settings
  * go through [[Confs.withConfs]] and reading a table through [[T]] writes
  * none. Every registered entry runs at sf0.001, one after another, in
  * one session. */
class SessionStateSpec extends SparkSpec {

  test("every registered entry leaves the CacheManager empty and the session conf unchanged") {
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val left = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val before = spark.conf.getAll
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      val after = spark.conf.getAll
      val changed = (before.keySet ++ after.keySet).toSeq.sorted
        .filter(k => before.get(k) != after.get(k))
        .map(k => s"$name: conf $k ${before.get(k)} -> ${after.get(k)}")
      val cached = if (cm.isEmpty) Nil else Seq(s"$name: left a frame in the CacheManager")
      cm.clearCache()
      changed ++ cached
    }
    assert(left.isEmpty, left.mkString("\n"))
  }
}
