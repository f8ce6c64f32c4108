package graft.web

import graft.promql.{Engine, LabelMatcher, MatchOp}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

object FanoutStore {
  /** one remote-read secondary plus its routing policy (ref:
    * storage/remote/read.go — requiredMatchersQuerier, the ReadRecent clip
    * to the local start time, externalLabelsQuerier):
    *
    *  - `readRecent=false` (the reference default): the remote window is
    *    clipped to END BEFORE the local store's first sample — remote read
    *    serves only the history local storage doesn't hold; a query fully
    *    covered locally skips the remote hop.
    *  - `requiredMatchers`: the secondary is consulted only when the
    *    selector carries every (name = value) equality matcher listed.
    *  - `filterExternalLabels=true` (default): the server's external labels
    *    join the outgoing selector as equality matchers (unless the
    *    selector already constrains that name) and the ADDED names are
    *    stripped from returned series. */
  final case class Secondary(
      client: RemoteReadClient,
      readRecent: Boolean = false,
      requiredMatchers: Map[String, String] = Map.empty,
      filterExternalLabels: Boolean = true)
}

/** Fanout storage: a primary local store plus remote-read secondaries
  * queried per selector and unioned into one canonical samples frame
  * (ref: storage/fanout.go:45 — local querier merged with remote queriers).
  *
  * `fetch` is the per-query entry: the remote sides filter on their end
  * (matchers + time range travel in the ReadRequest), so the edge carries
  * only matched series — the same volume contract as the reference's remote
  * read. Secondaries failing are skipped (fanout degrades, ref
  * storage/fanout.go secondary querier error handling). */
final class FanoutStore(
    spark: SparkSession,
    primary: SampleStore,
    secondaries: Seq[FanoutStore.Secondary],
    externalLabels: Map[String, String] = Map.empty) {

  /** the local store's first-sample time, the read_recent boundary (ref:
    * main.go localStorage.StartTime feeding remote/read.go). One min-agg
    * over the pruned scan, cached — the store is append-mostly and a
    * boundary that lags a backfill only makes remote reads WIDER (safe). */
  @volatile private var localStartCache: Long = Long.MinValue
  private def localStart(): Long = {
    if (localStartCache == Long.MinValue) {
      val r = primary.samples.agg(min(col("t"))).head()
      localStartCache = if (r.isNullAt(0)) Long.MaxValue else r.getLong(0)
    }
    localStartCache
  }

  /** canonical samples for one selector over [startMs, endMs] — local scan
    * unioned with every eligible secondary's remote-read result */
  def fetch(matchers: List[LabelMatcher], startMs: Long, endMs: Long): DataFrame = {
    val local = matchers.foldLeft(
      primary.samples.filter(col("t") >= startMs && col("t") <= endMs))(
      (df, m) => df.filter(m.cond(col("labels"))))
    val remote = secondaries.flatMap { s =>
      // required_matchers: route to this endpoint only when the selector
      // carries every required equality (ref read.go requiredMatchersQuerier)
      val required = s.requiredMatchers.forall { case (k, v) =>
        matchers.exists(m => m.op == MatchOp.Eq && m.name == k && m.value == v) }
      // read_recent=false: serve only pre-local history from the remote
      val hi = if (s.readRecent) endMs else math.min(endMs, localStart() - 1)
      if (!required || hi < startMs) None
      else {
        // filter_external_labels: external labels join the selector (names
        // the query already constrains stay untouched), added names are
        // stripped from results (ref read.go externalLabelsQuerier)
        val (sendMatchers, added) =
          if (!s.filterExternalLabels || externalLabels.isEmpty)
            (matchers, Set.empty[String])
          else {
            val have = matchers.map(_.name).toSet
            val extra = externalLabels.filterNot { case (k, _) => have(k) }
            (matchers ++ extra.toList.sortBy(_._1)
              .map { case (k, v) => LabelMatcher(k, MatchOp.Eq, v) },
             extra.keySet)
          }
        try {
          val series = s.client.read(RemoteRead.Query(startMs, hi, sendMatchers))
          val rows = series.flatMap { sr =>
            val lbls = if (added.isEmpty) sr.labels else sr.labels -- added
            sr.samples.map { case (t, v) => Row(lbls, t, v, false, null, 0L) }
          }
          if (rows.isEmpty) None
          else Some(spark.createDataFrame(
            spark.sparkContext.parallelize(rows, math.max(1, rows.size / 10000)),
            Engine.samplesSchema))
        } catch { case _: Exception => None } // degrade: skip failing secondary
      }
    }
    // a remote frame gains the columns the store derives from labels
    val localDf = Engine.canonical(local)
    def likeLocal(r: DataFrame): DataFrame = localDf.columns.foldLeft(r) {
      case (d, "__sg") => Engine.withSeriesSig(d)
      case (d, "metric") => d.withColumn("metric", element_at(col("labels"), "__name__"))
      case (d, _) => d
    }
    remote.foldLeft(localDf)((acc, r) => acc.unionByName(likeLocal(r)))
  }
}
