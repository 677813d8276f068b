package graft.sources.vortex

import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.util.SerializableConfiguration

/** One broadcast of the session's Hadoop configuration per distinct
  * configuration. Serializing a `SerializableConfiguration` writes (and
  * the broadcast compresses) every property, so a fresh broadcast per
  * reader factory or per DML task closure cost each query a few
  * milliseconds of driver time. Entries are keyed by the configuration's
  * full property set and its SparkContext, so a changed setting gets a
  * broadcast of its own; the last few are kept. */
object HadoopConfBroadcast {
  private final case class Entry(sc: SparkContext, props: Map[String, String],
                                 bc: Broadcast[SerializableConfiguration])
  private val Kept = 8
  /** most recently created first */
  private var entries = List.empty[Entry]

  def apply(spark: SparkSession): Broadcast[SerializableConfiguration] = {
    val conf = spark.sessionState.newHadoopConf()
    val props = conf.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
    val sc = spark.sparkContext
    synchronized {
      entries.find(e => (e.sc eq sc) && e.props == props).map(_.bc).getOrElse {
        val bc = sc.broadcast(new SerializableConfiguration(conf))
        entries = (Entry(sc, props, bc) :: entries.filterNot(_.sc.isStopped)).take(Kept)
        bc
      }
    }
  }
}
