import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

package object perfbench {
  /** JSON for the driver's result, span and hash files (jackson is on
    * the Spark classpath); Scala `ListMap`s keep their key order. */
  private[perfbench] val Json: ObjectMapper =
    new ObjectMapper().registerModule(DefaultScalaModule)
}
