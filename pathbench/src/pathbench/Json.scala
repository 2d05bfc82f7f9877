package pathbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import scala.collection.immutable.ListMap

/** JSON for the benchmark's result file, through the Jackson that ships
  * with Spark: objects keep their field order; numbers keep all digits. */
object Json {
  type Obj = ListMap[String, Any]

  def obj(fields: (String, Any)*): Obj = ListMap(fields: _*)

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def render(v: Any): String = mapper.writeValueAsString(v)
}
