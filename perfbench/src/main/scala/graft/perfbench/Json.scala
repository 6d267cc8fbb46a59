package graft.perfbench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** JSON for the benchmark's records, trace lines, result line and
  * expected digests: Jackson with its Scala module, both shipped with
  * Spark. */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
