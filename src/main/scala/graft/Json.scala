package graft

import com.fasterxml.jackson.databind.{ObjectMapper, PropertyNamingStrategies}
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON writer for every file the engine writes (the bench
  * record, `oracle_sql.json`): Jackson escapes every string, control
  * characters included. Scala maps and sequences become objects and
  * arrays; case-class fields are written in snake_case (`gcMs` →
  * `gc_ms`), map keys as they are.
  */
object Json {
  private val mapper = new ObjectMapper()
    .registerModule(DefaultScalaModule)
    .setPropertyNamingStrategy(PropertyNamingStrategies.SNAKE_CASE)

  def write(value: Any): String = mapper.writeValueAsString(value)
}
