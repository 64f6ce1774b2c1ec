package graft.cdc

import java.nio.file.Files
import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark
import graft.sources.Ledger

class WindowedRulesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def transferEnv(empId: Int, fromDept: Int, toDept: Int, tsMs: Long): String =
    Fixtures.env("employees", "u",
      Fixtures.emp(id = empId, num = s"EMP$empId", deptId = fromDept),
      Fixtures.emp(id = empId, num = s"EMP$empId", deptId = toDept), tsMs)

  test("three transfers into a department within one hour fire TeamCompositionChanged") {
    val min = 60000L
    val envs = Fixtures.parse(spark, "employees", Seq(
      transferEnv(1, 1, 3, Fixtures.T0 + 1 * min),
      transferEnv(2, 1, 3, Fixtures.T0 + 10 * min),
      transferEnv(3, 2, 3, Fixtures.T0 + 20 * min)))
    val transfers = TestRules.applyAll(envs, "employees")
      .filter(col("eventType") === "EmployeeTransferred")
    assert(transfers.count() == 3)
    val changed = WindowedRules.teamCompositionChanged(transfers).collect()
    // dept 3 got 3 touches; dept 1 only 2, dept 2 only 1
    assert(changed.length == 1)
    val row = changed.head
    assert(row.getAs[String]("aggregateId") == "3")
    assert(row.getAs[String]("eventType") == "TeamCompositionChanged")
    assert(get_json_object(lit(row.getAs[String]("payload")), "$.transferCount") != null)
    assert(row.getAs[String]("subject") == "events.hr.org.team.changed")
  }

  test("transfers spread across windows do not fire") {
    val hour = 3600000L
    val envs = Fixtures.parse(spark, "employees", Seq(
      transferEnv(1, 1, 3, Fixtures.T0),
      transferEnv(2, 1, 3, Fixtures.T0 + 2 * hour),
      transferEnv(3, 2, 3, Fixtures.T0 + 4 * hour)))
    val transfers = TestRules.applyAll(envs, "employees")
    assert(WindowedRules.teamCompositionChanged(transfers).count() == 0)
  }

  test("streaming form emits once the watermark closes the window") {
    val ledger = Files.createTempDirectory("ledger").toString
    val min = 60000L
    // T0 is NOT hour-aligned; all three transfers land inside T0's tumbling
    // hour window. The late lone transfer (own window, below threshold)
    // advances the watermark past the window end so append mode can emit —
    // note Catalyst pushes the eventType filter BELOW the watermark node, so
    // only transfer events drive the watermark.
    Ledger.writeSegment(ledger, "hrdb", "employees", "000001.jsonl", Seq(
      transferEnv(1, 1, 3, Fixtures.T0 + 1 * min),
      transferEnv(2, 1, 3, Fixtures.T0 + 5 * min),
      transferEnv(3, 2, 3, Fixtures.T0 + 10 * min),
      transferEnv(9, 4, 5, Fixtures.T0 + 5 * 3600000L)))
    val wire = spark.readStream.format("graft-changelog")
      .option("path", ledger).load()
    val events = TestRules.applyAll(
      ChangeStream.deserialize(wire.filter(col("table") === "employees"),
        Schemas.employees), "employees")
    val changed = WindowedRules.teamCompositionChangedStream(events)
    val out = mutable.ArrayBuffer.empty[(String, String)]
    val q = changed.writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= df.select("eventType", "aggregateId").collect()
            .map(r => (r.getString(0), r.getString(1)))
        }
        ()
      }
      .start()
    q.awaitTermination(120000)
    assert(out.toSeq == Seq(("TeamCompositionChanged", "3")))
  }
}
