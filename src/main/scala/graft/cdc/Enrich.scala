package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Fixpoint

/** Enrichment lookup joins (O-19; reference `docs/design.md:669-688`,
  * `docs/system-design.md:216-227`): after a rule fires, attach dimension
  * context. The reference does per-event DB lookups; on Spark each lookup is
  * a broadcast hash join against the (tiny) dimension — zero shuffle, and at
  * 100 TB the event side streams through map tasks untouched.
  *
  * The event payload is JSON text (so heterogeneous rule outputs union);
  * each enricher parses it ONCE with `from_json` + an explicit schema and
  * joins on the struct fields — one parse per row, not one per predicate.
  */
object Enrich {

  val promotionPayload: StructType = StructType(Seq(
    StructField("employeeId", IntegerType),
    StructField("previousPositionId", StringType),
    StructField("newPositionId", StringType),
    StructField("previousSalary", DecimalType(12, 2)),
    StructField("newSalary", DecimalType(12, 2))))

  val terminationPayload: StructType = StructType(Seq(
    StructField("employeeId", IntegerType),
    StructField("hireDate", DateType),
    StructField("departmentId", IntegerType)))

  val transferPayload: StructType = StructType(Seq(
    StructField("employeeId", IntegerType),
    StructField("fromDepartmentId", IntegerType),
    StructField("toDepartmentId", IntegerType)))

  /** Promotion enrichment: previous/new position titles (two aliased
    * broadcast joins against the same dim) + department name.
    */
  def promotions(events: DataFrame, positions: DataFrame,
                 departments: DataFrame, employees: DataFrame): DataFrame = {
    val prevPos = broadcast(positions.select(
      col("id").as("_prev_pos_id"), col("title").as("previousPositionTitle")))
    val newPos = broadcast(positions.select(
      col("id").as("_new_pos_id"), col("title").as("newPositionTitle")))
    val emp = broadcast(employees.select(
      col("id").cast("string").as("_emp_id"),
      col("department_id").as("_dept_id"),
      col("manager_id").as("managerId")))
    val dept = broadcast(departments.select(
      col("id").as("_dept_id2"), col("name").as("departmentName")))

    events
      .withColumn("_p", from_json(col("payload"), promotionPayload))
      .join(prevPos, col("_p.previousPositionId") === col("_prev_pos_id"), "left")
      .join(newPos, col("_p.newPositionId") === col("_new_pos_id"), "left")
      .join(emp, col("aggregateId") === col("_emp_id"), "left")
      .join(dept, col("_dept_id") === col("_dept_id2"), "left")
      .drop("_p", "_prev_pos_id", "_new_pos_id", "_emp_id", "_dept_id", "_dept_id2")
  }

  /** Termination enrichment: tenure in months (docs/system-design.md:220). */
  def terminations(events: DataFrame): DataFrame =
    events.withColumn("tenureMonths",
      floor(months_between(
        to_date(col("timestamp")),
        from_json(col("payload"), terminationPayload).getField("hireDate")))
        .cast("int"))

  /** Transfer enrichment: from/to department names + org distance
    * (docs/system-design.md:223-227).
    */
  def transfers(events: DataFrame, departments: DataFrame): DataFrame = {
    val from = broadcast(departments.select(
      col("id").as("_from_id"), col("name").as("fromDepartmentName")))
    val to = broadcast(departments.select(
      col("id").as("_to_id"), col("name").as("toDepartmentName")))
    val dist = broadcast(orgDistance(departments))
    events
      .withColumn("_p", from_json(col("payload"), transferPayload))
      .join(from, col("_p.fromDepartmentId") === col("_from_id"), "left")
      .join(to, col("_p.toDepartmentId") === col("_to_id"), "left")
      .join(dist,
        col("_p.fromDepartmentId") === col("_dept_a") &&
          col("_p.toDepartmentId") === col("_dept_b"), "left")
      .drop("_p", "_from_id", "_to_id", "_dept_a", "_dept_b")
  }

  /** Root paths of the department hierarchy
    * (`departments.parent_department_id`, init-db.sql:30): iterative
    * self-join fixpoint run by [[graft.operators.Fixpoint]] — no
    * driver-side recursion, so it scales if the hierarchy ever stops being
    * tiny. Each round prepends one ancestor; the witness is the count of
    * rows whose parent is still unresolved, read from the round's
    * checkpoint job, and the loop stops when it reaches 0 (a 2-level tree
    * costs 2 joins, not `maxDepth`). A cyclic hierarchy, or one deeper
    * than `maxDepth`, fails naming `maxDepth` instead of returning
    * truncated paths. Output: (dept_id, path array root→leaf, depth).
    */
  def deptPaths(departments: DataFrame, maxDepth: Int = 20): DataFrame = {
    val parents = departments.select(
      col("id").as("_pid"), col("parent_department_id").as("_pparent"))
    val unresolved = Fixpoint.Witness[Long](count(col("cur_parent")))
    val start = Fixpoint.checkpoint(departments.select(
      col("id").as("dept_id"),
      col("parent_department_id").as("cur_parent"),
      array(col("id")).as("path")), unresolved)
    Fixpoint.iterate("deptPaths", start, unresolved, maxDepth,
        hint = " — the hierarchy has a cycle or is deeper than " +
          s"maxDepth = $maxDepth") { r =>
      r.frame
        .join(broadcast(parents), col("cur_parent") === col("_pid"), "left")
        .select(
          col("dept_id"),
          col("_pparent").as("cur_parent"),
          when(col("_pid").isNotNull, concat(array(col("_pid")), col("path")))
            .otherwise(col("path")).as("path"))
    }((_, n) => n == 0)._1
      .select(col("dept_id"), col("path"), size(col("path")).as("depth"))
  }

  /** Pairwise org distance = depth(a) + depth(b) − 2·depth(LCA), from the
    * materialized root paths. Emitted only for the (tiny) dept×dept domain.
    */
  def orgDistance(departments: DataFrame): DataFrame = {
    val paths = deptPaths(departments)
    val a = paths.select(col("dept_id").as("_dept_a"), col("path").as("_path_a"))
    val b = paths.select(col("dept_id").as("_dept_b"), col("path").as("_path_b"))
    a.crossJoin(b).select(
      col("_dept_a"), col("_dept_b"),
      (size(col("_path_a")) + size(col("_path_b")) -
        lit(2) * size(array_intersect(col("_path_a"), col("_path_b"))))
        .as("orgDistance"))
  }
}
