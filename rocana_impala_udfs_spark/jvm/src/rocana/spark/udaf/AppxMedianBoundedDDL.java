package rocana.spark.udaf;

import java.util.List;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.expressions.MutableAggregationBuffer;
import org.apache.spark.sql.expressions.UserDefinedAggregateFunction;
import org.apache.spark.sql.types.DataType;
import org.apache.spark.sql.types.DataTypes;
import org.apache.spark.sql.types.StructField;
import org.apache.spark.sql.types.StructType;

/**
 * The pure-SQL-DDL registration form of {@link AppxMedianBounded} — the
 * reference registers with nothing but DDL ({@code CREATE AGGREGATE
 * FUNCTION ... LOCATION ... UPDATE_FN=...}, reference README.md:40-46),
 * and a migrating user's first question is "what DDL do I run". Spark's
 * {@code CREATE FUNCTION name AS 'class' USING JAR 'path'} statement can
 * load an aggregate only through the {@code UserDefinedAggregateFunction}
 * API (a typed {@code Aggregator} has no no-arg SQL constructor protocol
 * — it needs {@code functions.udaf(agg, encoder)} from code), so this
 * thin adapter exposes the SAME reservoir semantics through that API:
 *
 * <pre>
 *   CREATE OR REPLACE FUNCTION appx_median_bounded_ddl
 *     AS 'rocana.spark.udaf.AppxMedianBoundedDDL'
 *     USING JAR '/path/to/rocana-udaf.jar';
 *   SELECT CAST(appx_median_bounded_ddl(x, 100) AS DOUBLE) FROM t;
 * </pre>
 *
 * Every phase DELEGATES to {@link AppxMedianBounded} (reduce/merge/finish
 * are the single source of truth for the median.cc protocol); this class
 * only moves its {@code double[]} buffer in and out of the engine-managed
 * Catalyst buffer row. That copies the k-bounded array once per row, so
 * the typed Aggregator ({@code appx_median_bounded_1call}) remains the
 * production path — this adapter exists for DDL parity.
 */
public class AppxMedianBoundedDDL extends UserDefinedAggregateFunction {

  private static final AppxMedianBounded AGG = new AppxMedianBounded();

  @Override
  public StructType inputSchema() {
    return new StructType(new StructField[] {
      DataTypes.createStructField("value", DataTypes.DoubleType, true),
      DataTypes.createStructField("k", DataTypes.IntegerType, true),
    });
  }

  @Override
  public StructType bufferSchema() {
    return new StructType(new StructField[] {
      DataTypes.createStructField(
          "buf", DataTypes.createArrayType(DataTypes.DoubleType, false), false),
    });
  }

  @Override
  public DataType dataType() {
    return DataTypes.StringType;
  }

  /** Declared deterministic: in the exact regime (group size &le; k, the
   * oracle-checked contract) every input is retained and the answer is a
   * pure function of the group; the sampled regime is seeded. */
  @Override
  public boolean deterministic() {
    return true;
  }

  @Override
  public void initialize(MutableAggregationBuffer buffer) {
    buffer.update(0, AGG.zero());
  }

  @Override
  public void update(MutableAggregationBuffer buffer, Row input) {
    buffer.update(0, AGG.reduce(read(buffer), input));
  }

  @Override
  public void merge(MutableAggregationBuffer buffer, Row other) {
    buffer.update(0, AGG.merge(read(buffer), read(other)));
  }

  @Override
  public Object evaluate(Row buffer) {
    return AGG.finish(read(buffer));
  }

  private static double[] read(Row row) {
    List<Double> xs = row.getList(0);
    double[] out = new double[xs.size()];
    for (int i = 0; i < out.length; i++) {
      out[i] = xs.get(i);
    }
    return out;
  }
}
