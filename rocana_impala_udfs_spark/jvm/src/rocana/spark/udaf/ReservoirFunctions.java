package rocana.spark.udaf;

import org.apache.spark.sql.Column;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.SparkSession;
import org.apache.spark.sql.UDFRegistration;
import org.apache.spark.sql.expressions.UserDefinedFunction;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.StructType;
import rocana.spark.udaf.AppxMedianBounded.Finish;
import rocana.spark.udaf.AppxMedianBounded.Input;

/**
 * Entry points for callers that load the jar at run time (PySpark over
 * py4j): instance methods, so they work on a class loaded through the
 * session's jar class loader.
 */
public class ReservoirFunctions {

  /** Every SQL name of the family: name, argument layout, finisher. */
  private static final Object[][] NAMES = {
    {"appx_median_bounded", Input.VALUE_K, Finish.STRING},
    {"appx_median_bounded_1call", Input.VALUE_K, Finish.STRING},
    {"appx_median_bounded_ref_format", Input.VALUE_K, Finish.REF_FORMAT},
    {"appx_median_bounded_double", Input.VALUE_K, Finish.DOUBLE},
    {"appx_percentile_bounded", Input.VALUE_P_K, Finish.DOUBLE},
    {"reservoir_sample", Input.VALUE_K, Finish.SAMPLE},
    {"reservoir_partial", Input.VALUE_K, Finish.STATE},
    {"reservoir_merge_median", Input.STATE, Finish.DOUBLE},
  };

  /** Register every name of the family into the session catalog. */
  public void registerAll(SparkSession spark, long seed) {
    UDFRegistration reg = spark.udf();
    for (Object[] e : NAMES) {
      reg.register((String) e[0], udaf((Input) e[1], (Finish) e[2], seed));
    }
  }

  /**
   * One aggregate column: {@code finish} names a {@link Finish}; a null
   * {@code p} selects the (value, k) layout, else (value, p, k).
   */
  public Column column(String name, String finish, long seed, Column value, Column p, Column k) {
    if (p == null) {
      return udaf(Input.VALUE_K, Finish.valueOf(finish), seed).withName(name).apply(value, k);
    }
    return udaf(Input.VALUE_P_K, Finish.valueOf(finish), seed).withName(name).apply(value, p, k);
  }

  private static UserDefinedFunction udaf(Input input, Finish finish, long seed) {
    String ddl;
    switch (input) {
      case VALUE_P_K:
        ddl = "value double, p double, k int";
        break;
      case STATE:
        ddl = "state array<double>";
        break;
      default:
        ddl = "value double, k int";
    }
    return functions.udaf(
        new AppxMedianBounded(input, finish, seed), Encoders.row(StructType.fromDDL(ddl)));
  }
}
