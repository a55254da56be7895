package equi7;

import java.io.Serializable;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF2;

/**
 * (lon, lat) -> struct(zc tinyint, x double, y double): the primary
 * zone (ZoneData.zoneCode) and the point's AEQD meters in that zone
 * (Vincenty.forward), or null when the point is outside every zone
 * (null, NaN and +-inf coordinates included). Row-level twin of
 * ZoneTileKey for operators that keep x/y. Registered as
 * `equi7_zone_xy`.
 */
public class ZoneXY implements UDF2<Double, Double, Row>, Serializable {
    private static final ThreadLocal<double[]> SCRATCH =
            ThreadLocal.withInitial(() -> new double[2]);

    @Override
    public Row call(Double lon, Double lat) {
        int zc = ZoneData.zoneCode(lon, lat);
        if (zc < 0) return null;
        double[] out = SCRATCH.get();
        Vincenty.forward(zc, lon, lat, out);
        return RowFactory.create((byte) zc, out[0], out[1]);
    }
}
