package equi7;

import java.io.Serializable;
import org.apache.spark.sql.api.java.UDF3;

/**
 * (lon, lat, tile size m) -> packed zone+tile key, or null when the
 * point is outside every zone (null, NaN and +-inf coordinates
 * included, see ZoneData.zoneCode):
 *   (zc << 28) | ((tx + 8192) << 14) | (ty + 8192)
 * with tx = floor(x / ts) in the zone's AEQD meters.
 *
 * The flagship one-call kernel: zone resolve (baked-in cell map +
 * exact parity for boundary cells, ZoneData) + Vincenty forward +
 * floor keying -- one scan, zero joins, one shuffle on a single long.
 * Registered as `equi7_zone_tile_key`.
 */
public class ZoneTileKey implements UDF3<Double, Double, Double, Long>, Serializable {
    // reused per-thread scratch: the flagship calls this once per row,
    // so a fresh double[2] per call is pure young-gen churn
    private static final ThreadLocal<double[]> SCRATCH =
            ThreadLocal.withInitial(() -> new double[2]);

    @Override
    public Long call(Double lon, Double lat, Double ts) {
        int zc = ZoneData.zoneCode(lon, lat);
        if (zc < 0) return null;
        double[] out = SCRATCH.get();
        Vincenty.forward(zc, lon, lat, out);
        return pack(zc, out[0], out[1], ts);
    }

    /** The packed key of AEQD point (x, y) in zone zc at tile size ts.
     *  Throws when a tile index leaves its 14-bit field (|t| >= 8192):
     *  a tile size too small for the zone's extent would otherwise wrap
     *  tx into the zone field and count the row in a wrong tile. */
    static long pack(int zc, double x, double y, double ts) {
        long tx = (long) Math.floor(x / ts);
        long ty = (long) Math.floor(y / ts);
        if (Math.abs(tx) >= 8192L || Math.abs(ty) >= 8192L) {
            throw new IllegalArgumentException(
                    "tile index (" + tx + ", " + ty + ") at tile size " + ts
                    + " m does not fit the packed tile key (|tx|, |ty| < 8192)");
        }
        return ((long) zc << 28) | ((tx + 8192L) << 14) | (ty + 8192L);
    }
}
