import sys
sys.path.insert(0, '/root/repo')
from openeo_odc_driver_spark.session import get_spark
spark = get_spark(cpus='8')
from openeo_odc_driver_spark.core import tiled as t
from openeo_odc_driver_spark.sources.synthetic import synthetic_cube
from openeo_odc_driver_spark.functions.geometry import FIXTURE_POLYGONS

cube = synthetic_cube(spark)
tc = t.to_tiled(cube, tile=4)

print("=== resample_spatial_tiled (expect: no Exchange beyond to_tiled's) ===")
r = t.resample_spatial_tiled(tc, 2, "mean")
plan = r.df._jdf.queryExecution().executedPlan().toString()
print("Exchanges:", plan.count("Exchange"), "| Generates:", plan.count("Generate"))

print("=== aggregate_spatial_tiled (expect: no Generate, one MapInPandas) ===")
z = t.aggregate_spatial_tiled(tc, FIXTURE_POLYGONS, "mean")
plan2 = z.df._jdf.queryExecution().executedPlan().toString()
print("Exchanges:", plan2.count("Exchange"), "| Generates:", plan2.count("Generate"), "| Unions:", plan2.count("Union"))

print("=== merge_cubes_tiled resolver join keyed by tile ===")
from openeo_odc_driver_spark.sources.synthetic import SPEC_C
m = t.merge_cubes_tiled(tc, t.to_tiled(synthetic_cube(spark, SPEC_C), tile=4),
                        overlap_resolver=lambda a, b: a + b)
plan3 = m.df._jdf.queryExecution().executedPlan().toString()
import re
joins = [l.strip()[:120] for l in plan3.splitlines() if "Join" in l]
print("\n".join(joins[:3]))
