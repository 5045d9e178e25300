import json, os, sys
root = sys.argv[1]
sys.path[:0] = [root, os.path.join(root, "tests")]
from stock_indicators_etl_spark.session import get_spark
from test_session import jvm_report
spark = get_spark(app_name="tests", master="local[4]", shuffle_partitions=4, long_lived=True)
r = jvm_report(spark)
print("REPORT " + json.dumps(r))
print("CACHE", os.listdir(os.environ["XDG_CACHE_HOME"]))
spark.stop()
