"""spark-submit wrapper that times session set-up, then runs a job.

    spark-submit ... --py-files <zip> perfbench/drivers/ready.py <app.py> [app args...]

Starts the job session with ``submit_session()``, runs one trivial
action, prints ``{"perfbench_ready": <unix time>}`` on stdout, and then
runs ``<app.py>`` unchanged as ``__main__``; the app's own
``submit_session()`` call gets the already started session. The
benchmark takes ``setup_s`` as launch time to the ready mark, so set-up
is measured on every workload launch without an extra JVM start.
"""

import json
import runpy
import sys
import time

from transkribusdu_spark.session import submit_session

submit_session(app_name="perfbench").range(1).count()
print(json.dumps({"perfbench_ready": time.time()}), flush=True)
sys.argv = sys.argv[1:]
runpy.run_path(sys.argv[0], run_name="__main__")
