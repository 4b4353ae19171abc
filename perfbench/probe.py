"""Set-up probe: start a session with the program's own factory and stop.

Run under spark-submit like the job surfaces.  Its timed region is empty
(``RESULT secs=0``), so the subprocess wall time is its set-up time, on
the same definition as a job's wall time minus its own ``secs``.
"""

import time

from medical_ocr_pipeline_spark.session import get_spark

if __name__ == "__main__":
    t0 = time.perf_counter()
    spark = get_spark(app="perfbench-probe")
    ready = time.perf_counter() - t0
    spark.stop()
    print(f"RESULT secs=0 get_spark_s={ready:.6f}", flush=True)
