import os
import sys

# the benchmark's own tests import it as the `perfbench` package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__)))))
