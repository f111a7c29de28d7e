import os
import sys

# The benchmark's modules import each other by bare name, as they do
# when perfbench/run.py runs them as scripts.
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
