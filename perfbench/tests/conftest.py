import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# the benchmark's modules, and the repository root for the engine package
sys.path[:0] = [HERE, os.path.dirname(HERE)]
