import os
import sys

# the benchmark's modules sit beside run.py, which puts them on sys.path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
